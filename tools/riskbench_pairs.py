#!/usr/bin/env python3
"""Parent/change comparison on the reference-scale VaR benchmark (riskbench).

    python3 tools/riskbench_pairs.py --work DIR [--parent HEAD] [--change TREE-ISH]
        [--pairs 10] [--workloads var-batch,var-serve] [--first-seed 31]

Run from the root of a checkout. The parent is the commit --parent names;
the change is --change, or else what is staged in the index (git
write-tree), so `git add` the change first. Each side is exported with
`git archive` into DIR/parent and DIR/change; their riskbench builds
(.bench_build) are kept there and reused while their sources are unchanged.

One warm-up run per side builds the jar and the fixture and is not counted.
Then, for each of N seeds, every workload runs once on each side, one JVM
at a time, the side that goes first alternating from pair to pair. Every
run is `riskbench/run.py --trace 0` with BENCHMARK.json's run_seconds.

For each workload and end-to-end metric of BENCHMARK.json it prints each
side's median [q1, q3] (statistics.quantiles, n=4, inclusive), the ratio of
the medians (change / parent) and in how many pairs the change was better
(ties count for neither). It also says whether each pair's result
fingerprints matched. Raw results go to DIR/pairs.jsonl. Exits 1 if any run
failed, was `correct: false` or had failed ops. A run whose JVM log
(<side>/.bench_work/logs/<workload>-seed<N>-trace0.log) says the JVM refused
the build's class-data archive counts as failed: the JVM then loads every
class from the jar, which inflates setup_s. That happens when a .bench_build
was copied from another directory, since the archive records the jar's
absolute path.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEEP = {".bench_build", ".bench_work"}
ARCHIVE_REFUSED = "Unable to use shared archive"


def git(*args, **kw):
    return subprocess.run(["git", *args], cwd=ROOT, check=True, capture_output=True, **kw).stdout


def export(tree, dest):
    """The files of `tree` in `dest`, replacing an earlier export's files but
    keeping its riskbench build and work directories."""
    os.makedirs(dest, exist_ok=True)
    for name in set(os.listdir(dest)) - KEEP:
        path = os.path.join(dest, name)
        shutil.rmtree(path) if os.path.isdir(path) and not os.path.islink(path) else os.remove(path)
    archive = git("archive", "--format=tar", tree)
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run(side_dir, workload, seed, seconds):
    """One benchmark run: (result JSON or None, fingerprint, why it failed).
    The reason is "" for a run that completed with a usable class-data archive;
    the result's own `correct`/`failed` fields are the caller's to check."""
    p = subprocess.run([sys.executable, "riskbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=side_dir, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, None, p.stderr[-3000:] or f"run.py exited {p.returncode}"
    fp = next((ln[len("fingerprint "):] for ln in lines if ln.startswith("fingerprint ")), None)
    log = os.path.join(side_dir, ".bench_work", "logs", f"{workload}-seed{seed}-trace0.log")
    with open(log, errors="replace") as fh:
        refused = ARCHIVE_REFUSED in fh.read()
    why = f"the JVM refused the class-data archive ({ARCHIVE_REFUSED!r} in {log})" if refused else ""
    return json.loads(lines[-1]), fp, why


def quartiles(vs):
    if len(vs) == 1:
        return vs[0], vs[0], vs[0]
    return tuple(statistics.quantiles(vs, n=4, method="inclusive"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--work", required=True, help="directory for the two exports and the log")
    ap.add_argument("--parent", default="HEAD", help="parent commit (default HEAD)")
    ap.add_argument("--change", help="change tree-ish (default: the index, via git write-tree)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--first-seed", type=int, default=31)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    trees = {"parent": git("rev-parse", a.parent + "^{tree}", text=True).strip(),
             "change": git("rev-parse", a.change + "^{tree}", text=True).strip() if a.change
             else git("write-tree", text=True).strip()}
    if trees["parent"] == trees["change"]:
        sys.exit("riskbench_pairs: parent and change are the same tree")
    work = os.path.abspath(a.work)
    dirs = {side: os.path.join(work, side) for side in trees}
    for side, tree in trees.items():
        export(tree, dirs[side])
        print(f"# {side}: tree {tree[:12]} in {dirs[side]}", flush=True)

    ok = True
    for side in trees:  # builds the jar and the fixture; not counted
        res, _, err = run(dirs[side], workloads[0], 0, 1)
        if err:
            sys.exit(f"riskbench_pairs: {side} warm-up ({workloads[0]} seed 0) failed: {err}")
        print(f"# {side} warm-up done", flush=True)

    values = {(w, side): {m["name"]: [] for m in spec["end_to_end"]}
              for w in workloads for side in trees}
    wins = {(w, m["name"]): 0 for w in workloads for m in spec["end_to_end"]}
    same_fp = {w: 0 for w in workloads}
    with open(os.path.join(work, "pairs.jsonl"), "a") as log:
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for w in workloads:
                got, fps = {}, {}
                for side in order:
                    res, fp, err = run(dirs[side], w, seed, spec["run_seconds"])
                    log.write(json.dumps({"workload": w, "seed": seed, "side": side,
                                          "tree": trees[side], "fingerprint": fp,
                                          "result": res, "failure": err}) + "\n")
                    log.flush()
                    if err or not res["correct"] or res["failed"]:
                        print(f"{w} seed {seed} {side}: run failed or incorrect: "
                              f"{err or res}", flush=True)
                        ok = False
                        continue
                    got[side], fps[side] = res["metrics"], fp
                if len(got) < 2:
                    continue
                same_fp[w] += fps["parent"] == fps["change"]
                for m in spec["end_to_end"]:
                    n = m["name"]
                    p, c = got["parent"][n]["value"], got["change"][n]["value"]
                    values[(w, "parent")][n].append(p)
                    values[(w, "change")][n].append(c)
                    wins[(w, n)] += (c < p) if m["better"] == "lower" else (c > p)
                print(f"{w} seed {seed} ({order[0]} first): " + " ".join(
                    f"{m['name']}={got['parent'][m['name']]['value']:.4g}->"
                    f"{got['change'][m['name']]['value']:.4g}" for m in spec["end_to_end"]),
                    flush=True)

    for w in workloads:
        n_pairs = len(values[(w, "parent")][spec["end_to_end"][0]["name"]])
        print(f"\n{w}: {n_pairs} pairs, fingerprints equal in {same_fp[w]}")
        print(f"  {'metric':<18}{'parent median [q1, q3]':>34}{'change median [q1, q3]':>34}"
              f"{'ratio':>8}{'wins':>7}")
        for m in spec["end_to_end"]:
            n = m["name"]
            if not n_pairs:
                continue
            cells = []
            for side in trees:
                q1, med, q3 = quartiles(values[(w, side)][n])
                cells.append(f"{med:.4g} [{q1:.4g}, {q3:.4g}]")
            pm = statistics.median(values[(w, "parent")][n])
            cm = statistics.median(values[(w, "change")][n])
            ratio = f"{cm / pm:.3f}" if pm else "-"
            print(f"  {n:<18}{cells[0]:>34}{cells[1]:>34}{ratio:>8}"
                  f"{wins[(w, n)]:>4}/{n_pairs}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
