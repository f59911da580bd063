#!/usr/bin/env python3
"""Steadiness check: runs the benchmark of one checkout repeatedly.

    python3 riskbench/steady.py --runs 10 [--workloads var-batch,var-serve]
                                [--first-seed 1] [--repeat-seed]

Each run uses the next seed. For every workload it prints each end-to-end
metric's median, quartiles (statistics.quantiles, n=4) and spread, the
quartile distance as a share of the median, against the metric's bound in
BENCHMARK.json. A spread above its bound fails (setup_s is shown but, as
the bound applies to its median, not judged); one above a third of it is
flagged as thin margin. --repeat-seed runs the first seed once more and
checks that its result fingerprint repeats. Exits 1 on any failure.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(spec, workload, seed):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                        "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        return None, None
    fp = next((ln[len("fingerprint "):] for ln in lines if ln.startswith("fingerprint ")), None)
    return json.loads(lines[-1]), fp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--repeat-seed", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    ok = True
    summary = {}
    for w in workloads:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        fps = []
        for i in range(a.runs):
            seed = a.first_seed + i
            res, fp = run(spec, w, seed)
            if res is None or not res["correct"] or res["failed"]:
                print(f"{w} seed {seed}: run failed or incorrect: {res}")
                ok = False
                continue
            fps.append(fp)
            for name in values:
                values[name].append(res["metrics"][name]["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{n}={res['metrics'][n]['value']:.4g}" for n in values), flush=True)
        if a.repeat_seed and fps:
            _, again = run(spec, w, a.first_seed)
            same = again == fps[0]
            ok &= same
            print(f"{w} fingerprint at seed {a.first_seed} {'repeats' if same else 'DIFFERS'}: "
                  f"{fps[0]} | {again}")
        summary[w] = {}
        print(f"\n{w}: {len(fps)} runs")
        print(f"  {'metric':<20}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
        for m in spec["end_to_end"]:
            vs = values[m["name"]]
            if len(vs) < 2:
                ok = False
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            judged = m["name"] != "setup_s"
            verdict = ("fail" if spread > m["bound"] else
                       "thin" if spread > m["bound"] / 3 else "ok") if judged else "info"
            ok &= verdict != "fail"
            summary[w][m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                                     "bound": m["bound"], "verdict": verdict}
            print(f"  {m['name']:<20}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}"
                  f"{m['bound']:>8.2f}  {verdict}")
        print()
    print(json.dumps(summary))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
