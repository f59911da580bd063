#!/usr/bin/env python3
"""Which src/main definitions does no contract root reach?

A name-based, conservative reachability report. The contract roots are
`SparkEntry.registry` and `SparkEntry.entry` (the 228 registry queries and
their DuckDB oracles), the three mains (`graft.Bench`, `graft.Verify`,
`graft.Harness`), every file under `riskbench/src`, and the
`GraftExtensions` SQL registrations. KEEP below lists the definitions that
stay although no root reaches them: each is the reference a spec compares
a live path against, or a surface kept on purpose. KEEP entries are roots
too, so their helpers count as reached.

Units. Each member of a top-level object (def, val, var, type, class,
object, trait) is one unit; a top-level class or trait, with its companion
object, is one unit. A unit's body runs from its line to the next member
of the same object.

Reach. Comments are dropped; string literals are kept, so a name inside SQL
or an interpolation counts as a use. `Obj.name` (also through an import
alias such as `TextFunctions => T`) reaches that member. A bare `name`
reaches the member of that name in the enclosing object and in every object
the file imports members of (`import X._`, `import X.{name}`), and a
top-level class of that name. `expr.name` on anything else (a value, a call
result) reaches no object member: that is a method of some instance, and
class members ride with their class. `implicit` members are roots. Two
overloads of one name are one unit. Over-approximating is the safe side:
a name that appears in reached code is never reported.

Prints each unreached unit outside KEEP as `file:line  Obj.name  (N lines)`
(N counts the scaladoc above the definition), then how many definitions
KEEP holds and any KEEP pattern that matches nothing, and exits 0. Usage,
from the repo root:

    python3 tools/contract_reach.py
"""
import fnmatch
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main", "scala")
RISKBENCH = os.path.join(ROOT, "riskbench", "src")

# Roots: `Obj.member`, or `Obj` for every member of a top-level object.
ROOTS = [
    "SparkEntry.registry", "SparkEntry.entry",
    "Bench", "Verify", "Harness",
    "GraftExtensions",
]

# Kept although no root reaches them (fnmatch patterns over `Obj.member`).
KEEP = [
    # declarative twins that specs check a native or fused path against
    "*.*Composable",
    "Volatility.rollingStats",           # reference for rollingStatsChunked
    "Probe.fitRidge",                    # reference for fitRidge2
    "TextFunctions.winnowFingerprints",  # reference for the WinnowFingerprint expression
    "Html.extractContentInline",         # reference for extractContent
    "Bpe.trainMergesDistributed",        # reference for trainMerges' ladder
    "Pq.trainCodebook",                  # the trained codebook of PqSpec's recall checks
    # the VaR-facing streaming entry points (notebook 05)
    "StreamingMarket.windowedIndicatorStats", "StreamingMarket.runningLogReturns",
    "StreamingMarket.readPriceStream", "StreamingMarket.enrichWithPortfolio",
    "StreamingMarket.enrichWithIndicators", "StreamingMarket.streamingVar",
    # notebook 02's model registry, and the census of the reference UDFs
    "RiskModel.*", "functions.*",
]

IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
MODS = (r"(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|override\s+|"
        r"implicit\s+|lazy\s+|sealed\s+|abstract\s+|case\s+|"
        r"@\w+(?:\([^)]*\))?\s+)*")
TOP = re.compile(r"^" + MODS + r"(class|object|trait)\s+(" + IDENT + ")")
MEMBER = re.compile(r"^  " + MODS + r"(def|val|var|type|class|object|trait)\s+("
                    + IDENT + ")")


def strip_comments(src):
    """Blank out // and (nested) /* */ comments, keep strings and newlines."""
    out, i, n = [], 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(src[i:j]); i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1]); i = j + 1
        elif c == "'" and re.match(r"'(?:\\.|[^\\'\n])'", src[i:i + 4]):
            j = src.index("'", i + 2 if src[i + 1] == "\\" else i + 1) + 1
            out.append(" " * (j - i)); i = j
        elif src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i)); i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth += 1; j += 2
                elif src.startswith("*/", j):
                    depth -= 1; j += 2
                else:
                    j += 1
            out.append(re.sub(r"[^\n]", " ", src[i:j])); i = j
        else:
            out.append(c); i += 1
    return "".join(out)


def uses(code):
    """(qualifier or None, name, dotted) for every identifier in `code`."""
    for m in re.finditer(IDENT, code):
        k = m.start() - 1
        while k >= 0 and code[k] in " \t\n":
            k -= 1
        if k < 0 or code[k] != ".":
            yield None, m.group(), False
            continue
        k -= 1
        while k >= 0 and code[k] in " \t\n":
            k -= 1
        e = k + 1
        while k >= 0 and (code[k].isalnum() or code[k] == "_"):
            k -= 1
        yield (code[k + 1:e] or None), m.group(), True


class Unit:
    def __init__(self, path, obj, name, start, doc_start, end, implicit):
        self.path, self.obj, self.name = path, obj, name
        self.start, self.doc_start, self.end = start, doc_start, end
        self.implicit = implicit

    @property
    def key(self):
        return f"{self.obj}.{self.name}" if self.obj else self.name


def doc_start(lines, i):
    """First line of the scaladoc/annotation block right above line i."""
    j = i
    while j > 0:
        prev = lines[j - 1].strip()
        if prev.startswith(("/**", "*", "*/", "//", "@")) or prev.endswith("*/"):
            j -= 1
        else:
            break
    return j


def parse(path):
    """Units of one file, plus its import aliases and member imports."""
    raw = open(path, encoding="utf-8").read()
    lines = strip_comments(raw).split("\n")
    src_lines = raw.split("\n")
    units, tops = [], []
    for i, line in enumerate(lines):
        m = TOP.match(line)
        if m:
            tops.append((i, m.group(1), m.group(2)))
    classes = {name for _, kind, name in tops if kind != "object"}
    for t, (i, kind, name) in enumerate(tops):
        end = tops[t + 1][0] if t + 1 < len(tops) else len(lines)
        if kind != "object" or name in classes:
            units.append(Unit(path, None, name, i, doc_start(src_lines, i), end, False))
            continue
        starts = []
        for k in range(i + 1, end):
            m = MEMBER.match(lines[k])
            if m:
                starts.append((k, m.group(2), "implicit " in m.group(0)))
            elif lines[k].startswith("}"):
                end = k
                break
        for s, (k, mname, impl) in enumerate(starts):
            stop = starts[s + 1][0] if s + 1 < len(starts) else end
            stop = doc_start(src_lines, stop)
            while stop > k + 1 and not lines[stop - 1].strip():
                stop -= 1
            units.append(Unit(path, name, mname, k, doc_start(src_lines, k), stop, impl))
    code = "\n".join(lines)
    aliases, member_imports = {}, []
    for m in re.finditer(r"^\s*import\s+([\w.]+)\.(\{[^}]*\}|\w+|_)", code, re.M):
        prefix, sel = m.group(1), m.group(2)
        last = prefix.split(".")[-1]
        if sel == "_":
            member_imports.append((last, None))
        elif sel.startswith("{"):
            for part in sel[1:-1].split(","):
                part = part.strip()
                if "=>" in part:
                    a, b = (x.strip() for x in part.split("=>"))
                    aliases[b] = a
                    member_imports.append((last, (a, b)))
                elif part == "_":
                    member_imports.append((last, None))
                elif part:
                    member_imports.append((last, (part, part)))
        else:
            member_imports.append((last, (sel, sel)))
    return units, lines, aliases, member_imports


def scala_files(top):
    for dirpath, _, names in os.walk(top):
        for f in sorted(names):
            if f.endswith(".scala"):
                yield os.path.join(dirpath, f)


def main():
    files = {p: parse(p) for p in scala_files(MAIN)}
    units = [u for us, _, _, _ in files.values() for u in us]
    by_key, containers, classes = {}, set(), set()
    for u in units:
        by_key.setdefault(u.key, []).append(u)
        (containers.add(u.obj) if u.obj else classes.add(u.name))

    def targets(path, obj, lines_, aliases, member_imports, a, b):
        """Units that the source range [a, b) of `path` reaches."""
        code = "\n".join(lines_[a:b])
        for qual, name, dotted in uses(code):
            if dotted:
                q = aliases.get(qual, qual)
                if q in containers:
                    yield from by_key.get(f"{q}.{name}", [])
                elif q in classes:
                    yield from by_key.get(q, [])
                continue
            yield from by_key.get(name, [])
            if obj:
                yield from by_key.get(f"{obj}.{name}", [])
            for o, sel in member_imports:
                if sel is None:
                    yield from by_key.get(f"{o}.{name}", [])
                elif sel[1] == name:
                    yield from by_key.get(f"{o}.{sel[0]}", [])
            if name in aliases:
                yield from by_key.get(aliases[name], [])

    def rooted(u):
        return any(u.key == r or u.obj == r for r in ROOTS) or u.implicit

    def kept(u):
        return any(fnmatch.fnmatchcase(u.key, k) for k in KEEP)

    reached, work = set(), []
    for u in units:
        if rooted(u) or kept(u):
            reached.add(id(u)); work.append(u)
    seeds = []
    for p in scala_files(RISKBENCH):
        _, lines_, aliases, imports = parse(p)
        seeds.extend(targets(p, None, lines_, aliases, imports, 0, len(lines_)))
    for t in seeds:
        if id(t) not in reached:
            reached.add(id(t)); work.append(t)
    while work:
        u = work.pop()
        _, lines_, aliases, imports = files[u.path]
        for t in targets(u.path, u.obj, lines_, aliases, imports, u.start, u.end):
            for same in by_key[t.key]:  # overloads are one unit
                if id(same) not in reached:
                    reached.add(id(same)); work.append(same)

    def row(u):
        rel = os.path.relpath(u.path, ROOT)
        return f"  {rel}:{u.start + 1}  {u.key}  ({u.end - u.doc_start} lines)"

    dead = [u for u in units if id(u) not in reached and not kept(u)]
    print(f"unreached outside KEEP: {len(dead)} definitions, "
          f"{sum(u.end - u.doc_start for u in dead)} lines")
    for u in dead:
        print(row(u))
    keep_units = [u for u in units if kept(u)]
    stale = [k for k in KEEP if not any(fnmatch.fnmatchcase(u.key, k) for u in units)]
    print(f"KEEP: {len(KEEP)} entries, {len(keep_units)} definitions"
          + (f"; matching nothing: {', '.join(stale)}" if stale else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
