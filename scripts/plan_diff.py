#!/usr/bin/env python3
"""Plan-identity check over two `graft.ExplainDump` output directories.

Usage: python3 scripts/plan_diff.py <dirA> <dirB>

Pairs the `<entry>_<tag>.txt` files of the two directories by entry name
(each directory's common `_<tag>` suffix is stripped, so dumps taken with
different tags compare), normalises what differs between two runs of the
same plan, and prints every entry whose plans still differ, with a short
unified diff. Exits 1 when any entry differs or is missing on one side,
0 when every plan is the same.

Normalised:
  - expression ids (`#123`, `#123L`), lambda variable names (`x_123`)
    and the door's exprId-derived column names (`v123`, `c123`, `o123`,
    `__fo123`), renumbered in order of first appearance, so a shifted id
    counter compares equal but a changed binding does not;
  - plan and subquery ids (`plan_id=7`, `subquery#12`, `[id=#3]`,
    `ReusedSubquery`, `Reuses operator id`), RDD ids (`MapPartitionsRDD[12]`),
    random temp-dir suffixes;
  - JVM object identities (`@1a2b3c`) and lambda class names
    (`$$Lambda$123/0x...`).
"""
import difflib
import os
import re
import sys

ID_PATTERNS = [
    # door variables derived from expression ids
    (re.compile(r"\b(v|c|o|__fo|__sqspan_v|__sqspan_c)(\d+)\b"), "var"),
    # lambda variables, named from a JVM-wide counter (`lambda x_12`)
    (re.compile(r"(?<=lambda )([a-z]+_)(\d+)\b"), "var"),
    # expression ids, also those with a type suffix (`#12L` of a long)
    (re.compile(r"#(\d+)(?=L?\b)"), "id"),
]
FIXED = [
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"subquery#\d+"), "subquery#N"),
    (re.compile(r"\[id=#\d+\]"), "[id=#N]"),
    (re.compile(r"(RDD|Rdd)\[\d+\]"), r"\1[N]"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@OBJ"),
    (re.compile(r"\$\$Lambda\$?[\w/$.]*"), "$$Lambda"),
    (re.compile(r"0x[0-9a-f]+"), "0xADDR"),
    # random temp-dir suffixes (`/tmp/graft_mh_index_1703.../keys`)
    (re.compile(r"(?<=_)\d{8,}(?=[/\]])"), "N"),
]


def normalise(text: str) -> str:
    for pat, rep in FIXED:
        text = pat.sub(rep, text)
    seen = {}

    def renumber(kind):
        def sub(m):
            key = (kind, m.group(0))
            if key not in seen:
                seen[key] = len([k for k in seen if k[0] == kind])
            n = seen[key]
            return f"{m.group(1)}<{n}>" if kind == "var" else f"#<{n}>"
        return sub

    for pat, kind in ID_PATTERNS:
        text = pat.sub(renumber(kind), text)
    return text


def entries(d: str) -> dict:
    files = sorted(f for f in os.listdir(d) if f.endswith(".txt"))
    stems = [f[:-4] for f in files]
    tags = {s.rsplit("_", 1)[-1] for s in stems if "_" in s}
    strip = len(tags) == 1 and all("_" in s for s in stems)
    out = {}
    for f, s in zip(files, stems):
        name = s.rsplit("_", 1)[0] if strip else s
        out[name] = os.path.join(d, f)
    return out


def main(argv) -> int:
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = entries(argv[1]), entries(argv[2])
    bad = 0
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            print(f"MISSING {name}: only in {'A' if name in a else 'B'}")
            bad += 1
            continue
        ta = normalise(open(a[name], encoding="utf-8").read())
        tb = normalise(open(b[name], encoding="utf-8").read())
        if ta != tb:
            bad += 1
            print(f"DIFF {name}")
            diff = difflib.unified_diff(ta.splitlines(), tb.splitlines(),
                                        "A/" + name, "B/" + name, lineterm="", n=1)
            for i, line in enumerate(diff):
                if i >= 40:
                    print("    ...")
                    break
                print("    " + line)
    print(f"{len(set(a) | set(b))} entries, {bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
