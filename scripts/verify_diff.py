#!/usr/bin/env python3
"""Compare two `graft.Verify` output dirs.

Exits non-zero unless `queries.json` and `oracle_sql.json` are
byte-identical and every result parquet has an equal schema and equal
rows after sorting. Use it to show a refactor leaves every gate's output
unchanged: run Verify at the parent and at the change into two dirs,
then compare them with this script.

Usage: verify_diff.py <outA> <outB>
"""
import math
import os
import sys

import pyarrow.parquet as pq


def canon(v):
    """Sortable, NaN-safe representation of one cell."""
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, "nan" if math.isnan(v) else repr(v))
    return (2, type(v).__name__ + ":" + repr(v))


def results(out):
    return sorted(d for d in os.listdir(out)
                  if os.path.isdir(os.path.join(out, d)))


def rows(path):
    t = pq.read_table(path)
    return t.schema, sorted(tuple(canon(v) for v in r.values())
                            for r in t.to_pylist())


def main(a, b):
    problems = []
    for f in ("queries.json", "oracle_sql.json"):
        with open(os.path.join(a, f), "rb") as fa, open(os.path.join(b, f), "rb") as fb:
            if fa.read() != fb.read():
                problems.append(f"{f}: differs")
    ra, rb = results(a), results(b)
    for q in sorted(set(ra) ^ set(rb)):
        problems.append(f"{q}: result only in {a if q in ra else b}")
    equal = 0
    for q in sorted(set(ra) & set(rb)):
        sa, xa = rows(os.path.join(a, q))
        sb, xb = rows(os.path.join(b, q))
        if not sa.equals(sb, check_metadata=False):
            problems.append(f"{q}: schema {sa} != {sb}")
        elif xa != xb:
            problems.append(f"{q}: rows differ ({len(xa)} vs {len(xb)})")
        else:
            equal += 1
    for p in problems:
        print("DIFF", p)
    print(f"{equal}/{len(set(ra) | set(rb))} results equal, "
          f"{len(problems)} difference(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
