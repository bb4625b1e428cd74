#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories query by query.

For each query directory in either tree it compares the parquet schema
(field names, types, nullability) and the sorted, normalized rows — the
same `frame_key` the strict oracle checker uses — and it checks that the
two `oracle_sql.json` files are byte-identical. Use it to show that a
change leaves every declared query's result unchanged:

    sbt 'runMain graft.Verify <sfDir> <outA>'   # before the change
    sbt 'runMain graft.Verify <sfDir> <outB>'   # after it
    python3 tools/verify_diff.py <outA> <outB> [query ...]

Exit 0 iff every compared query is identical and the oracle files match.
"""
import sys
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))
from driver_check import frame_key  # noqa: E402


def schema_of(d):
    s = pq.read_table(d).schema
    return [(f.name, str(f.type), f.nullable) for f in s]


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a, b = Path(sys.argv[1]), Path(sys.argv[2])
    only = set(sys.argv[3:])
    n_same = n_diff = 0
    oa, ob = a / "oracle_sql.json", b / "oracle_sql.json"
    oracle_same = oa.is_file() and ob.is_file() and oa.read_bytes() == ob.read_bytes()
    if not oracle_same:
        print("DIFF     oracle_sql.json")
        n_diff += 1
    names = sorted({p.name for d in (a, b) for p in d.iterdir() if p.is_dir()})
    n_queries = 0
    for name in names:
        if only and name not in only:
            continue
        n_queries += 1
        da, db = a / name, b / name
        if not (da.is_dir() and db.is_dir()):
            print(f"MISSING  {name}: only in {a if da.is_dir() else b}")
            n_diff += 1
            continue
        sa, sb = schema_of(da), schema_of(db)
        if sa != sb:
            print(f"SCHEMA   {name}: {sa} != {sb}")
            n_diff += 1
            continue
        ka, kb = frame_key(pd.read_parquet(da)), frame_key(pd.read_parquet(db))
        if ka != kb:
            print(f"ROWS     {name}: {len(ka[1])} vs {len(kb[1])} rows")
            n_diff += 1
            continue
        n_same += 1
    print(f"\n{n_same}/{n_queries} queries identical, "
          f"oracle_sql.json {'identical' if oracle_same else 'DIFFERS'}")
    sys.exit(1 if n_diff else 0)


if __name__ == "__main__":
    main()
