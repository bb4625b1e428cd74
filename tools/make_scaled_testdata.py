#!/usr/bin/env python3
"""Generate an N-times-replicated copy of the sf0.1 testdata for LOCAL
scale-probing (perf only — no oracle applies; the driver's correctness gate
stays on the real /root/testdata scales).

Replication keeps the engine's derivations diverse: lineitem keys are
shifted per replica (txn ids/states/cities keep their ranges), documents get
a per-replica token injected (cross-replica docs are still near-dups of
their base — deliberately, so dedup workloads grow superlinearly like a real
crawl would), embeddings get a small per-replica perturbation (replicas are
genuine near-neighbors).

Usage: python3 tools/make_scaled_testdata.py [N] [outdir]
Then:  SPARK_GRAFT_SF_DIR=<outdir> sbt 'runMain graft.Probe time <queries...>'
"""
import os
import shutil
import sys
import time

import duckdb

N = int(sys.argv[1]) if len(sys.argv) > 1 else 10
OUT = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/sfx{N}"
SRC = "/root/testdata/sf0.1"

# DuckDB COPY TO does not create parent directories
os.makedirs(OUT, exist_ok=True)

t0 = time.time()
con = duckdb.connect()
con.sql(f"""
COPY (
  SELECT l_orderkey + i * 100000000 AS l_orderkey,
         l_partkey  + i * 1000000  AS l_partkey,
         l_suppkey  + i * 100000   AS l_suppkey,
         l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
         l_returnflag, l_linestatus, l_shipdate
  FROM read_parquet('{SRC}/lineitem.parquet'), range({N}) t(i)
) TO '{OUT}/lineitem.parquet' (FORMAT parquet)
""")
con.sql(f"""
COPY (
  SELECT doc_id + i * 100000000 AS doc_id,
         CASE WHEN i = 0 THEN text ELSE 'rep' || i || ' ' || text END AS text,
         lang, source, n_chars
  FROM read_parquet('{SRC}/documents.parquet'), range({N}) t(i)
) TO '{OUT}/documents.parquet' (FORMAT parquet)
""")
con.sql(f"""
COPY (
  SELECT vec_id + i * 100000000 AS vec_id,
         list_transform(embedding, x -> CAST(x + i * 0.01 AS FLOAT)) AS embedding,
         label
  FROM read_parquet('{SRC}/embeddings.parquet'), range({N}) t(i)
) TO '{OUT}/embeddings.parquet' (FORMAT parquet)
""")
# events: new user universe per replica (same time window — more CONCURRENT
# activity, the way a growing product scales) so funnel/retention/compaction
# key counts grow with the data; TIMESTAMP_NS cast keeps the nanos physical
# type Spark's nanosAsLong path expects
# (pyarrow, not duckdb: duckdb's parquet writer downgrades TIMESTAMP_NS
# to microseconds; pyarrow round-trips the nanos unit)
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
_ev = pq.read_table(f"{SRC}/events.parquet")
_reps = [pa.table({
    "event_id": pc.add(_ev["event_id"], i * 100000000),
    "ts": _ev["ts"],
    "user_id": pc.add(_ev["user_id"], i * 100000),
    "event_type": _ev["event_type"],
    "value": _ev["value"],
    "props": _ev["props"]}) for i in range(N)]
pq.write_table(pa.concat_tables(_reps), f"{OUT}/events.parquet")
# orders: new order/customer keys per replica, dates unchanged (denser
# calendar, same horizon — gap-fill grids stay calendar-bounded)
con.sql(f"""
COPY (
  SELECT o_orderkey + i * 100000000 AS o_orderkey,
         o_custkey + i * 1000000 AS o_custkey,
         o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
  FROM read_parquet('{SRC}/orders.parquet'), range({N}) t(i)
) TO '{OUT}/orders.parquet' (FORMAT parquet)
""")
for t in ["region", "nation", "customer", "supplier", "part"]:
    shutil.copy(f"{SRC}/{t}.parquet", f"{OUT}/{t}.parquet")
print(f"wrote x{N} testdata to {OUT} in {time.time() - t0:.1f}s")
for t in ["lineitem", "documents", "embeddings", "events", "orders"]:
    n = con.sql(f"select count(*) from '{OUT}/{t}.parquet'").fetchone()[0]
    print(f"  {t}: {n}")
