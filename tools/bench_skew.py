"""Hot-key skew micro-bench: LWW reduction strategies on a heavily
skewed feed (bounded-zipf s=2.0 → the hottest doc receives a large
share of all events), demonstrating why the engine's reduction is an
aggregate.

Strategies:
  window  — row_number() over (partition by key order by lsn desc):
            ships EVERY event of the hot key to one reducer and sorts
            it there (the naive plan the north rule warns about).
  plain   — groupBy(key).agg(max_by(payload, lsn)): partial (map-side)
            aggregation collapses each key to ≤1 row per upstream
            partition before the shuffle — skew never reaches a single
            reducer.
  plain_prepartitioned — the same reduce over a feed already
            hash-partitioned by key: the feed's own exchange satisfies
            the grouping, so the partial phase runs after it and every
            event of the hot key reaches one task.

Usage: python tools/bench_skew.py [events] [zipf_s]
Prints one JSON line: seconds per strategy and, in ``exchanges``, the
number of Exchange nodes in each strategy's executed plan.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from horizon_etl_spark.cdc.generator import change_feed
from horizon_etl_spark.cdc.lww import lww_reduce
from horizon_etl_spark.session import build_session


def window_lww(df, key="doc_id", order="lsn"):
    w = Window.partitionBy(key).orderBy(F.desc(order))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def exchange_count(df) -> int:
    """Exchange nodes in the executed (pre-adaptive) plan of ``df``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = (line.lstrip(" :+-*()0123456789") for line in plan.splitlines())
    return sum(1 for n in nodes if n.startswith("Exchange"))


def main():
    events = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    zipf_s = float(sys.argv[2]) if len(sys.argv) > 2 else 2.0
    spark = build_session("bench-skew", master="local[8]", shuffle_partitions=16)
    scratch = os.path.join(
        "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir(), "skew_feed"
    )
    feed = change_feed(
        spark, events, num_keys=1000, seed=42, zipf_s=zipf_s, num_batches=1,
        max_len=256, partitions=64,
    ).drop("batch", "ts")
    feed.write.mode("overwrite").parquet(scratch)
    df = spark.read.parquet(scratch)

    hot = (
        df.groupBy("doc_id").count().orderBy(F.desc("count")).limit(1).collect()[0]
    )
    out = {
        "events": df.count(),
        "zipf_s": zipf_s,
        "hottest_key_events": hot["count"],
        "hottest_share": round(hot["count"] / events, 3),
        "strategies": {},
        "exchanges": {},
    }

    # pre-partitioned variant: repartition by key first, which lets
    # Catalyst skip the pre-shuffle partial aggregation
    pre = df.repartition(16, "doc_id")

    for name, fn, src in [
        ("window", window_lww, df),
        ("plain_maxby", lww_reduce, df),
        ("plain_prepartitioned", lww_reduce, pre),
    ]:
        out["exchanges"][name] = exchange_count(fn(src))
        fn(src).write.mode("overwrite").parquet(scratch + "_out")  # warm
        t0 = time.time()
        fn(src).write.mode("overwrite").parquet(scratch + "_out")
        out["strategies"][name] = round(time.time() - t0, 2)

    shutil.rmtree(scratch, ignore_errors=True)
    shutil.rmtree(scratch + "_out", ignore_errors=True)
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
