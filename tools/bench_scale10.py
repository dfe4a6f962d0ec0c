"""10× scale-evidence run (round-4 item: every prior number was
sf0.1-sized, where bucket-count and compaction effects are sub-noise).

Two sections, printed as ONE JSON line and meant for BENCH.md:

* ``cdc10x`` — the exact sf0.1 CDC protocol (same generator, same
  512-token payloads, same 4-batch replay) at 10× events.  The number
  that matters is events_per_sec vs the sf0.1 run: flat-or-better means
  the apply path's costs are O(data) with no superlinear term hiding in
  the fixed-overhead shadow.

* ``rebucket10x`` — the advisory→rebucket→compact policy loop at a size
  where a bucket EXCEEDS one task's comfortable write: ~1M keys of
  ~1 KB rows in 4 buckets ≈ 250 MB per bucket file, so pre-rebucket
  merges funnel the copy-on-write rewrite through 4 writer tasks.
  After the advisory fires and rebucket() spreads the table across the
  recommended layout, the same-size next batch must merge measurably
  faster — the before/after delta the sf0.1 section could not show.

Run it ALONE (same rule as tools/bench_scaling.py): concurrent Spark
jobs contaminate the bandwidth-dense phases.

Usage: python tools/bench_scale10.py [--out BENCH_scale10.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None, help="also write the JSON line here")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--events", type=int, default=10_000_000)
    ap.add_argument("--skip-cdc", action="store_true", help="rerun only the rebucket section")
    ap.add_argument(
        "--only-graph",
        action="store_true",
        help="run only the graph10x section, merging prior sections from --out",
    )
    ap.add_argument(
        "--only-cluster",
        action="store_true",
        help="run only the cluster10x section, merging prior sections from --out",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    import bench
    from horizon_etl_spark.cdc import schema as S
    from horizon_etl_spark.cdc.generator import change_feed
    from horizon_etl_spark.cdc.lww import lww_reduce
    from horizon_etl_spark.session import build_session
    from horizon_etl_spark.tables.lake import LakeTable

    spark = build_session(
        "horizon-etl-bench-scale10",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus * 2,
    )

    def run_graph10(sf_dir: str = "/root/testdata/sf0.1", copies: int = 10) -> dict:
        """Connected components at 10× the sf0.1 edge count: the merged
        relationship graph replicated as ``copies`` DISJOINT prefixed
        copies (``g<i>:<node>``), so the exact invariant
        ``components(10×) == copies × components(1×)`` is checkable —
        a correctness witness the raw timing alone wouldn't give.  The
        scale signal is cc_sec growth vs the 1× run: large-star/small-
        star is O(rounds × shuffle(edges)) with rounds bounded by the
        log of the LARGEST component, which replication leaves
        unchanged — so 10× edges should cost ~10× shuffle, not more."""
        from horizon_etl_spark.queries.graph import (
            connected_components,
            relationship_edges,
        )

        base = relationship_edges(spark, sf_dir).select("src", "dst").persist()
        base_edges = base.count()
        t0 = time.time()
        base_components = (
            connected_components(spark, base).select("component").distinct().count()
        )
        base_sec = round(time.time() - t0, 2)

        copy_ids = spark.range(copies).select(F.col("id").cast("string").alias("g"))
        rep = (
            base.crossJoin(F.broadcast(copy_ids))
            .select(
                F.concat_ws(":", "g", "src").alias("src"),
                F.concat_ws(":", "g", "dst").alias("dst"),
            )
            .persist()
        )
        n_edges = rep.count()
        base.unpersist()
        t0 = time.time()
        n_components = (
            connected_components(spark, rep).select("component").distinct().count()
        )
        cc_sec = round(time.time() - t0, 2)
        rep.unpersist()
        expected = copies * base_components
        if n_components != expected:
            raise AssertionError(
                f"graph10x invariant broken: {n_components} components, "
                f"expected {expected}"
            )
        return {
            "base_edges": base_edges,
            "base_components": base_components,
            "base_cc_sec": base_sec,
            "copies": copies,
            "n_edges": n_edges,
            "n_components": n_components,
            "cc_sec": cc_sec,
        }

    def emit(sections: dict, merge_prior: bool = False) -> int:
        """Print + write the one-line JSON artifact; with merge_prior,
        fold fresh sections over a prior full run in --out (the
        --only-<section> re-measure paths)."""
        out = {"metric": "scale10x_evidence", "cpus": args.cpus, **sections}
        if merge_prior and args.out and os.path.exists(args.out):
            with open(args.out) as fh:
                prior = json.loads(fh.read())
            prior.update(out)
            out = prior
        line = json.dumps(out)
        print(line)
        if args.out:
            with open(args.out, "w") as fh:
                fh.write(line + "\n")
        return 0

    if args.only_cluster:
        # clustered compaction at 10× the sf0.1 section's keys AND 5×
        # its files/bucket (40): the rewritten-rows ratio's ceiling is
        # files/bucket, so this geometry is where the payoff shows —
        # a 100 TB bucket is many target_file_rows splits, not 8
        cluster = bench.run_cluster_bench(spark, 500_000, splits_per_bucket=40)
        bench.log(f"cluster10x: {cluster}")
        rc = emit({"cluster10x": cluster}, merge_prior=True)
        spark.stop()
        return rc

    if args.only_graph:
        graph = run_graph10()
        bench.log(f"graph10x: {graph}")
        rc = emit({"graph10x": graph}, merge_prior=True)
        spark.stop()
        return rc

    # --- cdc at 10x, identical protocol to bench.py's sf0.1 section
    num_events = args.events
    num_keys = max(1000, num_events // 20)
    if args.skip_cdc:
        cdc = None
    else:
        cdc = bench.run_cdc_bench(spark, num_events, num_keys)
        bench.log(f"cdc10x: {cdc}")

    # --- rebucket loop at a size where bucket file size matters
    root = os.path.join(tempfile.gettempdir(), "horizon_etl_bench", "rebucket10x")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    rb_events, rb_keys = num_events // 2, 1_000_000
    # zipf_s=0.0 degenerates the bounded-Pareto key draw to UNIFORM —
    # this section measures bucket-file-size effects, so nearly every
    # key must materialize (the default 1.2 concentrates 5M events on
    # ~100k distinct keys and the table never outgrows 4 buckets)
    feed = change_feed(
        spark, rb_events, rb_keys, seed=44, num_batches=3, zipf_s=0.0,
        max_len=int(os.environ.get("BENCH_CDC_MAXLEN", "512")),
        partitions=args.cpus * 2,
    )
    feed.write.mode("overwrite").partitionBy("batch").parquet(f"{root}/feed")
    staged = spark.read.parquet(f"{root}/feed")

    target = LakeTable.create(
        f"{root}/t", S.TARGET_SCHEMA, key_col="doc_id", bucket_count=4,
        props={"target_rows_per_bucket": max(1, rb_keys // 32)},
    )

    def merge_batch(b: int) -> float:
        batch = staged.filter(F.col("batch") == b).drop("batch", "ts")
        winners = lww_reduce(batch, key="doc_id", order="lsn")
        t0 = time.time()
        target.merge(winners)
        return round(time.time() - t0, 2)

    def merge_small_tail(n_keys: int, lsn_off: int) -> dict:
        """A tail batch touching only ``n_keys`` keys — the rewrite-
        amplification probe: a copy-on-write merge must rewrite every
        FILE containing a touched key, so with buckets ≤ keys the whole
        table rewrites and with buckets > keys at most n_keys bucket
        files do.  This is the concrete benefit of the advisory at
        scale: touched-bucket pruning bounds small-batch write cost."""
        tail = change_feed(
            spark, 2_000, n_keys, seed=45, num_batches=1, zipf_s=0.0,
            max_len=64,
        ).drop("batch", "ts").withColumn("lsn", F.col("lsn") + lsn_off)
        winners = lww_reduce(tail, key="doc_id", order="lsn")
        t0 = time.time()
        st = target.merge(winners)
        return {
            "sec": round(time.time() - t0, 2),
            "rewritten_files": st["rewritten_files"],
            "carried_files": st["carried_files"],
        }

    merge_batch(0)
    pre_sec = merge_batch(1)
    pre_tail = merge_small_tail(8, 100_000_000)
    snap = target.snapshot()
    advisory = snap["summary"].get("rebucket_recommended")
    table_rows = sum(f["rows"] for f in snap["files"] if f["rows"] > 0)
    rb = {
        "buckets_before": 4,
        "table_rows": table_rows,
        "advisory": advisory,
        "pre_merge_sec": pre_sec,
        "pre_tail8": pre_tail,
    }
    if advisory:
        t0 = time.time()
        target.rebucket(spark, advisory)
        rb["rebucket_sec"] = round(time.time() - t0, 2)
        rb["post_merge_sec"] = merge_batch(2)
        rb["buckets_after"] = advisory
        rb["merge_speedup"] = round(pre_sec / rb["post_merge_sec"], 2)
        rb["post_tail8"] = merge_small_tail(8, 200_000_000)
        t0 = time.time()
        rb["compact"] = target.compact_buckets(spark, max_files_per_bucket=1)
        rb["compact_sec"] = round(time.time() - t0, 2)
    bench.log(f"rebucket10x: {rb}")
    shutil.rmtree(root, ignore_errors=True)

    # --- replica catch-up at 10x the sf0.1 section's events (2M attr
    # events across a 6-delta outbox backlog): the O(1)-Spark-jobs
    # consumer claim re-measured where the merge is bandwidth-real
    replica = bench.run_replica_bench(
        spark, num_events // 5, max(1000, num_events // 100)
    )
    bench.log(f"replica10x: {replica}")

    # --- clustered compaction at 10x keys and 5x files/bucket (the
    # ratio's ceiling is files/bucket — see bench.run_cluster_bench)
    cluster = bench.run_cluster_bench(spark, 500_000, splits_per_bucket=40)
    bench.log(f"cluster10x: {cluster}")

    graph = run_graph10()
    bench.log(f"graph10x: {graph}")

    sections = {
        "cdc10x": cdc,
        "rebucket10x": rb,
        "replica10x": replica,
        "cluster10x": cluster,
        "graph10x": graph,
    }
    if args.skip_cdc and args.out and os.path.exists(args.out):
        # --skip-cdc reruns everything BUT cdc: carry the prior run's
        # cdc10x forward instead of emitting null
        with open(args.out) as fh:
            prior = json.loads(fh.read())
        if prior.get("cdc10x"):
            sections["cdc10x"] = prior["cdc10x"]
    return emit(sections)


if __name__ == "__main__":
    raise SystemExit(main())
