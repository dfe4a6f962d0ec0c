"""Benchmark harness — prints ONE JSON line to stdout.

Headline: CDC apply throughput (change-events/sec) through the full
kernel (validate → quarantine → dedup → LWW → MERGE) on a generated
change feed staged to parquet (the binlog tail), scaled by sf; plus
wall times for representative read-path queries at
``$SPARK_GRAFT_SF_DIR``.

Env:
  SPARK_GRAFT_SF_DIR   testdata dir   (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N]       (default 32)
  BENCH_CDC_EVENTS     feed size      (default 1_500_000 * sf/0.1)
  BENCH_QUERIES        comma list     (default the headline set)

Scaling evidence (BASELINE.json north_rule: efficiency >= 0.8 between
N and 4N executors) is produced by tools/bench_scaling.py, which runs
this module's CDC stage at two parallelism levels.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


HEADLINE_QUERIES = [
    "pricing_summary",
    "region_revenue",
    "top_revenue_orders",
    "brand_revenue",
    "cdc_lww_state",
    "exact_dedup_docs",
    "ngram_jaccard_pairs",
    "minhash_dedup",
    "knn_bruteforce",
    "binary_meta",
]


def infer_sf(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


# bump to invalidate every cached feed (generator protocol change)
FEED_CACHE_VERSION = 1


def staged_feed(
    spark,
    tag: str,
    num_events: int,
    num_keys: int,
    seed: int,
    num_batches: int,
    partitions: int,
    attr_fields: bool = False,
):
    """Stage the deterministic change feed to parquet ONCE per exact
    parameter tuple and reuse it across sections, trials, and bench
    invocations — feed generation is not part of any timed region, but
    it used to dominate the harness wall-clock (r4: feed_gen 25.9 s vs
    apply 25.1 s at sf0.1).  The cache key carries every generator
    input + a protocol version, so any change regenerates; the write is
    staged + atomically renamed, so a crashed run never leaves a
    half-feed a later run would trust.  Returns (df, feed_gen_sec,
    cached)."""
    import uuid

    from pyspark.sql import functions as F

    from horizon_etl_spark.cdc.generator import change_feed

    max_len = int(os.environ.get("BENCH_CDC_MAXLEN", "512"))
    key = (
        f"v{FEED_CACHE_VERSION}-e{num_events}-k{num_keys}-s{seed}"
        f"-b{num_batches}-l{max_len}-p{partitions}"
        + ("-attr" if attr_fields else "")
    )
    cache_root = os.path.join(
        tempfile.gettempdir(), "horizon_etl_bench", "feed_cache"
    )
    path = os.path.join(cache_root, key)
    if os.path.exists(path):
        log(f"feed[{tag}]: cache hit {key}")
        return spark.read.parquet(path), 0.0, True
    os.makedirs(cache_root, exist_ok=True)
    # sweep tmp dirs orphaned by a crashed/interrupted writer — the
    # cache root is never rmtree'd, so without this they accumulate
    # multi-GB forever; the age guard protects a CONCURRENT bench
    # that is mid-write right now
    for stale in glob.glob(os.path.join(cache_root, "*.tmp-*")):
        try:
            if time.time() - os.path.getmtime(stale) > 6 * 3600:
                shutil.rmtree(stale, ignore_errors=True)
        except OSError:
            pass
    t0 = time.time()
    feed = change_feed(
        spark, num_events, num_keys, seed=seed, num_batches=num_batches,
        max_len=max_len, partitions=partitions,
    )
    if attr_fields:
        # ~2/3 of upserts assert a column subset (the partial-update mix)
        m = F.pmod(F.xxhash64("lsn"), F.lit(3))
        feed = feed.withColumn(
            "fields",
            F.when(F.col("op") == "delete", F.lit(None).cast("array<string>"))
            .when(m == 0, F.lit(None).cast("array<string>"))
            .when(m == 1, F.array(F.lit("tokens"), F.lit("n_tok")))
            .otherwise(F.array(F.lit("source"))),
        )
    # partition by batch so each micro-batch scan prunes to its own
    # files (the binlog-segment layout)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    feed.write.mode("overwrite").partitionBy("batch").parquet(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        # lost a publish race to a concurrent bench with the same
        # params: the winner's feed is identical (deterministic
        # generator) — use it, discard ours
        if not os.path.exists(path):
            raise
        shutil.rmtree(tmp, ignore_errors=True)
        log(f"feed[{tag}]: lost publish race, using {key}")
        return spark.read.parquet(path), round(time.time() - t0, 2), True
    gen_s = round(time.time() - t0, 2)
    log(f"feed[{tag}]: generated {key} in {gen_s}s")
    return spark.read.parquet(path), gen_s, False


def run_cdc_bench(spark, num_events: int, num_keys: int, num_batches: int = 4) -> dict:
    """Stage a deterministic feed to parquet (not timed), then time the
    full replay through the apply kernel."""
    from pyspark.sql import functions as F

    from horizon_etl_spark.cdc.apply import CdcPipeline, replay

    root = os.path.join(tempfile.gettempdir(), "horizon_etl_bench", "cdc")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)

    cpus = spark.sparkContext.defaultParallelism
    staged, gen_s, cached = staged_feed(
        spark, "cdc", num_events, num_keys, seed=42,
        num_batches=num_batches, partitions=cpus * 2,
    )
    n_staged = staged.count()

    pipe = CdcPipeline.create(f"{root}/pipe", bucket_count=max(16, cpus))
    t0 = time.time()
    runs = replay(pipe, staged, collect_metrics=True, with_change_log=False, with_rollup=True)
    apply_s = time.time() - t0

    final_rows = pipe.target.read(spark).count()
    stats = {
        "events": n_staged,
        "batches": len(runs),
        "feed_gen_sec": gen_s,
        "feed_cached": cached,
        "apply_sec": round(apply_s, 2),
        "events_per_sec": round(n_staged / apply_s, 1),
        "final_rows": final_rows,
        "applied": sum(r["applied"] for r in runs),
        "quarantined": sum(r["quarantined"] for r in runs),
    }
    shutil.rmtree(root, ignore_errors=True)
    return stats


def run_attr_cdc_bench(spark, num_events: int, num_keys: int) -> dict:
    """Per-attribute (partial-update) apply throughput: the whole-row
    feed is rewritten so ~2/3 of updates assert a column subset, then
    replayed through the attr kernel (attr_lww_reduce → merge_attrs).
    Reported separately from the headline suite (new in round 2 — not
    part of the round-over-round comparable total)."""
    from pyspark.sql import functions as F

    from horizon_etl_spark.cdc.apply import CdcPipeline, replay

    root = os.path.join(tempfile.gettempdir(), "horizon_etl_bench", "cdc_attr")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    cpus = spark.sparkContext.defaultParallelism
    staged, _gen_s, _cached = staged_feed(
        spark, "cdc_attr", num_events, num_keys, seed=43,
        num_batches=4, partitions=cpus * 2, attr_fields=True,
    )
    n_staged = staged.count()

    pipe = CdcPipeline.create(f"{root}/pipe", bucket_count=max(16, cpus), attr_lww=True)
    t0 = time.time()
    runs = replay(pipe, staged, collect_metrics=True, with_change_log=False)
    apply_s = time.time() - t0
    final_rows = pipe.target.read(spark).count()
    stats = {
        "events": n_staged,
        "batches": len(runs),
        "apply_sec": round(apply_s, 2),
        "events_per_sec": round(n_staged / apply_s, 1),
        "final_rows": final_rows,
    }
    shutil.rmtree(root, ignore_errors=True)
    return stats


def run_rebucket_bench(spark, num_events: int, num_keys: int) -> dict:
    """Bucket-policy machinery end-to-end AT A SIZE WHERE IT TRIGGERS:
    a deliberately under-bucketed target (4 buckets, tiny
    target_rows_per_bucket so the demo fires at bench scale — the
    default is 4M rows/bucket for real deployments) ingests a feed
    until the merge-time advisory recommends a bigger layout; the
    operator path then runs rebucket() (one atomic O(table) rewrite),
    re-times the SAME-SIZE next batch on the new layout, and finishes
    with a selective compact_buckets() sweep.  What this evidences is
    the POLICY LOOP
    (advisory fires → rewrite is cheap and atomic → merges keep working
    → small files get compacted); the throughput effect of bucket count
    is only visible at row counts where a bucket exceeds one task's
    comfortable write size — at bench scale pre/post merge seconds are
    within noise, and that's expected."""
    from pyspark.sql import functions as F

    from horizon_etl_spark.cdc import schema as S
    from horizon_etl_spark.cdc.lww import lww_reduce
    from horizon_etl_spark.tables.lake import LakeTable

    root = os.path.join(tempfile.gettempdir(), "horizon_etl_bench", "rebucket")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    cpus = spark.sparkContext.defaultParallelism
    staged, _gen_s, _cached = staged_feed(
        spark, "rebucket", num_events, num_keys, seed=44,
        num_batches=3, partitions=cpus * 2,
    )

    target = LakeTable.create(
        f"{root}/t", S.TARGET_SCHEMA, key_col="doc_id", bucket_count=4,
        props={"target_rows_per_bucket": max(1, num_keys // 32)},
    )

    def merge_batch(b: int) -> float:
        batch = staged.filter(F.col("batch") == b).drop("batch", "ts")
        winners = lww_reduce(batch, key="doc_id", order="lsn")
        t0 = time.time()
        target.merge(winners)
        return round(time.time() - t0, 2)

    merge_batch(0)
    pre_sec = merge_batch(1)
    advisory = target.snapshot()["summary"].get("rebucket_recommended")
    out = {"buckets_before": 4, "advisory": advisory, "pre_merge_sec": pre_sec}
    if advisory:
        t0 = time.time()
        target.rebucket(spark, advisory)
        out["rebucket_sec"] = round(time.time() - t0, 2)
        out["post_merge_sec"] = merge_batch(2)
        out["buckets_after"] = advisory
        # selective small-file pass: with UNIFORM keys every merge fully
        # rewrites the buckets it touches (copy-on-write self-compacts),
        # so 0 compacted buckets here is the expected healthy reading;
        # multi-file buckets arise under range-local feeds where min/max
        # pruning carries files (exercised in tests/test_lake.py)
        t0 = time.time()
        out["compact"] = target.compact_buckets(spark, max_files_per_bucket=1)
        out["compact_sec"] = round(time.time() - t0, 2)
    shutil.rmtree(root, ignore_errors=True)
    return out


def run_outbox_bench(spark, num_events: int, num_keys: int) -> dict:
    """Incremental outbox vs full re-export — the O(new changes) vs
    O(table) claim, measured: build a change-logged table, take one
    FULL target export, then land a small tail batch (~2% of events)
    and publish its outbox delta.  At 100 TB the full export is the
    job you can no longer afford per cycle; the delta costs what the
    tail batch costs regardless of table size (file-set incremental
    scan — no full-table read, no row diffing)."""
    from pyspark.sql import functions as F

    from horizon_etl_spark.cdc.apply import CdcPipeline, apply_batch, replay
    from horizon_etl_spark.cdc.generator import change_feed
    from horizon_etl_spark.exports import export_changes, export_table

    root = os.path.join(tempfile.gettempdir(), "horizon_etl_bench", "outbox")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    cpus = spark.sparkContext.defaultParallelism
    staged, _gen_s, _cached = staged_feed(
        spark, "outbox", num_events, num_keys, seed=47,
        num_batches=2, partitions=cpus * 2,
    )
    pipe = CdcPipeline.create(f"{root}/pipe", bucket_count=max(16, cpus))
    replay(pipe, staged, collect_metrics=False, with_change_log=True)
    # drain the backlog so the delta below isolates the tail batch
    export_changes(spark, pipe.change_log, f"{root}/exports", "changes", target=pipe.target)

    t0 = time.time()
    full = export_table(spark, pipe.target, f"{root}/exports", "target")
    full_s = time.time() - t0

    tail_n = max(1000, num_events // 50)
    tail = change_feed(
        spark, tail_n, max(100, num_keys // 50), seed=48, num_batches=1,
        max_len=int(os.environ.get("BENCH_CDC_MAXLEN", "512")),
    ).drop("batch")
    tail.write.mode("overwrite").parquet(f"{root}/tail")
    apply_batch(pipe, spark.read.parquet(f"{root}/tail"), batch_id=100)
    t0 = time.time()
    delta = export_changes(spark, pipe.change_log, f"{root}/exports", "changes", target=pipe.target)
    delta_s = time.time() - t0

    stats = {
        "table_rows": full["n_rows"],
        "full_export_sec": round(full_s, 2),
        "tail_events": tail_n,
        "delta_rows": delta["n_rows"],
        "delta_export_sec": round(delta_s, 2),
        "speedup": round(full_s / delta_s, 1) if delta_s > 0 else None,
    }
    shutil.rmtree(root, ignore_errors=True)
    return stats


def run_replica_bench(spark, num_events: int, num_keys: int, deltas: int = 6) -> dict:
    """Outbox replication catch-up: a replica that is ``deltas``
    publishes behind must drain the WHOLE backlog in one merge + one
    cursor commit (O(1) Spark jobs however deep the backlog — round 4's
    single-merge consumer), and converge to the primary's state."""
    from pyspark.sql import functions as F

    from horizon_etl_spark.cdc import schema as S
    from horizon_etl_spark.cdc.apply import CdcPipeline, apply_batch
    from horizon_etl_spark.cdc.replicate import replicate_from_outbox
    from horizon_etl_spark.exports import export_changes
    from horizon_etl_spark.tables.lake import LakeTable

    root = os.path.join(tempfile.gettempdir(), "horizon_etl_bench", "replica")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    cpus = spark.sparkContext.defaultParallelism
    staged, _gen_s, _cached = staged_feed(
        spark, "replica", num_events, num_keys, seed=49,
        num_batches=deltas, partitions=cpus, attr_fields=True,
    )

    pipe = CdcPipeline.create(f"{root}/pipe", bucket_count=max(16, cpus), attr_lww=True)
    out = f"{root}/exports"
    for b in range(deltas):
        apply_batch(
            pipe, staged.filter(F.col("batch") == b).drop("batch"),
            batch_id=b, collect_metrics=False,
        )
        export_changes(spark, pipe.change_log, out, "changes", target=pipe.target)

    replica = LakeTable.create(
        f"{root}/replica", S.TARGET_SCHEMA, key_col="doc_id",
        bucket_count=max(16, cpus), attr_lww=True,
    )
    v0 = replica.current_version()
    t0 = time.time()
    res = replicate_from_outbox(spark, out, "changes", replica)
    catchup_s = time.time() - t0
    lag = replica.read(spark).exceptAll(pipe.target.read(spark)).count()
    stats = {
        "backlog_deltas": len(res["applied_deltas"]),
        "change_rows": res["change_rows"],
        "catchup_sec": round(catchup_s, 2),
        "replica_commits": replica.current_version() - v0,
        "diverged_rows": lag,
    }
    shutil.rmtree(root, ignore_errors=True)
    return stats


def run_cluster_bench(
    spark, num_keys: int, trickle_keys: int = 64, splits_per_bucket: int = 8
) -> dict:
    """Clustered (sort-ordered) compaction vs plain compaction, on the
    workload clustering targets: POINT-key updates against a compacted
    table.  Plain ``compact()`` leaves one full-range file-set per
    bucket, so every point key rewrites its whole bucket; with
    ``cluster_by_key`` the rewrite is range-split into pairwise-DISJOINT
    key ranges (~8 files/bucket here), so the same range pruner — zero
    read-side changes — isolates ~1 file per key.  Both tables load
    identically; the comparison isolates the compaction layout alone.
    The clustered ``compact_sec`` includes repartitionByRange's sampling
    pass — the disclosed clustering tax."""
    from pyspark.sql import functions as F

    from horizon_etl_spark.cdc import schema as S
    from horizon_etl_spark.tables.lake import LakeTable

    root = os.path.join(tempfile.gettempdir(), "horizon_etl_bench", "cluster")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    cpus = spark.sparkContext.defaultParallelism
    buckets = max(16, cpus)
    # ~splits_per_bucket disjoint splits per bucket (default 8 = the
    # steady-state compact_buckets threshold), sized from the key
    # count; the rewritten-rows ratio's ceiling is files/bucket, so the
    # 10× harness raises this to show the payoff growing with geometry
    target_rows = max(1, num_keys // (buckets * splits_per_bucket))

    def events(ids, lsn):
        return ids.select(
            F.format_string("doc-%08d", F.col("id")).alias("doc_id"),
            F.sequence(F.lit(1), F.lit(64)).alias("tokens"),
            F.lit(64).alias("n_tok"),
            F.lit("bench").alias("source"),
            F.lit("upsert").alias("op"),
            F.lit(lsn).cast("long").alias("lsn"),
        )

    def rewritten_rows(t, prev_version):
        prev = {f["path"]: f["rows"] for f in t.snapshot(prev_version)["files"]}
        cur = {f["path"] for f in t.snapshot()["files"]}
        return sum(r for p, r in prev.items() if p not in cur)

    pop = spark.range(num_keys)
    rand = (F.col("id") * 2654435761) % num_keys
    upd_ids = spark.range(trickle_keys).select(rand.alias("id")).distinct()
    out: dict = {
        "keys": num_keys,
        # the multiplicative hash can collide: report the distinct keys
        # the trickle actually carries, not the number requested
        "trickle_keys": upd_ids.count(),
        "target_file_rows": target_rows,
    }
    for mode, cluster in (("plain", False), ("clustered", True)):
        t = LakeTable.create(
            f"{root}/{mode}", S.TARGET_SCHEMA, key_col="doc_id", bucket_count=buckets
        )
        t.merge(events(pop, lsn=1))
        t0 = time.time()
        t.compact(spark, cluster_by_key=cluster, target_file_rows=target_rows)
        res = {
            "compact_sec": round(time.time() - t0, 2),
            "files": len(t.snapshot()["files"]),
        }
        v = t.current_version()
        t0 = time.time()
        stats = t.merge(events(upd_ids, lsn=2))
        res["update"] = {
            "sec": round(time.time() - t0, 2),
            "rewritten_files": stats["rewritten_files"],
            "rewritten_rows": rewritten_rows(t, v),
        }
        out[mode] = res
    p, c = out["plain"], out["clustered"]
    out["update_rows_ratio"] = (
        round(p["update"]["rewritten_rows"] / c["update"]["rewritten_rows"], 1)
        if c["update"]["rewritten_rows"]
        else None
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


def run_graph_bench(spark, sf_dir: str) -> dict:
    """Multi-relationship graph family at bench scale: the merged
    3-family edge build + summary witness, distributed connected
    components (large-star/small-star rounds), and the executive mart
    report render.  Reported outside the headline total (new in round
    5 — not part of the round-over-round comparable suite)."""
    from horizon_etl_spark.queries import QUERIES
    from horizon_etl_spark.queries.graph import (
        connected_components,
        relationship_edges,
    )
    from horizon_etl_spark.report_exec import executive_report

    t0 = time.time()
    rows = {
        r["rel_type"]: r
        for r in QUERIES["relationship_graph_summary"](spark, sf_dir).collect()
    }
    summary_sec = round(time.time() - t0, 2)

    edges = relationship_edges(spark, sf_dir).persist()
    try:
        edges.count()  # materialize so cc times the algorithm, not the build
        t0 = time.time()
        n_components = (
            connected_components(spark, edges)
            .select("component")
            .distinct()
            .count()
        )
        cc_sec = round(time.time() - t0, 2)
    finally:
        edges.unpersist()

    t0 = time.time()
    executive_report(spark, sf_dir)
    exec_sec = round(time.time() - t0, 2)
    return {
        "n_edges": rows["all"]["n_edges"],
        "n_nodes": rows["all"]["n_nodes"],
        "multi_type_edges": rows["all"]["multi_type_edges"],
        "summary_sec": summary_sec,
        "n_components": n_components,
        "connected_components_sec": cc_sec,
        "executive_report_sec": exec_sec,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = infer_sf(sf_dir)

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from horizon_etl_spark.session import build_session

    spark = build_session(
        "horizon-etl-bench", master=f"local[{cpus}]", shuffle_partitions=cpus * 2
    )
    log(f"bench: sf_dir={sf_dir} sf={sf} cpus={cpus}")

    timings: dict[str, float] = {}

    default_events = int(1_000_000 * (sf / 0.1)) if sf else 1_000_000
    num_events = int(os.environ.get("BENCH_CDC_EVENTS", default_events))
    num_keys = max(1000, num_events // 20)
    cdc = run_cdc_bench(spark, num_events, num_keys)
    timings["cdc_apply"] = cdc["apply_sec"]
    log(f"cdc: {cdc}")

    attr_events = int(os.environ.get("BENCH_ATTR_EVENTS", num_events // 2))
    cdc_attr = run_attr_cdc_bench(spark, attr_events, max(1000, attr_events // 20))
    log(f"cdc_attr: {cdc_attr}")

    rb_events = int(os.environ.get("BENCH_REBUCKET_EVENTS", num_events // 2))
    rebucket = run_rebucket_bench(spark, rb_events, max(1000, rb_events // 10))
    log(f"rebucket: {rebucket}")

    ob_events = int(os.environ.get("BENCH_OUTBOX_EVENTS", num_events // 2))
    outbox = run_outbox_bench(spark, ob_events, max(1000, ob_events // 20))
    log(f"outbox: {outbox}")

    rp_events = int(os.environ.get("BENCH_REPLICA_EVENTS", num_events // 5))
    replica = run_replica_bench(spark, rp_events, max(1000, rp_events // 20))
    log(f"replica: {replica}")

    cl_keys = int(os.environ.get("BENCH_CLUSTER_KEYS", max(10_000, num_keys // 2)))
    cluster = run_cluster_bench(spark, cl_keys)
    log(f"cluster: {cluster}")

    graph = run_graph_bench(spark, sf_dir)
    log(f"graph: {graph}")

    from horizon_etl_spark.queries import QUERIES

    names = os.environ.get("BENCH_QUERIES")
    names = names.split(",") if names else HEADLINE_QUERIES
    for name in names:
        t0 = time.time()
        n = QUERIES[name](spark, sf_dir).count()
        timings[name] = round(time.time() - t0, 2)
        log(f"query {name}: {n} rows in {timings[name]}s")

    total = round(sum(timings.values()), 2)
    out = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "cdc": cdc,
        "cdc_attr": cdc_attr,
        "rebucket": rebucket,
        "outbox": outbox,
        "replica": replica,
        "cluster": cluster,
        "graph": graph,
    }
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
