"""Job budget per clean batch: one ``apply_batch`` must start exactly the
Spark jobs pinned below, in whole-row and per-attribute mode and into a
key-clustered target, with the change log on and off, and with the
change log plus the per-source rollup.  The batch summary over ``apply_batch``'s winners must plan no
exchange of its own.

Per-batch fixed cost dominates small batches, so an extra job per batch
is a regression that host noise hides in wall-clock numbers; counting
jobs catches it deterministically.  Jobs are counted with the
scheduler's next-job-id counter (one client thread, so every id issued
during the call belongs to it), the same counter the benchmark's span
recorder reads.  The pins were measured under this suite's session
config (local[4], 8 shuffle partitions, AQE on): if a change lowers a
count, lower its pin; a rise fails here instead of hiding in noise.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from horizon_etl_spark.cdc.apply import CdcPipeline, apply_batch
from horizon_etl_spark.cdc.generator import change_feed
from horizon_etl_spark.tables.lake import BUCKET_COL, FileEntry, bucket_expr

from conftest import plans_since, sql_clock_ms

# (target, with_change_log) -> Spark jobs for one warm, clean batch
JOB_BUDGET = {
    ("whole_row", False): 5,
    ("whole_row", True): 7,
    ("attr", False): 5,
    ("attr", True): 7,
}
# (target) -> Spark jobs with the change log AND the per-source rollup:
# the rollup adds one job, its delta collect over the cached co-group
ROLLUP_JOB_BUDGET = {"whole_row": 8, "attr": 8}


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@pytest.fixture(scope="module")
def staged_feed(spark, tmp_path_factory):
    """Two batches staged as one parquet file each (the stream's input
    shape), with a ``fields`` column for the per-attribute runs.  Keys
    are near-uniform (hottest key ~1% of a batch), so ``apply_batch``
    predicts the batches not skewed and places them by bucket."""
    root = str(tmp_path_factory.mktemp("job_budget") / "feed")
    feed = change_feed(spark, 2_000, 2_000, seed=11, zipf_s=0.5, num_batches=2, max_len=8)
    m = F.pmod(F.xxhash64(F.col("lsn"), F.lit("fields")), F.lit(3))
    feed = feed.withColumn(
        "fields",
        F.when(F.col("op") == "delete", F.lit(None).cast("array<string>"))
        .when(m == 0, F.lit(None).cast("array<string>"))
        .when(m == 1, F.array(F.lit("tokens"), F.lit("n_tok")))
        .otherwise(F.array(F.lit("source"))),
    )
    feed.repartition("batch").write.partitionBy("batch").parquet(root)
    return root


def _warm_batch_jobs(spark, root, staged_feed, target, **apply_kw) -> int:
    """Spark jobs of the second clean batch into a fresh pipeline; the
    batch must have been placed by bucket."""
    attr_mode = target == "attr"

    def batch(b):
        df = spark.read.parquet(os.path.join(staged_feed, f"batch={b}"))
        return df if attr_mode else df.drop("fields")

    pipe = CdcPipeline.create(root, bucket_count=4, attr_lww=attr_mode)
    # warm batch: the first merge into an empty target has no files to
    # prune or scan, so it is not the steady-state shape
    apply_batch(pipe, batch(0), batch_id=0, **apply_kw)
    b1 = batch(1)
    j0 = _next_job_id(spark)
    run = apply_batch(pipe, b1, batch_id=1, **apply_kw)
    jobs = _next_job_id(spark) - j0
    assert run["status"] == "success" and run["quarantined"] == 0
    assert "placed=True" in run["notes"]
    return jobs


def _summary_nodes_above_cache(spark, since_ms: int) -> list[str]:
    """Node names of the newest batch summary's executed plan since
    ``since_ms`` (the plan naming its ``_misplaced`` aggregate, read
    from the SQL status store), down to and including the cached-winners
    scan; AQE ``Initial Plan`` sections are skipped (they repeat the
    plan before optimization)."""
    plan = plans_since(spark, since_ms, "_misplaced")[0]
    nodes, skip_below = [], None
    for line in plan.split("\n\n", 1)[0].splitlines()[1:]:
        name = line.lstrip(" :+-|")
        indent = len(line) - len(name)
        if skip_below is not None and indent > skip_below:
            continue
        skip_below = None
        if name.startswith("== Initial Plan =="):
            skip_below = indent - 1
        elif not name.startswith("=="):
            nodes.append(name)
            if name.startswith(("TableCacheQueryStage", "InMemoryTableScan")):
                skip_below = indent
    return nodes


@pytest.mark.parametrize("target", ["whole_row", "attr"])
@pytest.mark.parametrize("with_change_log", [False, True], ids=["log_off", "log_on"])
def test_clean_batch_job_budget(spark, tmp_path, staged_feed, target, with_change_log):
    since = sql_clock_ms(spark)
    jobs = _warm_batch_jobs(
        spark, str(tmp_path / "p"), staged_feed, target, with_change_log=with_change_log
    )
    assert jobs == JOB_BUDGET[(target, with_change_log)], (
        f"clean batch started {jobs} Spark jobs"
    )
    # the batch was placed by bucket before its LWW reduce, so the
    # merge's per-bucket summary over the cached winners shuffles
    # nothing
    nodes = _summary_nodes_above_cache(spark, since)
    assert {"TableCacheQueryStage", "InMemoryTableScan"} & {n.split(" ")[0] for n in nodes}
    assert not [n for n in nodes if n.startswith(("Exchange", "ShuffleQueryStage"))], nodes


@pytest.mark.parametrize("target", ["whole_row", "attr"])
def test_clean_batch_job_budget_with_rollup(spark, tmp_path, staged_feed, target):
    jobs = _warm_batch_jobs(
        spark, str(tmp_path / "p"), staged_feed, target, with_change_log=True, with_rollup=True
    )
    assert jobs == ROLLUP_JOB_BUDGET[target], f"clean batch started {jobs} Spark jobs"


@pytest.fixture(scope="module")
def clustered_pipeline(spark, tmp_path_factory):
    """A pipeline whose target holds a 6k-event preload over 4k keys,
    compacted into ~50-row key-clustered files, plus one sparse 20-event
    batch after the preload staged as a parquet file.  Cases copy the
    pipeline directory (:func:`shutil.copytree`) before applying."""
    root = tmp_path_factory.mktemp("job_budget_clustered")
    feed = change_feed(spark, 6_000, 4_000, seed=13, zipf_s=0.8, num_batches=300, max_len=8)
    feed.filter(F.col("batch") == 299).drop("batch").coalesce(1).write.parquet(
        str(root / "sparse")
    )
    pipe = CdcPipeline.create(str(root / "p"), bucket_count=4)
    apply_batch(pipe, feed.filter(F.col("batch") < 299), batch_id=0)
    pipe.target.compact(spark, drop_tombstones=False, cluster_by_key=True, target_file_rows=50)
    return root


@pytest.mark.parametrize("with_change_log", [False, True], ids=["log_off", "log_on"])
def test_clustered_target_sparse_batch_job_budget(
    spark, tmp_path, clustered_pipeline, with_change_log
):
    """A sparse batch into a key-clustered target: per bucket, the
    files between two batch keys fall inside the batch's key interval
    but hold none of its keys.  The summary's exact range test carries
    them, so the batch costs what it costs on a plain target."""
    shutil.copytree(clustered_pipeline / "p", tmp_path / "p")
    pipe = CdcPipeline.load(str(tmp_path / "p"))
    files = [FileEntry.from_json(f) for f in pipe.target.snapshot()["files"]]
    sparse = spark.read.parquet(str(clustered_pipeline / "sparse"))
    by_bucket: dict[int, list[str]] = {}
    for r in sparse.select("doc_id", bucket_expr("doc_id", 4).alias(BUCKET_COL)).collect():
        by_bucket.setdefault(r[BUCKET_COL], []).append(r["doc_id"])
    # files a per-bucket [batch min, batch max] interval sweeps in, and
    # the files whose range holds a batch key
    swept = [
        f for f in files
        if f.bucket in by_bucket
        and f.min_key <= max(by_bucket[f.bucket]) and f.max_key >= min(by_bucket[f.bucket])
    ]
    in_range = [f for f in swept if any(f.min_key <= k <= f.max_key for k in by_bucket[f.bucket])]
    assert len(swept) > len(in_range) + 4

    j0 = _next_job_id(spark)
    run = apply_batch(pipe, sparse, batch_id=1, with_change_log=with_change_log)
    jobs = _next_job_id(spark) - j0
    assert run["status"] == "success" and run["quarantined"] == 0
    assert pipe.target.snapshot()["summary"]["rewritten_files"] == len(in_range)
    assert jobs == JOB_BUDGET[("whole_row", with_change_log)], (
        f"sparse batch into a clustered target started {jobs} Spark jobs"
    )


def test_skewed_batch_keeps_unplaced_reduce(spark, tmp_path, staged_feed):
    """After a batch whose hottest key held over
    ``HOT_KEY_SHARE_THRESHOLD`` of its events, the next batch is
    predicted skewed: its reduce stays unplaced, so map-side partial
    aggregation still combines a hot key's events before the shuffle.
    The merge's summary then shuffles the winners by bucket itself —
    one Spark job more than a placed batch, and the same state."""
    pipe = CdcPipeline.create(str(tmp_path / "p"), bucket_count=4)
    hot = change_feed(spark, 2_000, 50, seed=3, zipf_s=2.0, num_batches=1, max_len=8)
    run0 = apply_batch(pipe, hot, batch_id=0, with_change_log=False)
    assert "placed=True" in run0["notes"]  # no history yet
    assert pipe.metrics.props["hot_key_share"] > 0.3
    b1 = spark.read.parquet(os.path.join(staged_feed, "batch=1")).drop("fields")
    since = sql_clock_ms(spark)
    j0 = _next_job_id(spark)
    run = apply_batch(pipe, b1, batch_id=1, with_change_log=False)
    jobs = _next_job_id(spark) - j0
    assert "placed=False" in run["notes"]
    assert jobs == JOB_BUDGET[("whole_row", False)] + 1, f"skewed batch started {jobs} Spark jobs"
    nodes = _summary_nodes_above_cache(spark, since)
    assert [n for n in nodes if n.startswith(("Exchange", "ShuffleQueryStage"))], nodes
    assert pipe.metrics.props["hot_key_share"] < 0.05
