"""Job budget per clean batch: one ``apply_batch`` must start exactly the
Spark jobs pinned below, in whole-row and per-attribute mode and into a
``key_bloom`` whole-row target, with the change log on and off, and
with the change log plus the per-source rollup.

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

import pytest
from pyspark.sql import functions as F

from horizon_etl_spark.cdc.apply import CdcPipeline, apply_batch
from horizon_etl_spark.cdc.generator import change_feed

# (target, with_change_log) -> Spark jobs for one warm, clean batch.  A
# key_bloom target pays for the bloom probe, the bloom build and the
# bucket metrics, which cannot ride the probe's per-sidecar join.
JOB_BUDGET = {
    ("whole_row", False): 6,
    ("whole_row", True): 8,
    ("attr", False): 6,
    ("attr", True): 8,
    ("key_bloom", False): 13,
    ("key_bloom", True): 15,
}
# (target) -> Spark jobs with the change log AND the per-source rollup:
# the rollup adds one job, its delta collect over the cached co-group
ROLLUP_JOB_BUDGET = {"whole_row": 9, "attr": 9}


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@pytest.fixture(scope="module")
def staged_feed(spark, tmp_path_factory):
    """Two batches staged as one parquet file each (the stream's input
    shape), with a ``fields`` column for the per-attribute runs."""
    root = str(tmp_path_factory.mktemp("job_budget") / "feed")
    feed = change_feed(spark, 2_000, 400, seed=11, num_batches=2, max_len=8)
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
    """Spark jobs of the second clean batch into a fresh pipeline."""
    attr_mode = target == "attr"

    def batch(b):
        df = spark.read.parquet(os.path.join(staged_feed, f"batch={b}"))
        return df if attr_mode else df.drop("fields")

    pipe = CdcPipeline.create(root, bucket_count=4, attr_lww=attr_mode)
    if target == "key_bloom":
        pipe.target.set_props({"key_bloom": "true"})
    # warm batch: the first merge into an empty target has no files to
    # prune or scan, so it is not the steady-state shape
    apply_batch(pipe, batch(0), batch_id=0, **apply_kw)
    b1 = batch(1)
    j0 = _next_job_id(spark)
    run = apply_batch(pipe, b1, batch_id=1, **apply_kw)
    jobs = _next_job_id(spark) - j0
    assert run["status"] == "success" and run["quarantined"] == 0
    return jobs


@pytest.mark.parametrize("target", ["whole_row", "attr", "key_bloom"])
@pytest.mark.parametrize("with_change_log", [False, True], ids=["log_off", "log_on"])
def test_clean_batch_job_budget(spark, tmp_path, staged_feed, target, with_change_log):
    jobs = _warm_batch_jobs(
        spark, str(tmp_path / "p"), staged_feed, target, with_change_log=with_change_log
    )
    assert jobs == JOB_BUDGET[(target, with_change_log)], (
        f"clean batch started {jobs} Spark jobs"
    )


@pytest.mark.parametrize("target", ["whole_row", "attr"])
def test_clean_batch_job_budget_with_rollup(spark, tmp_path, staged_feed, target):
    jobs = _warm_batch_jobs(
        spark, str(tmp_path / "p"), staged_feed, target, with_change_log=True, with_rollup=True
    )
    assert jobs == ROLLUP_JOB_BUDGET[target], f"clean batch started {jobs} Spark jobs"
