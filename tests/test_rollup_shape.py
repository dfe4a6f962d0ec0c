"""Rollup maintenance shape: the batch's deltas are one Spark job over
the merge's cached co-group with no shuffle of their own, and the
O(sources) commit is driver work — a pyarrow read and write that start
no Spark job, yet read back in Spark with the rollup's own types."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from horizon_etl_spark.cdc import schema as S
from horizon_etl_spark.cdc.apply import (
    CdcPipeline,
    _commit_rollup,
    _maintain_rollup,
    _rollup_deltas,
    apply_batch,
    rollback_to_batch,
)
from horizon_etl_spark.cdc.attrs import attr_lww_reduce
from horizon_etl_spark.cdc.lww import lww_reduce
from tests.test_rollup import partial_feed, recomputed_rows, rollup_rows


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _nodes_above_cache(plan) -> list[str]:
    """Node names of an executed plan, from the root down to (and
    including) the cached-relation scans; AQE stages are unwrapped."""
    names, stack = [], [plan]
    while stack:
        p = stack.pop()
        name = p.nodeName()
        names.append(name)
        if name in ("InMemoryTableScan", "TableCacheQueryStage"):
            continue
        if name == "AdaptiveSparkPlan":
            stack.append(p.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(p.plan())
        else:
            children = p.children()
            stack.extend(children.apply(i) for i in range(children.size()))
    return names


@pytest.fixture(scope="module")
def feed(spark):
    return partial_feed(spark, events=1200, keys=200, seed=5, num_batches=3)


def _batch(feed, b, attr):
    df = feed.filter(F.col("batch") == b).drop("batch")
    return df if attr else df.drop("fields")


@pytest.mark.parametrize("mode", ["whole_row", "attr"])
def test_delta_collect_is_one_job_without_exchange(spark, tmp_path, feed, mode):
    attr = mode == "attr"
    pipe = CdcPipeline.create(str(tmp_path / "p"), bucket_count=4, attr_lww=attr)
    apply_batch(pipe, _batch(feed, 0, attr), batch_id=0, with_rollup=True)
    batch = _batch(feed, 1, attr)
    if attr:
        winners = attr_lww_reduce(batch.drop("ts")).persist()
        stats = pipe.target.merge_attrs(
            winners,
            change_log_sink=pipe.change_log,
            change_log_extra={"batch_id": 1},
            persist_join=True,
        )
    else:
        winners = lww_reduce(batch.drop("ts"), key="doc_id", order="lsn").persist()
        stats = pipe.target.merge(
            winners,
            change_log_sink=pipe.change_log,
            change_log_extra={"batch_id": 1},
            persist_join=True,
        )
    try:
        deltas = _rollup_deltas(stats["change_log"])
        j0 = _next_job_id(spark)
        assert deltas.collect()
        assert _next_job_id(spark) - j0 == 1
        names = _nodes_above_cache(deltas._jdf.queryExecution().executedPlan())
        assert "Generate" in names
        assert {"InMemoryTableScan", "TableCacheQueryStage"} & set(names)
        assert not [n for n in names if "Exchange" in n or "Shuffle" in n], names

        # the whole maintenance step: the collect plus a driver commit
        j0 = _next_job_id(spark)
        _maintain_rollup(pipe, stats["change_log"], stats["version"] - 1, stats["version"])
        assert _next_job_id(spark) - j0 == 1
    finally:
        stats["persisted_join"].unpersist()
        winners.unpersist()
    assert rollup_rows(pipe.rollup.read(spark)) == recomputed_rows(pipe, spark)
    assert pipe.rollup.props["synced_target_version"] == stats["version"]

    # the images' _bucket column never reaches the change-log table
    log_schema = S.ATTR_CHANGE_LOG_SCHEMA if attr else S.CHANGE_LOG_SCHEMA
    assert pipe.change_log.schema() == log_schema
    files = glob.glob(os.path.join(pipe.change_log.path, "data", "**", "*.parquet"),
                      recursive=True)
    assert files
    for f in files:
        assert "_bucket" not in pq.read_schema(f).names


def test_rollup_commit_is_driver_only_and_reads_back_typed(spark, tmp_path):
    pipe = CdcPipeline.create(str(tmp_path / "p"), bucket_count=4)
    v0 = pipe.rollup.current_version()
    j0 = _next_job_id(spark)
    _commit_rollup(pipe, {"wiki": (2, 0), None: (3, 7), "gone": (0, 5)}, 12, "rollup")
    groups = pipe.rollup.read_rows()
    assert _next_job_id(spark) - j0 == 0
    assert sorted(groups, key=lambda r: r["n_docs"]) == [
        {"source": "wiki", "n_docs": 2, "total_tokens": 0},
        {"source": None, "n_docs": 3, "total_tokens": 7},
    ]
    assert pipe.rollup.current_version() == v0 + 1
    assert pipe.rollup.props["synced_target_version"] == 12

    # Spark reads the pyarrow file with the rollup's own types, both
    # through the table and from the file's footer alone
    assert pipe.rollup.read(spark).schema == S.ROLLUP_SCHEMA
    assert rollup_rows(pipe.rollup.read(spark)) == [(None, 3, 7), ("wiki", 2, 0)]
    (entry,) = pipe.rollup.snapshot()["files"]
    raw = spark.read.parquet(os.path.join(pipe.rollup.path, entry["path"]))
    assert raw.schema == S.ROLLUP_SCHEMA

    # a rollup with no live group left reads back empty
    _commit_rollup(pipe, {"wiki": (0, 0)}, 13, "rollup")
    assert pipe.rollup.read_rows() == []
    assert pipe.rollup.read(spark).count() == 0


def test_rollback_to_batch_restores_driver_written_rollup(spark, tmp_path, feed):
    pipe = CdcPipeline.create(str(tmp_path / "p"), bucket_count=4, attr_lww=True)
    for b in range(2):
        apply_batch(pipe, _batch(feed, b, True), batch_id=b, with_rollup=True)
    after_1 = rollup_rows(pipe.rollup.read(spark))
    apply_batch(pipe, _batch(feed, 2, True), batch_id=2, with_rollup=True)
    assert rollup_rows(pipe.rollup.read(spark)) != after_1

    rollback_to_batch(pipe, spark, 1)
    assert rollup_rows(pipe.rollup.read(spark)) == after_1
    # the rollback is a new target commit; the restored rollup is
    # re-stamped against it, so re-applying batch 2 folds its deltas
    # incrementally instead of rebuilding from a full target scan
    assert pipe.rollup.props["synced_target_version"] == pipe.target.current_version()
    apply_batch(pipe, _batch(feed, 2, True), batch_id=2, with_rollup=True)
    assert pipe.rollup.snapshot()["operation"] == "rollup"
    assert rollup_rows(pipe.rollup.read(spark)) == recomputed_rows(pipe, spark)
