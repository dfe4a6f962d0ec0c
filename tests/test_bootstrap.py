"""Initial-snapshot bootstrap → WAL tail handoff (Debezium
``snapshot.mode=initial``): bulk-load a consistent snapshot taken at
lsn W into the empty target without the MERGE machinery, then apply
the change feed — events at lsn <= W are skipped by the lsn guard,
events after W apply incrementally, and the result equals replaying
the ENTIRE history from scratch.
"""

import os

import pytest
from pyspark.sql import functions as F

from horizon_etl_spark.cdc.apply import (
    BOOTSTRAP_BATCH_ID,
    CdcPipeline,
    apply_batch,
    bootstrap,
    replay,
)
from horizon_etl_spark.cdc.generator import change_feed
from horizon_etl_spark.cdc.oracle import assert_frames_equal, expected_final


def _snapshot_and_tail(spark, seed=7):
    """Full history = one feed; the snapshot is the folded state of the
    first half (as a real source snapshot would be), the tail is the
    second half.  Watermark W = max lsn of the first half."""
    feed = change_feed(spark, 4000, 200, seed=seed, num_batches=2,
                       min_len=2, max_len=8)
    head = feed.filter(F.col("batch") == 0)
    tail = feed.filter(F.col("batch") == 1).drop("batch")
    w = head.agg(F.max("lsn")).first()[0]
    snapshot = expected_final(head)
    return feed, snapshot, tail, w


def test_bootstrap_then_tail_equals_full_replay(spark, tmp_table_dir):
    feed, snapshot, tail, w = _snapshot_and_tail(spark)
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    stats = bootstrap(pipe, spark, snapshot, as_of_lsn=w, with_rollup=True)
    assert stats["loaded"] == stats["input_rows"] and stats["quarantined"] == 0
    # bootstrap state == folded head state
    assert_frames_equal(pipe.target.read(spark), snapshot)
    # snapshot commit is labeled and carries the watermark
    assert pipe.target.snapshot()["operation"] == "bootstrap"
    assert pipe.target.props["bootstrap_lsn"] == w

    # the tail INCLUDES redelivered pre-W events (dup_frac re-emits
    # into the next batch) — the lsn guard must skip them
    apply_batch(pipe, tail, batch_id=0, with_rollup=True)
    assert_frames_equal(pipe.target.read(spark), expected_final(feed))

    # rollup stayed consistent through bootstrap + incremental batch
    actual = pipe.rollup.read(spark)
    expected = pipe.target.read(spark).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )
    assert actual.exceptAll(expected).count() == 0
    assert expected.exceptAll(actual).count() == 0

    # run rows: bootstrap audit row + the batch row
    runs = {r["batch_id"]: r for r in pipe.runs.read(spark).collect()}
    assert runs[BOOTSTRAP_BATCH_ID]["status"] == "bootstrap"
    assert runs[BOOTSTRAP_BATCH_ID]["applied"] == stats["loaded"]


def test_bootstrap_equivalent_to_merge_path(spark, tmp_table_dir):
    """The fast path must produce the exact table a MERGE of the same
    snapshot-as-inserts would — including final state after the tail."""
    feed, snapshot, tail, w = _snapshot_and_tail(spark, seed=11)
    fast = CdcPipeline.create(os.path.join(tmp_table_dir, "fast"), bucket_count=8)
    bootstrap(fast, spark, snapshot, as_of_lsn=w)
    slow = CdcPipeline.create(os.path.join(tmp_table_dir, "slow"), bucket_count=8)
    as_inserts = (
        snapshot.withColumn("op", F.lit("insert"))
        .withColumn("lsn", F.lit(w).cast("long"))
        .withColumn("ts", F.lit(None).cast("timestamp"))
    )
    apply_batch(slow, as_inserts, batch_id=0)
    assert_frames_equal(fast.target.read(spark), slow.target.read(spark))
    apply_batch(fast, tail, batch_id=1)
    apply_batch(slow, tail, batch_id=1)
    assert_frames_equal(fast.target.read(spark), slow.target.read(spark))


def test_bootstrap_requires_empty_target(spark, tmp_table_dir):
    feed, snapshot, tail, w = _snapshot_and_tail(spark, seed=13)
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    bootstrap(pipe, spark, snapshot, as_of_lsn=w)
    with pytest.raises(ValueError, match="empty target"):
        bootstrap(pipe, spark, snapshot, as_of_lsn=w)


def test_bootstrap_quarantines_invalid_snapshot_rows(spark, tmp_table_dir):
    rows = [
        ("a", [1, 2], 2, "wiki"),    # ok
        ("b", [3], 1, "darkweb"),    # bad source
        ("c", [], 0, "books"),       # empty tokens
        ("d", [5, 6], 99, "code"),   # n_tok mismatch
    ]
    snap = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=4)
    stats = bootstrap(pipe, spark, snap, as_of_lsn=100)
    assert stats == {
        "version": pipe.target.current_version(),
        "input_rows": 4,
        "loaded": 1,
        "quarantined": 3,
        "bootstrap_lsn": 100,
    }
    assert {r["doc_id"] for r in pipe.target.read(spark).collect()} == {"a"}
    q = pipe.quarantine.read(spark)
    assert q.count() == 3
    assert set(r["batch_id"] for r in q.select("batch_id").collect()) == {
        BOOTSTRAP_BATCH_ID
    }
    assert {r["reason"] for r in q.collect()} == {
        "bad_source", "empty_tokens", "n_tok_mismatch",
    }


def test_bootstrap_attr_mode_partial_updates_after(spark, tmp_table_dir):
    """Attr-LWW: the snapshot asserts every column at W, so a later
    partial update replaces only its asserted columns and an OLDER
    assertion (lsn < W) is stale for every column.  (lsn == W ties go
    to the batch by design — attr redelivery idempotence — which is
    harmless here: a real snapshot at W already reflects the event at
    W, so a tie re-writes the identical value.)"""
    snap = spark.createDataFrame(
        [("a", [1, 2], 2, "wiki"), ("b", [3], 1, "books")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    pipe = CdcPipeline.create(
        os.path.join(tmp_table_dir, "p"), bucket_count=4, attr_lww=True
    )
    bootstrap(pipe, spark, snap, as_of_lsn=50)
    from horizon_etl_spark.cdc.schema import ATTR_CHANGE_FEED_SCHEMA

    events = spark.createDataFrame(
        [
            # stale for its asserted column (lsn < W): must not land
            {"op": "update", "doc_id": "a", "lsn": 49, "tokens": None,
             "n_tok": None, "source": "code", "ts": None, "fields": ["source"]},
            # fresh partial: only source moves, tokens survive
            {"op": "update", "doc_id": "b", "lsn": 51, "tokens": None,
             "n_tok": None, "source": "crawl", "ts": None, "fields": ["source"]},
        ],
        ATTR_CHANGE_FEED_SCHEMA,
    )
    apply_batch(pipe, events, batch_id=0)
    out = {r["doc_id"]: r for r in pipe.target.read(spark).collect()}
    assert out["a"]["source"] == "wiki"          # stale assertion skipped
    assert out["b"]["source"] == "crawl"         # fresh assertion applied
    assert out["b"]["tokens"] == [3] and out["b"]["n_tok"] == 1


def test_bootstrap_plan_has_no_join(spark, tmp_table_dir):
    """The scale contract: the bulk load is filter → bucket repartition
    → write.  No join/window may appear in the snapshot-load plan (that
    is the entire point vs apply_batch)."""
    captured = []
    feed, snapshot, tail, w = _snapshot_and_tail(spark, seed=17)
    # a real snapshot arrives from storage; materialize so the captured
    # plan is the LOAD's plan, not the synthetic generator's
    snap_dir = os.path.join(tmp_table_dir, "snap")
    snapshot.write.parquet(snap_dir)
    snapshot = spark.read.parquet(snap_dir)
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)

    from horizon_etl_spark.tables import lake

    orig = lake.LakeTable._write_data

    def spy(self, df, version):
        captured.append(df._jdf.queryExecution().executedPlan().toString())
        return orig(self, df, version)

    lake.LakeTable._write_data = spy
    try:
        bootstrap(pipe, spark, snapshot, as_of_lsn=w)
    finally:
        lake.LakeTable._write_data = orig
    # first captured plan is the target bulk load
    plan = captured[0]
    assert "Join" not in plan and "Window" not in plan, plan
