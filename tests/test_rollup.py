"""Incremental derived-aggregate (rollup) maintenance — the A3
aggregate-then-merge analogue (reference recomputes parent rollups
after each ingest, project_loader.py:135-257) done incrementally from
change images, with exactly-once extending to the derived table."""

from __future__ import annotations

import dataclasses
import itertools
import os

from pyspark.sql import functions as F

from horizon_etl_spark.cdc import schema as S
from horizon_etl_spark.cdc.apply import CdcPipeline, _rebuild_rollup, apply_batch, replay
from horizon_etl_spark.cdc.generator import change_feed
from horizon_etl_spark.tables.lake import LakeTable


def _recomputed(pipe, spark):
    return (
        pipe.target.read(spark)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
    )


def _assert_rollup_consistent(pipe, spark):
    actual = pipe.rollup.read(spark)
    expected = _recomputed(pipe, spark)
    assert actual.exceptAll(expected).count() == 0
    assert expected.exceptAll(actual).count() == 0


def test_rollup_matches_recompute_across_batches(spark, tmp_table_dir):
    feed = change_feed(spark, 4000, 300, seed=7, num_batches=3, max_len=32)
    pipe = CdcPipeline.create(f"{tmp_table_dir}/pipe")
    replay(pipe, feed, with_rollup=True)
    _assert_rollup_consistent(pipe, spark)
    assert pipe.rollup.read(spark).count() > 0


def test_rollup_redelivery_is_noop(spark, tmp_table_dir):
    feed = change_feed(spark, 2000, 150, seed=8, num_batches=2, max_len=32)
    pipe = CdcPipeline.create(f"{tmp_table_dir}/pipe")
    b0 = feed.filter(F.col("batch") == 0)
    b1 = feed.filter(F.col("batch") == 1)
    apply_batch(pipe, b0, batch_id=0, with_rollup=True)
    apply_batch(pipe, b1, batch_id=1, with_rollup=True)
    snap = sorted(tuple(r) for r in pipe.rollup.read(spark).collect())
    # re-deliver batch 0: every change reports skipped_stale → zero delta
    apply_batch(pipe, b0, batch_id=0, with_rollup=True)
    again = sorted(tuple(r) for r in pipe.rollup.read(spark).collect())
    assert snap == again
    _assert_rollup_consistent(pipe, spark)


def test_rollup_recovers_from_crash_between_commits(spark, tmp_table_dir):
    """Crash window: target merge committed but the rollup overwrite
    didn't (the two commits are not atomic).  On redelivery every
    change image reports skipped_stale (zero delta), so incremental
    folding alone would lose the batch forever; the synced-version
    check in the rollup props must detect the lag and rebuild."""
    feed = change_feed(spark, 2000, 150, seed=11, num_batches=2, max_len=32)
    pipe = CdcPipeline.create(f"{tmp_table_dir}/pipe")
    b0 = feed.filter(F.col("batch") == 0)
    b1 = feed.filter(F.col("batch") == 1)
    apply_batch(pipe, b0, batch_id=0, with_rollup=True)
    # simulate the crash: batch 1's merge commits, rollup update is lost
    apply_batch(pipe, b1, batch_id=1, with_rollup=False)
    # foreachBatch redelivers batch 1 after restart
    apply_batch(pipe, b1, batch_id=1, with_rollup=True)
    _assert_rollup_consistent(pipe, spark)


def test_rollup_enabled_late_backfills(spark, tmp_table_dir):
    """Turning with_rollup on mid-stream must not silently produce a
    rollup that reflects only post-enable batches."""
    feed = change_feed(spark, 2000, 150, seed=12, num_batches=2, max_len=32)
    pipe = CdcPipeline.create(f"{tmp_table_dir}/pipe")
    apply_batch(pipe, feed.filter(F.col("batch") == 0), batch_id=0, with_rollup=False)
    apply_batch(pipe, feed.filter(F.col("batch") == 1), batch_id=1, with_rollup=True)
    _assert_rollup_consistent(pipe, spark)


def test_rollup_handles_deletes(spark, tmp_table_dir):
    feed = change_feed(spark, 3000, 100, seed=9, num_batches=1, delete_frac=0.4, max_len=16)
    pipe = CdcPipeline.create(f"{tmp_table_dir}/pipe")
    replay(pipe, feed, with_rollup=True)
    _assert_rollup_consistent(pipe, spark)


def partial_feed(spark, events=2000, keys=300, seed=11, num_batches=4):
    """A per-attribute feed: each non-delete event asserts every column
    (no ``fields``), only ``tokens``/``n_tok``, or only ``source`` — so
    some keys go live without ever asserting ``source``, and some set it
    later."""
    feed = change_feed(spark, events, keys, seed=seed, num_batches=num_batches, max_len=8)
    m = F.pmod(F.xxhash64(F.col("lsn"), F.lit("fields")), F.lit(3))
    return feed.withColumn(
        "fields",
        F.when(F.col("op") == "delete", F.lit(None).cast("array<string>"))
        .when(m == 0, F.lit(None).cast("array<string>"))
        .when(m == 1, F.array(F.lit("tokens"), F.lit("n_tok")))
        .otherwise(F.array(F.lit("source"))),
    )


def rollup_rows(df):
    """(source, n_docs, total_tokens) rows, null source first."""
    rows = [(r["source"], r["n_docs"], r["total_tokens"]) for r in df.collect()]
    return sorted(rows, key=lambda t: (t[0] is not None, t[0] or ""))


def recomputed_rows(pipe, spark):
    return rollup_rows(
        pipe.target.read(spark)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("n_tok"), F.lit(0))).cast("long").alias("total_tokens"),
        )
    )


def test_attr_rollup_matches_rebuild_with_sourceless_docs(spark, tmp_path):
    """Per-attribute mode: a key can be live without ever asserting
    ``source``.  The rebuild counts it under a null source, so the
    incremental fold must too — after every batch, through a
    redelivery and a crash between the merge and rollup commits."""
    feed = partial_feed(spark)
    batches = [feed.filter(F.col("batch") == b).drop("batch") for b in range(4)]
    pipe = CdcPipeline.create(str(tmp_path / "p"), bucket_count=4, attr_lww=True)
    scratch = itertools.count()

    def check(step):
        got = rollup_rows(pipe.rollup.read(spark))
        assert got == recomputed_rows(pipe, spark), step
        rebuilt = dataclasses.replace(
            pipe,
            rollup=LakeTable.create(
                os.path.join(str(tmp_path), f"rebuilt{next(scratch)}"), S.ROLLUP_SCHEMA
            ),
        )
        _rebuild_rollup(rebuilt, spark, pipe.target.current_version(), "rollup(rebuild)")
        assert got == rollup_rows(rebuilt.rollup.read(spark)), step
        return got

    apply_batch(pipe, batches[0], batch_id=0, with_rollup=True)
    check("batch 0")
    apply_batch(pipe, batches[1], batch_id=1, with_rollup=True)
    after_1 = check("batch 1")
    assert pipe.rollup.snapshot()["operation"] == "rollup"  # folded, not rebuilt
    # redelivery: every change is skipped_stale, the rollup is unchanged
    apply_batch(pipe, batches[1], batch_id=1, with_rollup=True)
    assert check("redelivered batch 1") == after_1
    # crash: batch 2's merge commits, its rollup commit is lost; the
    # redelivery detects the lag and rebuilds
    apply_batch(pipe, batches[2], batch_id=2, with_rollup=False)
    apply_batch(pipe, batches[2], batch_id=2, with_rollup=True)
    assert pipe.rollup.snapshot()["operation"] == "rollup(rebuild)"
    check("recovered batch 2")
    apply_batch(pipe, batches[3], batch_id=3, with_rollup=True)
    assert pipe.rollup.snapshot()["operation"] == "rollup"
    final = check("batch 3")
    # the feed really exercised the null-source group
    assert final[0][0] is None and final[0][1] > 0
