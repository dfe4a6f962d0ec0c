"""Replay-equality suite — the north-rule correctness gate (FIXTURES.md §5).

Final state must be identical (token-array equality) after:
  (a) single-batch full replay,
  (b) K-batch incremental with cross-batch duplicate re-delivery,
  (c) K-batch with a whole batch re-applied (crash/retry simulation),
  (d) batches applied OUT of order,
and counts must reconcile input == applied-side + deduped + quarantined.
"""

import os
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from horizon_etl_spark.cdc.apply import CdcPipeline, apply_batch, replay
from horizon_etl_spark.cdc.generator import change_feed, corrupt_feed
from horizon_etl_spark.cdc.oracle import assert_frames_equal, expected_final
from horizon_etl_spark.tables.lake import bucket_expr

E, K = 4000, 200


def _feed(spark, num_batches):
    return change_feed(spark, E, K, seed=42, num_batches=num_batches,
                       min_len=4, max_len=64)


def _final(pipe, spark):
    return pipe.target.read(spark)


def test_single_batch_replay_matches_oracle(spark, tmp_table_dir):
    feed = _feed(spark, 1)
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    replay(pipe, feed)
    assert_frames_equal(_final(pipe, spark), expected_final(feed))


def test_incremental_batches_match_oracle(spark, tmp_table_dir):
    feed = _feed(spark, 5)
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    runs = replay(pipe, feed)
    assert len(runs) == 5
    assert_frames_equal(_final(pipe, spark), expected_final(feed))
    # reconciliation per run:
    #   input == applied + skipped_stale + delete_noop + deduped + quarantined
    for r in runs:
        assert r["input_rows"] == (
            r["applied"] + r["skipped_stale"] + r["delete_noop"]
            + r["deduped"] + r["quarantined"]
        )


def test_batch_redelivery_is_noop(spark, tmp_table_dir):
    feed = _feed(spark, 3)
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    batches = [feed.filter(F.col("batch") == b).drop("batch") for b in range(3)]
    apply_batch(pipe, batches[0], 0)
    apply_batch(pipe, batches[1], 1)
    apply_batch(pipe, batches[1], 1)  # crash/retry: whole batch re-applied
    apply_batch(pipe, batches[2], 2)
    apply_batch(pipe, batches[2], 2)
    assert_frames_equal(_final(pipe, spark), expected_final(feed))


def test_out_of_order_batches_converge(spark, tmp_table_dir):
    feed = _feed(spark, 4)
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    for b in (2, 0, 3, 1):  # adversarial batch order
        apply_batch(pipe, feed.filter(F.col("batch") == b).drop("batch"), b)
    assert_frames_equal(_final(pipe, spark), expected_final(feed))


def test_quarantine_and_reconciliation(spark, tmp_table_dir):
    feed = corrupt_feed(spark, 3000, 150)
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    run = apply_batch(pipe, feed.drop("batch"), 0)
    q = pipe.quarantine.read(spark)
    assert q.count() == run["quarantined"] > 0
    assert q.filter(F.col("reason").isNull()).count() == 0
    assert q.filter(F.col("batch_id") != 0).count() == 0
    # final state equals oracle (which also excludes invalid rows)
    assert_frames_equal(_final(pipe, spark), expected_final(feed))
    # full reconciliation
    assert run["input_rows"] == (
        run["applied"] + run["skipped_stale"] + run["delete_noop"]
        + run["deduped"] + run["quarantined"]
    )


def test_change_log_append_idempotent_on_redelivery(spark, tmp_table_dir):
    """A redelivered batch (crash/retry) must not duplicate or pollute
    the change log: the batch-id high-watermark in the sink's props
    skips the second append entirely."""
    feed = _feed(spark, 2)
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    b0 = feed.filter(F.col("batch") == 0).drop("batch")
    b1 = feed.filter(F.col("batch") == 1).drop("batch")
    apply_batch(pipe, b0, batch_id=0)
    apply_batch(pipe, b1, batch_id=1)
    before = pipe.change_log.read(spark).count()
    apply_batch(pipe, b1, batch_id=1)  # redelivery
    assert pipe.change_log.read(spark).count() == before
    assert pipe.change_log.props["last_batch_id"] == 1


def test_metrics_append_idempotent_on_redelivery(spark, tmp_table_dir):
    """A redelivered batch id (a crash after the metrics append, before
    the runs row) appends no second copy of its bucket metrics."""
    feed = _feed(spark, 2)
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    replay(pipe, feed)
    before = pipe.metrics.read(spark).count()
    version = pipe.metrics.current_version()
    apply_batch(pipe, feed.filter(F.col("batch") == 1).drop("batch"), batch_id=1)
    assert pipe.metrics.read(spark).count() == before
    assert pipe.metrics.current_version() == version
    assert pipe.metrics.props["last_batch_id"] == 1


def test_change_log_new_feed_restarting_batch_ids_still_logged(spark, tmp_table_dir):
    """The redelivery dedup must only skip an append for EXACTLY the
    last batch id — a fresh batch-mode replay whose numbering restarts
    at 0 is new data and must be logged."""
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    f1 = change_feed(spark, 500, 50, seed=1, num_batches=2, min_len=2, max_len=8)
    replay(pipe, f1)  # batches 0, 1
    before = pipe.change_log.read(spark).count()
    f2 = change_feed(spark, 500, 50, seed=2, num_batches=2, min_len=2, max_len=8)
    replay(pipe, f2)  # batch ids restart at 0 — still new events
    assert pipe.change_log.read(spark).count() > before


def test_quarantine_new_feed_same_batch_id_still_written(spark, tmp_table_dir):
    """The quarantine redelivery dedup is CONTENT-fingerprinted: a new
    feed whose numbering restarts at the last batch id (even with the
    same input row count) carries different bad rows and must append —
    while an exact redelivery of the same batch still dedups."""
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=4)
    shape = (
        "op string, doc_id string, lsn long, tokens array<int>, n_tok int, "
        "source string, ts timestamp"
    )
    f1 = spark.createDataFrame(
        [("insert", "a", 1, [1], 1, "darkweb", None),
         ("insert", "b", 2, [2], 1, "wiki", None)], shape
    )
    apply_batch(pipe, f1, batch_id=0)
    assert pipe.quarantine.read(spark).count() == 1
    apply_batch(pipe, f1, batch_id=0)  # exact redelivery: deduped
    assert pipe.quarantine.read(spark).count() == 1
    f2 = spark.createDataFrame(
        [("insert", "c", 3, [3], 1, "darkweb", None),
         ("insert", "d", 4, [4], 1, "wiki", None)], shape
    )
    apply_batch(pipe, f2, batch_id=0)  # new feed, same id + row count
    got = {r["doc_id"] for r in pipe.quarantine.read(spark).collect()}
    assert got == {"a", "c"}


def test_reprocess_rejects_stale_batch_id(spark, tmp_table_dir):
    import pytest

    from horizon_etl_spark.cdc.apply import reprocess_quarantine

    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p2"), bucket_count=4)
    bad = spark.createDataFrame(
        [("insert", "x", 1, [1], 1, "darkweb", None)],
        "op string, doc_id string, lsn long, tokens array<int>, n_tok int, "
        "source string, ts timestamp",
    )
    apply_batch(pipe, bad, batch_id=7)
    with pytest.raises(ValueError):
        reprocess_quarantine(pipe, spark, batch_id=7)


def test_lineage_tables_written(spark, tmp_table_dir):
    feed = _feed(spark, 2)
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    replay(pipe, feed)
    runs = pipe.runs.read(spark).orderBy("batch_id").collect()
    assert [r["batch_id"] for r in runs] == [0, 1]
    assert all(r["status"] == "success" for r in runs)
    m = pipe.metrics.read(spark)
    assert m.count() > 0
    assert m.filter(F.col("max_key_rows") < 1).count() == 0
    cl = pipe.change_log.read(spark)
    assert cl.filter(~F.col("op_applied").isin(
        "insert", "update", "delete", "delete_noop", "skipped_stale")).count() == 0
    # change log has before/after images for updates
    upd = cl.filter(F.col("op_applied") == "update")
    if upd.count() > 0:
        assert upd.filter(F.col("after_n_tok").isNull()).count() == 0


def _asserts_n_tok(e):
    return e["op"] != "delete" and (e["fields"] is None or "n_tok" in e["fields"])


@pytest.mark.parametrize("mode", ["whole_row", "attr"])
def test_bucket_metrics_equal_batch_recompute(spark, tmp_table_dir, mode):
    """Every (batch_id, bucket_id) metrics row equals a recomputation
    from the batch's own events: events in, distinct keys, hottest-key
    events and winner bytes (n_tok of the key's LWW winner — the latest
    event in whole-row mode, the latest event asserting n_tok in
    per-attribute mode)."""
    nb, num_batches = 4, 3
    feed = change_feed(spark, 1_200, 150, seed=5, num_batches=num_batches, max_len=8)
    if mode == "attr":
        m = F.pmod(F.xxhash64(F.col("lsn"), F.lit("fields")), F.lit(3))
        feed = feed.withColumn(
            "fields",
            F.when(m == 0, F.lit(None).cast("array<string>"))
            .when(m == 1, F.array(F.lit("tokens"), F.lit("n_tok")))
            .otherwise(F.array(F.lit("source"))),
        )
    pipe = CdcPipeline.create(
        os.path.join(tmp_table_dir, "p"), bucket_count=nb, attr_lww=mode == "attr"
    )
    for b in range(num_batches):
        run = apply_batch(pipe, feed.filter(F.col("batch") == b), batch_id=b)
        assert run["quarantined"] == 0
    # the merge batch carries the metrics' per-key event counts; they
    # must never reach the target's schema
    assert "_key_events" not in pipe.target.read(spark).columns

    events = defaultdict(list)  # (batch, bucket, key) -> events
    for e in feed.withColumn("_b", bucket_expr("doc_id", nb)).collect():
        events[(e["batch"], e["_b"], e["doc_id"])].append(e.asDict())
    expected = defaultdict(lambda: [0, 0, 0, 0])
    for (b, bucket, _key), evs in events.items():
        if mode == "attr":
            asserting = [e for e in evs if _asserts_n_tok(e)]
            winner = max(asserting, key=lambda e: e["lsn"]) if asserting else None
        else:
            winner = max(evs, key=lambda e: e["lsn"])
        n_tok = (winner or {}).get("n_tok") or 0
        acc = expected[(b, bucket)]
        acc[0] += len(evs)
        acc[1] += 1
        acc[2] = max(acc[2], len(evs))
        acc[3] += n_tok * 4 + 64

    rows = pipe.metrics.read(spark).collect()
    got = {
        (r["batch_id"], r["bucket_id"]): [
            r["rows_in"], r["distinct_keys"], r["max_key_rows"], r["winner_bytes"]
        ]
        for r in rows
    }
    assert len(got) == len(rows)
    assert got == dict(expected)
    valid = {r["batch_id"]: r["input_rows"] - r["quarantined"] for r in pipe.runs.read(spark).collect()}
    for b in range(num_batches):
        assert sum(v[0] for (bb, _), v in got.items() if bb == b) == valid[b]


def test_change_log_incremental_subscription(spark, tmp_table_dir):
    """Downstream-consumer contract: the change_log is an append-only
    table, so a subscriber polls it with read_appends(from_version) and
    receives exactly the change images committed since its cursor —
    never a full-table rescan (Iceberg incremental-scan over the CDC
    lineage stream; the read_appends docstring points merge-table
    consumers here)."""
    feed = _feed(spark, 3)
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    apply_batch(pipe, feed.filter(F.col("batch") == 0).drop("batch"), 0)
    cursor = pipe.change_log.current_version()
    for b in (1, 2):
        apply_batch(pipe, feed.filter(F.col("batch") == b).drop("batch"), b)
    delta = pipe.change_log.read_appends(spark, from_version=cursor)
    full = pipe.change_log.read(spark)
    assert set(r["batch_id"] for r in delta.select("batch_id").distinct().collect()) == {1, 2}
    assert delta.count() == full.filter(F.col("batch_id") >= 1).count()
    # the commit history is inspectable and explains itself
    ops = [h["operation"] for h in pipe.change_log.history()]
    assert ops[0] == "create" and all(op == "change_log" for op in ops[1:])


def test_pipeline_rollback_to_batch_and_reapply(spark, tmp_table_dir):
    """Coordinated point-in-time rollback: a poisoned batch 2 ships,
    rollback_to_batch(1) rewinds target/change_log/rollup/quarantine/
    metrics to their post-batch-1 snapshots (runs keeps the audit
    trail), and re-applying batch 2 reconverges to the full oracle —
    the idempotency watermarks must revert with the data."""
    from horizon_etl_spark.cdc.apply import rollback_to_batch

    feed = _feed(spark, 3)
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    replay(pipe, feed, with_rollup=True)
    assert_frames_equal(_final(pipe, spark), expected_final(feed))

    restored = rollback_to_batch(pipe, spark, 1)
    assert set(restored) == {"target", "quarantine", "metrics", "change_log", "rollup"}
    prefix = feed.filter(F.col("batch") <= 1)
    assert_frames_equal(_final(pipe, spark), expected_final(prefix))
    # lineage rewound with the data
    assert pipe.change_log.read(spark).filter(F.col("batch_id") == 2).count() == 0
    assert pipe.metrics.read(spark).filter(F.col("batch_id") == 2).count() == 0
    # rollup consistent with the rolled-back target
    from tests.test_rollup import _assert_rollup_consistent
    _assert_rollup_consistent(pipe, spark)
    # audit: runs table was NOT rolled back and records the operation
    runs = pipe.runs.read(spark)
    assert runs.filter(F.col("status") == "rollback").count() == 1
    assert runs.filter(F.col("batch_id") == 2).count() == 1  # history kept

    # re-apply batch 2 — watermarks reverted, so it is NOT suppressed
    apply_batch(pipe, feed.filter(F.col("batch") == 2).drop("batch"), 2,
                with_rollup=True)
    assert_frames_equal(_final(pipe, spark), expected_final(feed))
    _assert_rollup_consistent(pipe, spark)
    assert pipe.change_log.read(spark).filter(F.col("batch_id") == 2).count() > 0

    # unknown batch -> clear error
    import pytest
    with pytest.raises(ValueError, match="no success run row"):
        rollback_to_batch(pipe, spark, 99)
