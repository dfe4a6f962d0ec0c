"""Structured Streaming path: checkpointed resume + exactly-once.

Mirrors the reference's resumable subprocess-isolated phases
(/root/reference/src/flows/pipelines/weekly_orchestrator.py:1-40) and
the full-refresh replay equivalence (/root/reference/README.md:219-223).
"""

import os

from pyspark.sql import functions as F

from horizon_etl_spark.cdc.apply import CdcPipeline
from horizon_etl_spark.cdc.generator import change_feed
from horizon_etl_spark.cdc.oracle import assert_frames_equal, expected_final
from horizon_etl_spark.streaming.runner import run_stream


def _write_feed_files(feed, out_dir, col="batch"):
    """One parquet file-drop per batch value (the reference's per-year
    file drops, /root/reference/src/flows/sigpesq/advisorships.py:29-39)."""
    ids = sorted(r[0] for r in feed.select(col).distinct().collect())
    for b in ids:
        feed.filter(F.col(col) == b).drop(col).coalesce(1).write.mode(
            "append"
        ).parquet(out_dir)
    return ids


def test_stream_drain_matches_oracle(spark, tmp_table_dir):
    feed = change_feed(spark, 3000, 150, seed=42, num_batches=4, min_len=4, max_len=32)
    src = os.path.join(tmp_table_dir, "feed")
    _write_feed_files(feed, src)
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    run_stream(
        spark, pipe, src, os.path.join(tmp_table_dir, "ckpt"), max_files_per_trigger=1
    )
    assert_frames_equal(pipe.target.read(spark), expected_final(feed))
    assert pipe.runs.read(spark).count() >= 4  # one run row per micro-batch


def test_stream_restart_from_checkpoint(spark, tmp_table_dir):
    feed = change_feed(spark, 3000, 150, seed=5, num_batches=6, min_len=4, max_len=32)
    src = os.path.join(tmp_table_dir, "feed")
    ckpt = os.path.join(tmp_table_dir, "ckpt")
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)

    # phase 1: only the first half of the files exists; drain and stop
    first = feed.filter(F.col("batch") < 3)
    rest = feed.filter(F.col("batch") >= 3)
    _write_feed_files(first, src)
    run_stream(spark, pipe, src, ckpt, max_files_per_trigger=1)
    mid_runs = pipe.runs.read(spark).count()
    assert mid_runs >= 3

    # phase 2: more files arrive; restart with the SAME checkpoint
    _write_feed_files(rest, src)
    run_stream(spark, pipe, src, ckpt, max_files_per_trigger=1)

    assert_frames_equal(pipe.target.read(spark), expected_final(feed))
    # no batch processed twice: applied totals equal a fresh replay's
    runs = pipe.runs.read(spark)
    assert runs.filter(F.col("status") != "success").count() == 0


def test_stream_json_tail_with_rollup(spark, tmp_table_dir):
    """Debezium/WAL-style JSON text tail (feed_format=json) with
    incremental rollup maintenance."""
    feed = change_feed(spark, 3000, 150, seed=11, num_batches=3, min_len=4, max_len=32)
    src = os.path.join(tmp_table_dir, "feed")
    for b in sorted(r[0] for r in feed.select("batch").distinct().collect()):
        feed.filter(F.col("batch") == b).drop("batch").coalesce(1).write.mode(
            "append"
        ).option("compression", "gzip").json(src)
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    run_stream(
        spark,
        pipe,
        src,
        os.path.join(tmp_table_dir, "ckpt"),
        max_files_per_trigger=1,
        feed_format="json",
        with_rollup=True,
    )
    # ts survives the JSON round-trip as a column but values may lose
    # precision; the payload-equality invariant is over the target cols
    final = pipe.target.read(spark)
    oracle = expected_final(feed)
    assert_frames_equal(final, oracle)
    # rollup agrees with a full recompute from the final state
    actual = pipe.rollup.read(spark)
    expected = final.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )
    assert actual.exceptAll(expected).count() == 0
    assert expected.exceptAll(actual).count() == 0


def test_stream_csv_flat_file_drops(spark, tmp_table_dir):
    """CSV flat-file drops (S1 analogue: the reference's Excel ingest,
    project_loader.py:79-93) — tokens as space-joined text, decoded
    JVM-side."""
    feed = change_feed(spark, 2000, 100, seed=13, num_batches=2, min_len=2, max_len=8)
    src = os.path.join(tmp_table_dir, "feed")
    csv_feed = feed.withColumn(
        "tokens_txt", F.array_join("tokens", " ")
    ).select("op", "doc_id", "lsn", "tokens_txt", "n_tok", "source", "ts", "batch")
    for b in [0, 1]:
        csv_feed.filter(F.col("batch") == b).drop("batch").coalesce(1).write.mode(
            "append"
        ).csv(src)
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    run_stream(
        spark, pipe, src, os.path.join(tmp_table_dir, "ckpt"),
        max_files_per_trigger=1, feed_format="csv",
    )
    assert_frames_equal(pipe.target.read(spark), expected_final(feed))


def test_stream_csv_attr_feed_with_string_arrays(spark, tmp_table_dir):
    """CSV wire derivation covers array<string> columns too: an
    attr-mode feed (fields column) streams through a CSV drop."""
    from horizon_etl_spark.cdc.schema import ATTR_CHANGE_FEED_SCHEMA

    rows = [
        {"op": "update", "doc_id": "a", "lsn": 1, "tokens": [1, 2], "n_tok": 2,
         "source": "wiki", "ts": None, "fields": None},
        {"op": "update", "doc_id": "a", "lsn": 2, "tokens": None, "n_tok": None,
         "source": "code", "ts": None, "fields": ["source"]},
        {"op": "update", "doc_id": "b", "lsn": 3, "tokens": [7], "n_tok": 1,
         "source": "books", "ts": None, "fields": ["tokens", "n_tok"]},
    ]
    feed = spark.createDataFrame(rows, ATTR_CHANGE_FEED_SCHEMA)
    csv_cols = [
        F.array_join(f.name, " ").alias(f"{f.name}_txt")
        if f.name in ("tokens", "fields") else F.col(f.name)
        for f in ATTR_CHANGE_FEED_SCHEMA.fields
    ]
    src = os.path.join(tmp_table_dir, "feed")
    feed.select(*csv_cols).coalesce(1).write.csv(src)
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=4,
                              attr_lww=True)
    run_stream(spark, pipe, src, os.path.join(tmp_table_dir, "ckpt"),
               feed_format="csv", feed_schema=ATTR_CHANGE_FEED_SCHEMA)
    rows_out = {r["doc_id"]: r for r in pipe.target.read(spark).collect()}
    assert rows_out["a"]["tokens"] == [1, 2]      # untouched by partial lsn 2
    assert rows_out["a"]["source"] == "code"      # asserted at lsn 2
    assert rows_out["b"]["tokens"] == [7] and rows_out["b"]["source"] is None


def test_stream_retry_backoff_recovers_transient_failure(spark, tmp_table_dir):
    """T8: a transient failure that kills the stream mid-batch is
    retried with backoff from the checkpoint; committed batches are not
    redone and the final state still equals the oracle.  Exhausted
    retries propagate the error."""
    import pytest

    from horizon_etl_spark.streaming.runner import run_stream_with_retry

    feed = change_feed(spark, 2000, 100, seed=31, num_batches=3, min_len=2, max_len=8)
    src = os.path.join(tmp_table_dir, "feed")
    _write_feed_files(feed, src)

    fails = {"left": 2}
    sleeps = []

    def flaky_hook(df, batch_id):
        if batch_id == 1 and fails["left"] > 0:
            fails["left"] -= 1
            raise RuntimeError("simulated transient source failure")

    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    run_stream_with_retry(
        spark, pipe, src, os.path.join(tmp_table_dir, "ckpt"),
        max_retries=3, backoff_base_s=0.1, sleep_fn=sleeps.append,
        max_files_per_trigger=1, batch_hook=flaky_hook,
    )
    assert_frames_equal(pipe.target.read(spark), expected_final(feed))
    assert sleeps == [0.1, 0.2]  # exponential backoff, one per retry
    # batch 0 committed once despite two stream restarts
    runs = pipe.runs.read(spark)
    assert runs.filter((F.col("batch_id") == 0) & (F.col("status") == "success")).count() == 1

    # retries exhausted → error propagates
    always = {"left": 99}

    def dead_hook(df, batch_id):
        always["left"] -= 1
        raise RuntimeError("permanent failure")

    pipe2 = CdcPipeline.create(os.path.join(tmp_table_dir, "p2"), bucket_count=8)
    with pytest.raises(Exception):
        run_stream_with_retry(
            spark, pipe2, src, os.path.join(tmp_table_dir, "ckpt2"),
            max_retries=1, backoff_base_s=0.0, sleep_fn=sleeps.append,
            batch_hook=dead_hook,
        )


def test_stream_csv_honors_evolved_feed_schema(spark, tmp_table_dir):
    """The CSV wire schema is derived from ``feed_schema`` (array<int>
    columns become <name>_txt at the same position), so the documented
    schema-evolution restart handoff works for flat-file feeds too."""
    from horizon_etl_spark.cdc.generator import evolved_feed

    feed = evolved_feed(spark, 1500, 100, num_batches=2)
    logical = feed.drop("batch").schema
    csv_cols = [
        F.array_join("tokens", " ").alias("tokens_txt") if f.name == "tokens" else F.col(f.name)
        for f in logical.fields
    ]
    src = os.path.join(tmp_table_dir, "feed")
    for b in [0, 1]:
        feed.filter(F.col("batch") == b).select(*csv_cols).coalesce(1).write.mode(
            "append"
        ).csv(src)
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    run_stream(
        spark, pipe, src, os.path.join(tmp_table_dir, "ckpt"),
        max_files_per_trigger=1, feed_format="csv", feed_schema=logical,
    )
    out = pipe.target.read(spark)
    assert "lang" in out.columns
    assert_frames_equal(out, expected_final(feed))


def test_retry_wrapper_refuses_live_tail(spark, tmp_table_dir):
    """available_now=False would make the retry wrapper a silent no-op
    (a live query's failures are asynchronous); it must refuse."""
    import pytest

    from horizon_etl_spark.streaming.runner import run_stream_with_retry

    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    # falsy-but-not-False values (0, None from an optional config field)
    # take the same live-tail branch in run_stream and must be refused
    # identically — an identity check would let them slip through.
    for live in (False, 0, None):
        with pytest.raises(ValueError, match="available_now"):
            run_stream_with_retry(
                spark, pipe, os.path.join(tmp_table_dir, "feed"),
                os.path.join(tmp_table_dir, "ckpt"), available_now=live,
            )


def test_stream_csv_malformed_cell_quarantined_not_abort(spark, tmp_table_dir):
    """A malformed producer cell in a CSV drop ("1 2 x" in tokens, junk
    in lsn) must surface as null via try_cast and land in QUARANTINE —
    never abort the stream under Spark 4 ANSI mode (the poison-pill
    class: checkpoint redelivery re-fails the same file forever)."""
    src = os.path.join(tmp_table_dir, "feed")
    os.makedirs(src)
    rows = [
        "update,d1,1,10 11 12,3,wiki,2024-01-01T00:00:00",   # clean
        "update,d2,2,7 8 x,3,wiki,2024-01-01T00:00:01",      # bad token elem
        "update,d3,junk,5 6,2,wiki,2024-01-01T00:00:02",     # bad lsn
        "update,d4,4,1 2 3,3,wiki,2024-01-01T00:00:03",      # clean
    ]
    with open(os.path.join(src, "drop.csv"), "w") as fh:
        fh.write("\n".join(rows) + "\n")
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=8)
    run_stream(
        spark, pipe, src, os.path.join(tmp_table_dir, "ckpt"), feed_format="csv",
    )
    final = {r["doc_id"] for r in pipe.target.read(spark).collect()}
    assert final == {"d1", "d4"}
    quar = {(r["doc_id"], r["reason"]) for r in pipe.quarantine.read(spark).collect()}
    assert quar == {("d2", "null_token"), ("d3", "null_lsn")}
