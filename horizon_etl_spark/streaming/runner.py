"""Structured Streaming front-end: tail a change-feed directory and
apply each micro-batch through the CDC kernel.

This is the reference's run/epoch model (one Prefect flow run = one
epoch with success/failure finalization,
/root/reference/src/tracking/recorder.py:91-127) mapped onto
``foreachBatch``: the checkpoint gives resumable offsets (T7 — crash
containment + resume,
/root/reference/src/flows/pipelines/weekly_orchestrator.py:1-40), and
the kernel's idempotent MERGE makes a re-delivered batch a no-op (T2).

MERGE is not a native streaming sink, so micro-batch + foreachBatch is
the idiomatic (and only) Spark shape — which is exactly the reference's
batch-per-file-drop model (SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from horizon_etl_spark.cdc.apply import CdcPipeline, apply_batch
from horizon_etl_spark.cdc.schema import CHANGE_FEED_SCHEMA


def run_stream(
    spark: SparkSession,
    pipe: CdcPipeline,
    input_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    collect_metrics: bool = True,
    with_rollup: bool = False,
    feed_format: str = "parquet",
    feed_schema=None,
    batch_hook=None,
    vocab_size: int | None = None,
):
    """Start (and by default drain) a file-source stream over change-event
    files dropped into ``input_dir`` (``feed_format``: parquet for
    columnar feeds, json for Debezium/WAL-style text tails).

    ``feed_schema`` overrides the reader schema — a file-source stream
    cannot discover new payload columns mid-stream, so additive schema
    evolution on a LIVE tail is an operational handoff: the producer
    registers the evolved schema (schema-registry style), the stream is
    restarted from its checkpoint with the new schema, and the apply
    kernel's merge evolves the target table on first contact.  Events
    read before the restart keep the old shape (their new columns were
    never decoded) — same contract as any Spark streaming source.

    Returns the StreamingQuery (already awaited when available_now).
    """
    reader = spark.readStream.schema(feed_schema or CHANGE_FEED_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if feed_format == "json":
        feed = reader.json(input_dir)
    elif feed_format == "csv":
        # flat-file drops (reference S1 Excel/CSV ingest,
        # project_loader.py:79-93).  The wire is the SAME all-string
        # convention as the .xlsx feed (one shared implementation in
        # sources/xlsx.py: each array<T> column rides as ``<name>_txt``
        # space-joined text, everything decodes JVM-side with try_cast —
        # a malformed producer cell surfaces as null and is quarantined
        # by the validators, never aborts the stream under Spark 4's
        # ANSI mode).  Derived from the logical feed schema, so the
        # schema-evolution restart handoff documented above works for
        # CSV feeds too.  CSV cannot distinguish null from an EMPTY
        # array (both round-trip as an empty cell → null): per-attribute
        # feeds that use `fields = []` (assert nothing) need a typed
        # feed format (parquet/json).
        from horizon_etl_spark.sources.xlsx import decoded_cols, wire_schema

        logical = feed_schema or CHANGE_FEED_SCHEMA
        raw = spark.readStream.schema(wire_schema(logical)).option("header", "false")
        if max_files_per_trigger is not None:
            raw = raw.option("maxFilesPerTrigger", str(max_files_per_trigger))
        feed = raw.csv(input_dir).select(*decoded_cols(logical))
    elif feed_format == "xlsx":
        # binary Excel drops (S1): real .xlsx workbooks parsed with the
        # stdlib OOXML reader, per-file inside mapInPandas — see
        # horizon_etl_spark/sources/xlsx.py for the wire contract
        # (header-name column matching, serial-date handling).
        from horizon_etl_spark.sources.xlsx import xlsx_feed

        feed = xlsx_feed(
            spark,
            input_dir,
            feed_schema or CHANGE_FEED_SCHEMA,
            max_files_per_trigger=max_files_per_trigger,
            # dead-letter markers for corrupt drops live with the
            # checkpoint (same shared fs, same job scope)
            corrupt_dir=f"{checkpoint_dir}/_corrupt_xlsx",
        )
    else:
        feed = reader.parquet(input_dir)

    def _apply(df, batch_id: int):
        if batch_hook is not None:
            batch_hook(df, batch_id)
        apply_batch(
            pipe,
            df,
            batch_id=batch_id,
            collect_metrics=collect_metrics,
            with_rollup=with_rollup,
            vocab_size=vocab_size,
        )

    writer = (
        feed.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def run_stream_with_retry(
    spark: SparkSession,
    pipe: CdcPipeline,
    input_dir: str,
    checkpoint_dir: str,
    max_retries: int = 3,
    backoff_base_s: float = 1.0,
    backoff_factor: float = 2.0,
    sleep_fn=None,
    **kwargs,
):
    """Bounded retry with exponential backoff around the stream (T8:
    the reference's 429 backoff ×3,
    /root/reference/src/adapters/sources/sigpesq/adapter.py:98-136).

    Spark task retries cover transient EXECUTOR failures; this wrapper
    covers failures that kill the whole query (source outage, driver
    exception escaping foreachBatch).  Each retry restarts from the
    CHECKPOINT, so every micro-batch committed before the failure stays
    committed and the failed one is redelivered — combined with the
    kernel's idempotent MERGE this keeps exactly-once across retries.
    After ``max_retries`` failed restarts the last error propagates
    (crash containment: the orchestrator decides, reference
    weekly_orchestrator.py:1-40).

    Requires the drain-and-return trigger: with ``available_now=False``
    ``run_stream`` returns a live StreamingQuery immediately and a later
    source outage kills it ASYNCHRONOUSLY — no exception would ever
    reach this wrapper, so it would silently provide zero retry
    coverage.  A live tail needs an external supervisor (the
    orchestrator); refuse rather than pretend."""
    import time

    # truthiness, not identity: run_stream's own branch is
    # `if available_now:`, so 0/None/"" would equally start a live
    # tail and silently escape retry coverage
    if not kwargs.get("available_now", True):
        raise ValueError(
            "run_stream_with_retry requires available_now=True; a live "
            "tail's failures are asynchronous and must be supervised by "
            "the orchestrator, not this wrapper"
        )

    sleep = sleep_fn or time.sleep
    attempt = 0
    while True:
        try:
            return run_stream(spark, pipe, input_dir, checkpoint_dir, **kwargs)
        except Exception:
            attempt += 1
            if attempt > max_retries:
                raise
            sleep(backoff_base_s * backoff_factor ** (attempt - 1))
