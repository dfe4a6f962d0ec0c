"""The CDC apply kernel — one micro-batch / epoch end-to-end.

Pipeline per batch (mirrors the reference ingest lifecycle, SURVEY.md §3.1):
  validate → quarantine split   (project_loader.py:524-529 skip-and-log →
                                 dead-letter table)
  dedup (doc_id, lsn)           (source_record unique constraint,
                                 source_record.py:10-17)
  LWW reduce per doc_id         (latest-assertion-wins,
                                 canonical_exporter.py:733-753)
  MERGE into target             (create_or_update handlers,
                                 initiative_handlers.py:54-106; delete
                                 semantics team_synchronizer.py:161-189)
  lineage: runs / metrics /     (ingestion_run.py:8-29;
  change_log rows                etl_flow_reporter.py:16-63)

Exactly-once: the MERGE's per-key ``lsn`` monotonicity guard makes
re-applying any batch (foreachBatch retry after crash) a no-op, and the
LWW reduction makes the result independent of batch boundaries and
intra-feed order — so checkpointed offsets + this kernel give
end-to-end exactly-once without coordination.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from horizon_etl_spark.cdc import schema as S
from horizon_etl_spark.cdc.lww import lww_reduce
from horizon_etl_spark.tables.lake import (
    BUCKET_COL,
    KEY_EVENTS_COL,
    LakeTable,
    observe_counts,
    place_by_bucket,
)


@dataclass
class CdcPipeline:
    """The five tables of one CDC ingest pipeline (FIXTURES.md §1, §4)."""

    root: str
    target: LakeTable
    quarantine: LakeTable
    runs: LakeTable
    metrics: LakeTable
    change_log: LakeTable
    rollup: LakeTable

    @classmethod
    def create(cls, root: str, bucket_count: int = 16, attr_lww: bool = False) -> "CdcPipeline":
        return cls(
            root=root,
            target=LakeTable.create(
                os.path.join(root, "target"),
                S.TARGET_SCHEMA,
                key_col="doc_id",
                bucket_count=bucket_count,
                attr_lww=attr_lww,
            ),
            quarantine=LakeTable.create(
                os.path.join(root, "quarantine"),
                S.ATTR_QUARANTINE_SCHEMA if attr_lww else S.QUARANTINE_SCHEMA,
            ),
            runs=LakeTable.create(os.path.join(root, "runs"), S.RUNS_SCHEMA),
            metrics=LakeTable.create(os.path.join(root, "metrics"), S.METRICS_SCHEMA),
            change_log=LakeTable.create(
                os.path.join(root, "change_log"),
                S.ATTR_CHANGE_LOG_SCHEMA if attr_lww else S.CHANGE_LOG_SCHEMA,
            ),
            rollup=LakeTable.create(os.path.join(root, "rollup"), S.ROLLUP_SCHEMA),
        )

    @classmethod
    def load(cls, root: str) -> "CdcPipeline":
        rollup_path = os.path.join(root, "rollup")
        return cls(
            root=root,
            target=LakeTable.load(os.path.join(root, "target")),
            quarantine=LakeTable.load(os.path.join(root, "quarantine")),
            runs=LakeTable.load(os.path.join(root, "runs")),
            metrics=LakeTable.load(os.path.join(root, "metrics")),
            change_log=LakeTable.load(os.path.join(root, "change_log")),
            rollup=(
                LakeTable.load(rollup_path)
                if LakeTable.exists(rollup_path)
                else LakeTable.create(rollup_path, S.ROLLUP_SCHEMA)
            ),
        )

    @classmethod
    def create_or_load(cls, root: str, bucket_count: int = 16) -> "CdcPipeline":
        if LakeTable.exists(os.path.join(root, "target")):
            return cls.load(root)
        return cls.create(root, bucket_count=bucket_count)


def _now():
    return datetime.now(timezone.utc).replace(tzinfo=None)


HOT_KEY_SHARE_THRESHOLD = 0.05  # hottest key > 5% of batch events → unplaced reduce

# Tables covered by coordinated pipeline rollback.  ``runs`` is the
# audit log and is deliberately NOT rolled back (rollbacks must stay
# visible in it, like the reference's ingestion_run history,
# /root/reference/src/tracking/entities/ingestion_run.py:8-29).
ROLLBACK_TABLES = ("target", "quarantine", "metrics", "change_log", "rollup")


def apply_batch(
    pipe: CdcPipeline,
    batch: DataFrame,
    batch_id: int,
    collect_metrics: bool = True,
    with_change_log: bool = True,
    with_rollup: bool = False,
    whitelist: tuple[str, ...] | None = None,
    vocab_size: int | None = None,
) -> dict[str, Any]:
    """Apply one micro-batch of change events; returns the run stats row.

    The LWW reduce's shape is chosen per batch, with no option: a batch
    predicted not skewed is placed by target bucket before its reduce
    (one shuffle fewer in the merge's summary); a batch predicted
    skewed keeps the unplaced reduce, whose partial aggregation
    combines a hot key's events map-side.  Skewed means the PREVIOUS
    batch's hottest-key event share (which rides the LWW shuffle for
    free) exceeded ``HOT_KEY_SHARE_THRESHOLD`` — change feeds have
    temporal locality, so last batch's skew is the best available
    predictor (requires ``collect_metrics``) — or the feed's plan is
    already hash-partitioned on the key.  The run row's notes say
    ``placed=``.

    Per-attribute mode is inferred from the target table: an
    ``attr_lww`` target routes the batch through ``attr_lww_reduce`` →
    ``merge_attrs`` (partial-update events with a ``fields`` column;
    validation gates payload rules on asserted columns).  Lineage in
    attr mode is FIELD-level: the change_log sink receives long-format
    per-(key, column) set/unset images (reference: every attribute
    assertion is lineage, attribute_assertion.py:8-44), and rollup
    maintenance folds the row-level images merge_attrs also returns —
    both with the same exactly-once batch-watermark guards as the
    whole-row path."""
    started = _now()
    spark = batch.sparkSession
    target_snap = pipe.target.snapshot()
    attr_mode = bool(target_snap.get("attr_lww"))
    if "batch" in batch.columns:
        batch = batch.drop("batch")

    # Bandwidth-lean plan: ONE full pass over the raw batch on the
    # clean-feed fast path:
    #   pass 1: LWW reduction materialized into the persisted
    #           `winners` (≤1 small row per key); input/valid counts
    #           ride the SAME job via an Observation placed below the
    #           validity filter, and per-key event counts for the skew
    #           metrics ride the same shuffle (`with_counts`).  Unless
    #           predicted skewed, the valid events are placed by target
    #           bucket first (`place_by_bucket`) and reduced per
    #           (bucket, key):
    #           the winners keep that placement, so the merge's
    #           per-bucket summary starts no shuffle of its own
    #   pass 2: quarantine write — ONLY when the observed counts say
    #           bad rows exist (dirty batches; clean feeds never scan
    #           the raw batch twice)
    # Everything downstream (metrics, MERGE, rollup, stats) reads only
    # `winners` / the target — never the raw feed again.
    reason = _reason(
        "fields" if attr_mode and "fields" in batch.columns else None,
        whitelist,
        vocab_size,
    )
    tagged, counts = _tag_and_count(batch, reason, f"apply_batch_{batch_id}")
    winners = None
    stats: dict[str, Any] | None = None
    try:
        # within-batch dedup + LWW collapse in one reduction: duplicate
        # (doc_id, lsn) rows are byte-identical, so max_by keeps exactly
        # one; cross-batch dups are killed by the merge lsn-guard.
        valid = tagged.filter(F.col("_reason").isNull()).drop("_reason", "ts")
        # the bucket placement runs before the reduce, so it ships every
        # raw event of a hot key to one task with no map-side combine:
        # a batch predicted skewed keeps the unplaced reduce (whose
        # partial aggregation does combine, or which the existing key
        # partitioning already serves), and the merge tags its winners
        # with the bucket instead.  Both predictors are free of Spark
        # jobs: the metrics one (temporal locality: last batch's
        # hot-key share) OR'd with the PLAN-level one, so the FIRST
        # batch of a key-partitioned feed is already caught — the
        # metrics signal needs one skewed batch to exist first
        placed = not (_last_batch_was_skewed(pipe) or _feed_defeats_partial_agg(valid))
        if placed:
            valid = place_by_bucket(valid, target_snap["bucket_count"], "doc_id")
        if attr_mode:
            from horizon_etl_spark.cdc.attrs import attr_lww_reduce

            winners = attr_lww_reduce(valid, with_counts=True).persist()
        else:
            winners = lww_reduce(
                valid, key="doc_id", order="lsn", with_counts=True
            ).persist()

        # No explicit materialize: the FIRST downstream action over the
        # persisted winners — the merge's per-bucket aggregation, which
        # also evaluates the bucket metrics (``bucket_aggs``) — runs the
        # reduction, fills the cache every later step reuses, and fires
        # the Observation.  (A dedicated winners.count() here was one
        # whole extra job per batch for work the next action repeats
        # from cache anyway.)
        bucket_aggs = _bucket_metric_aggs() if collect_metrics else None
        pre_merge_version = pipe.target.current_version() if with_rollup else None
        # rollup maintenance evaluates the returned change images after
        # the merge, so it asks merge to keep the join cached: WE own
        # that cache (stats["persisted_join"]) and the finally below
        # releases it after _maintain_rollup has run
        persist_join = with_rollup
        if attr_mode:
            stats = pipe.target.merge_attrs(
                winners,
                change_log_sink=pipe.change_log if with_change_log else None,
                change_log_extra={"batch_id": batch_id},
                persist_join=persist_join,
                bucket_aggs=bucket_aggs,
            )
        else:
            stats = pipe.target.merge(
                winners,
                op_col="op",
                lsn_col="lsn",
                delete_op="delete",
                change_log_sink=pipe.change_log if with_change_log else None,
                change_log_extra={"batch_id": batch_id},
                persist_join=persist_join,
                bucket_aggs=bucket_aggs,
            )
        if collect_metrics:
            _write_bucket_metrics(pipe, stats["bucket_aggs"], batch_id)

        # counts rode the winners materialization
        c = counts()
        input_rows, valid_rows = c["input_rows"], c["valid_rows"]
        quarantined_rows = input_rows - valid_rows
        if quarantined_rows > 0:
            _write_quarantine(pipe, tagged, batch_id, attr_mode, input_rows)

        if with_rollup:
            # incremental derived-aggregate maintenance (A3 analogue:
            # the reference recomputes parent MIN/MAX rollups after each
            # ingest, project_loader.py:135-257; here the per-source
            # rollup is maintained from the batch's change images, so a
            # replayed batch — whose changes all report skipped_stale —
            # contributes zero delta: exactly-once extends to the MV).
            # the change images are read from the merge's still-cached
            # co-group — O(batch), unlike a scan of the ever-growing
            # change_log table, and placed by bucket, so the delta
            # collect needs no shuffle
            _maintain_rollup(
                pipe, stats["change_log"], pre_merge_version, stats["version"]
            )
        lww_rows = (
            stats["inserted"]
            + stats["updated"]
            + stats["deleted"]
            + stats["delete_noop"]
            + stats["skipped_stale"]
        )
        run = {
            "batch_id": batch_id,
            "started_at": started,
            "finished_at": _now(),
            "status": "success",
            "input_rows": input_rows,
            "applied": stats["applied"],
            "deduped": valid_rows - lww_rows,  # includes LWW-collapsed + dup rows + delete_noops
            "quarantined": quarantined_rows,
            "skipped_stale": stats["skipped_stale"],
            "delete_noop": stats["delete_noop"],
            "notes": (
                f"v{stats['version']} ins={stats['inserted']} upd={stats['updated']} "
                f"del={stats['deleted']} rewrote={stats['rewritten_files']} "
                f"carried={stats['carried_files']} placed={placed}"
            ),
            "versions": _versions_anchor(pipe),
        }
        pipe.runs.append_rows([run], operation=f"run(batch={batch_id})")
        return run
    except Exception:
        # the run-row writer fills the counts and anchor it omits with null
        failed = {
            "batch_id": batch_id,
            "started_at": started,
            "finished_at": _now(),
            "status": "failed",
            "notes": "exception during apply",
        }
        try:
            pipe.runs.append_rows([failed])
        except Exception:
            pass
        raise
    finally:
        if winners is not None:
            winners.unpersist()
        # merge kept the join cached because WE asked (persist_join):
        # release it only after every post-merge consumer — rollup
        # maintenance evaluating the change images — has run
        if stats is not None and stats.get("persisted_join") is not None:
            stats["persisted_join"].unpersist()


def _versions_anchor(pipe: CdcPipeline) -> str:
    """A run row's per-table snapshot versions, the anchor
    :func:`rollback_to_batch` restores (driver-side directory listings,
    no data scan)."""
    return json.dumps({name: getattr(pipe, name).current_version() for name in ROLLBACK_TABLES})


def _write_quarantine(
    pipe: CdcPipeline,
    tagged: DataFrame,
    batch_id: int,
    attr_mode: bool,
    input_rows: int,
) -> None:
    """Dead-letter write for the batch's invalid rows (runs AFTER the
    target merge commit and only for dirty batches).  Redelivery dedup:
    the quarantine snapshot props remember the last append's batch_id
    plus a CONTENT fingerprint (order-free multiset hash over
    (doc_id, lsn, reason) — count + decimal sum of xxhash64, the
    overflow-safe shape, O(1) result with no collect_list); only an
    exactly-matching redelivery is skipped.  A NEW feed whose batch
    numbering restarts at the same id (and even the same row count)
    carries different rows, hashes differently, and is appended —
    the old (batch_id, input_rows) key silently dropped that case."""
    quarantined = (
        tagged.filter(F.col("_reason").isNotNull())
        .withColumnRenamed("_reason", "reason")
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
        # cached so the fingerprint agg fills it and the append (the
        # common path) reads it back — the dirty batch still pays ONE
        # extra raw scan total, same as the pre-fingerprint code
        .persist()
    )
    cached = quarantined  # unpersist the PERSISTED handle, not a derivation
    try:
        fp_row = quarantined.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64("doc_id", "lsn", "reason").cast("decimal(38,0)")
            ).alias("h"),
        ).collect()[0]
        fingerprint = f"{fp_row['n']}:{fp_row['h']}"
        props = pipe.quarantine.props
        if (
            props.get("last_batch_id") == batch_id
            and props.get("last_fingerprint") == fingerprint
        ):
            return
        if attr_mode and "fields" not in quarantined.columns:
            # full-row (fields-less) batches are valid attr-mode input;
            # the attr quarantine schema still expects the column
            quarantined = quarantined.withColumn(
                "fields", F.lit(None).cast("array<string>")
            )
        pipe.quarantine.append(
            quarantined,
            operation=f"quarantine(batch={batch_id})",
            props={
                "last_batch_id": batch_id,
                "last_input_rows": input_rows,
                "last_fingerprint": fingerprint,
            },
        )
    finally:
        cached.unpersist()


def _tag_and_count(frame: DataFrame, reason, name: str):
    """Tag each row with its quarantine ``_reason`` (null = valid).
    Returns the tagged frame and the function that reads back its
    input/valid row counts, which ride the first action over it."""
    return observe_counts(
        frame.withColumn("_reason", reason),
        name,
        {
            "input_rows": F.count(F.lit(1)),
            "valid_rows": F.sum(F.when(F.col("_reason").isNull(), 1).otherwise(0)),
        },
    )


def _reason(
    fields_col: str | None = None,
    whitelist: tuple[str, ...] | None = None,
    vocab_size: int | None = None,
):
    from horizon_etl_spark.cdc.validate import SOURCE_WHITELIST_DEFAULT, reason_column

    return reason_column(
        whitelist=whitelist or SOURCE_WHITELIST_DEFAULT,
        fields_col=fields_col,
        vocab_size=vocab_size,
    )


def _feed_defeats_partial_agg(df: DataFrame, key: str = "doc_id") -> bool:
    """PLAN-level skew predictor — covers batch 0, where the metrics
    predictor has no history yet.

    The unplaced plain reduce combines a hot key map-side: its partial
    aggregate runs before the key shuffle.  The degradation case
    (measured 2.7× in BENCH.md's skew table) is a feed whose in-session
    lineage is already hash-partitioned on the key (upstream
    ``repartition(key)``, or a prior groupBy/join on it): the LWW
    aggregation's required distribution is then satisfied, so
    EnsureRequirements inserts no pre-agg Exchange and the partial
    aggregate runs AFTER the existing shuffle — every event of a hot
    key flows through one task with no cross-partition map-side
    combine.  The bucket placement would add a second shuffle of
    those raw events, so ``apply_batch`` skips it for such a feed.
    Plain parquet/stream reads report Unknown/range partitioning
    (Spark doesn't trust on-disk layout), so normal feeds keep the
    plain fast path.

    Detection is O(plan), no job: the batch's physical plan must not
    claim ``hashpartitioning(<key>...)`` as its output partitioning.
    """
    def _is_single_key_hash(jpart) -> bool:
        # parse the JVM Partitioning object instead of regexing its
        # string form — a multi-column hashpartitioning does NOT
        # satisfy the agg's single-key distribution (Spark still
        # inserts the Exchange), so it must not keep the batch
        # unplaced; only HashPartitioning over exactly [key] counts.
        cls = jpart.getClass().getSimpleName()
        if cls == "PartitioningCollection":
            parts = jpart.partitionings()
            return any(
                _is_single_key_hash(parts.apply(i)) for i in range(parts.size())
            )
        if cls != "HashPartitioning":
            return False
        exprs = jpart.expressions()
        if exprs.size() != 1:
            return False
        # AttributeReference renders as <name>#<exprId>[qualifier...]
        return exprs.apply(0).toString().split("#", 1)[0] == key

    try:
        jpart = df._jdf.queryExecution().sparkPlan().outputPartitioning()
        return _is_single_key_hash(jpart)
    except Exception:
        return False


def _last_batch_was_skewed(pipe: CdcPipeline) -> bool:
    """Metrics skew predictor: was the hottest key of the most recent
    batch above ``HOT_KEY_SHARE_THRESHOLD`` of its events?  Reads the
    share :func:`_write_bucket_metrics` stamps on the metrics table's
    props — a manifest read, no Spark job.  No metrics yet (or metrics
    written before the stamp existed) → not skewed."""
    share = pipe.metrics.props.get("hot_key_share")
    return share is not None and share > HOT_KEY_SHARE_THRESHOLD


def _rebuild_rollup(
    pipe: CdcPipeline, spark: SparkSession, synced_version: int, operation: str
) -> None:
    """Full rollup rebuild from current target state — the ONE
    definition shared by bootstrap and crash-recovery maintenance, so
    the two paths can never diverge on the aggregate's semantics.  One
    aggregation collected to the driver, then the same driver commit
    as incremental maintenance."""
    rebuilt = pipe.target.read(spark).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.coalesce(F.col("n_tok"), F.lit(0))).cast("long").alias("total_tokens"),
    )
    _commit_rollup(
        pipe,
        {r["source"]: (r["n_docs"], r["total_tokens"]) for r in rebuilt.collect()},
        synced_version,
        operation,
    )


def _commit_rollup(
    pipe: CdcPipeline,
    groups: dict[str | None, tuple[int, int]],
    synced_version: int,
    operation: str,
) -> None:
    """Replace the rollup with ``groups`` (source → (n_docs,
    total_tokens)) from the driver: groups with no live doc left are
    dropped, and the commit records the target version it reflects."""
    rows = [
        {"source": src, "n_docs": n, "total_tokens": tok}
        for src, (n, tok) in groups.items()
        if n > 0
    ]
    pipe.rollup.overwrite_rows(
        rows, operation=operation, props={"synced_target_version": synced_version}
    )


def _rollup_deltas(changes: DataFrame) -> DataFrame:
    """Per (bucket, source) signed deltas of one batch's change images.

    Each applied change contributes up to two — a retraction against
    the before-image's source and an addition for the after-image's
    (sources can differ when a doc moves) — the standard
    retract/accumulate shape of incremental view maintenance.  The
    before image counts for an ``update``/``delete``, the after image
    for an ``insert``/``update``, whatever their ``source``: a
    per-attribute key can be live without ever asserting it, and the
    rebuild counts such docs under a null source too.
    ``skipped_stale``/``delete_noop`` changes contribute nothing.

    Both deltas come out of one ``explode`` (a Generate, which keeps
    its input's partitioning), and the aggregation groups by the
    images' ``BUCKET_COL`` first: the cached co-group is already placed
    by bucket, so Spark plans no exchange and the collect is one job at
    bucket parallelism returning O(buckets × sources) rows."""
    op = F.col("op_applied")
    retract = F.when(
        op.isin("update", "delete"),
        F.struct(
            F.col("before_source").alias("source"),
            F.lit(-1).cast("long").alias("d_docs"),
            (-F.coalesce(F.col("before_n_tok"), F.lit(0))).cast("long").alias("d_tokens"),
        ),
    )
    accumulate = F.when(
        op.isin("insert", "update"),
        F.struct(
            F.col("after_source").alias("source"),
            F.lit(1).cast("long").alias("d_docs"),
            F.coalesce(F.col("after_n_tok"), F.lit(0)).cast("long").alias("d_tokens"),
        ),
    )
    return (
        changes.select(
            BUCKET_COL, F.explode(F.array_compact(F.array(retract, accumulate))).alias("_d")
        )
        .groupBy(BUCKET_COL, "_d.source")
        .agg(F.sum("_d.d_docs").alias("d_docs"), F.sum("_d.d_tokens").alias("d_tokens"))
    )


def _maintain_rollup(
    pipe: CdcPipeline,
    changes: DataFrame,
    pre_merge_version: int | None,
    post_merge_version: int,
) -> None:
    """Fold one batch's change images into the per-source rollup table
    (source → n_docs, total_tokens).

    One Spark job collects the batch's :func:`_rollup_deltas`; the
    driver folds them into the current rollup rows (a pyarrow read) and
    commits the result with ``overwrite_rows`` — no Spark job.  The
    rollup's cardinality is |sources| (tiny), so the whole fold is
    driver work; a high-cardinality derived table would use a keyed
    additive MERGE instead (same delta feed).  Re-delivered batches
    report only ``skipped_stale`` changes and leave the rollup as it is.

    Exactly-once across the two non-atomic commits (target merge, then
    rollup commit): the rollup snapshot's props record the target
    version it reflects (``synced_target_version``).  If that doesn't
    equal the pre-merge target version, the rollup missed one or more
    committed merges — a crash landed between the two commits, or the
    rollup was enabled late — and the redelivered batch's change images
    are all ``skipped_stale`` (zero delta), so incremental folding
    would lose the gap forever.  Detection → rebuild the rollup from
    the post-merge target state (O(target), rare) instead of folding."""
    synced = pipe.rollup.props.get("synced_target_version")
    if synced != pre_merge_version:
        _rebuild_rollup(pipe, changes.sparkSession, post_merge_version, "rollup(rebuild)")
        return
    deltas = _rollup_deltas(changes).collect()
    groups = {r["source"]: (r["n_docs"], r["total_tokens"]) for r in pipe.rollup.read_rows()}
    for d in deltas:
        n, tok = groups.get(d["source"], (0, 0))
        groups[d["source"]] = (n + d["d_docs"], tok + d["d_tokens"])
    _commit_rollup(pipe, groups, post_merge_version, "rollup")


def _bucket_metric_aggs() -> dict[str, Column]:
    """Per-partition lineage (north_rule 'per-partition lineage + metrics'):
    per target bucket — events in, distinct keys, hottest-key event
    count (the skew signal that keeps the next batch's reduce
    unplaced), winner payload bytes.  Aggregates over the already-reduced winners (whose
    ``_key_events`` rode the LWW shuffle), evaluated by the merge's one
    per-bucket aggregation — no pass of their own."""
    return {
        "rows_in": F.sum(KEY_EVENTS_COL),
        "distinct_keys": F.count(F.lit(1)),
        "max_key_rows": F.max(KEY_EVENTS_COL),
        "winner_bytes": F.sum(F.coalesce(F.col("n_tok"), F.lit(0)) * 4 + 64),
    }


def _write_bucket_metrics(
    pipe: CdcPipeline, per_bucket: dict[int, dict[str, Any]], batch_id: int
) -> None:
    """Append the merge's ``bucket_aggs`` (see :func:`_bucket_metric_aggs`)
    as the batch's metrics rows: O(buckets) rows, driver-side parquet
    append, no Spark job.  Idempotent per batch like the change-log
    sink: the append records ``last_batch_id`` and a redelivery of
    exactly that batch (a crash after this append, before the runs row)
    appends nothing."""
    if pipe.metrics.props.get("last_batch_id") == batch_id:
        return
    rows = [
        {"batch_id": batch_id, "bucket_id": b, **v} for b, v in sorted(per_bucket.items())
    ]
    events = sum(v["rows_in"] or 0 for v in per_bucket.values())
    hottest = max((v["max_key_rows"] or 0 for v in per_bucket.values()), default=0)
    pipe.metrics.append_rows(
        rows,
        operation=f"metrics(batch={batch_id})",
        props={
            "last_batch_id": batch_id,
            "hot_key_share": hottest / events if events else 0.0,
        },
    )


def reprocess_quarantine(
    pipe: CdcPipeline,
    spark: SparkSession,
    batch_id: int,
    whitelist: tuple[str, ...] | None = None,
    vocab_size: int | None = None,
) -> dict[str, Any] | None:
    """Repair path: re-run every quarantined row through validation +
    apply after an operator fixed the upstream condition (widened
    source whitelist, corrected producer).  The reference's analogue is
    manual re-ingestion after skip-and-log
    (/root/reference/src/core/logic/project_loader.py:115-127).

    Rows that now validate are applied under ``batch_id``; rows still
    invalid are re-quarantined under the same ``batch_id``; the old
    quarantine rows are then dropped (overwrite keeping only the new
    batch's residue).  Crash between the apply commit and the
    quarantine rewrite is safe: a re-run re-applies the same events,
    which the merge lsn-guard turns into no-ops — idempotent like every
    other repair in this engine.  Returns the run row (None when the
    quarantine is empty).

    ``batch_id`` must be FRESH (greater than every batch_id already in
    the quarantine table) — the residue rewrite distinguishes
    still-invalid rows from consumed ones by it."""
    q = pipe.quarantine.read(spark)
    # crash-residue dedup: a crash between apply_batch's quarantine
    # append (residue under the fresh batch_id) and the overwrite below
    # leaves the table holding the old rows PLUS their residue copies;
    # events are byte-identical per (doc_id, lsn), so one dropDuplicates
    # keeps reprocessing (and the residue it rewrites) duplicate-free
    feed = q.drop("reason", "batch_id").dropDuplicates(["doc_id", "lsn"])
    if feed.limit(1).count() == 0:
        return None
    max_existing = q.agg(F.max("batch_id")).collect()[0][0]
    if max_existing is not None and batch_id <= max_existing:
        raise ValueError(
            f"reprocess batch_id {batch_id} must exceed the quarantine's "
            f"max existing batch_id {max_existing}"
        )
    run = apply_batch(
        pipe,
        feed,
        batch_id=batch_id,
        collect_metrics=False,
        with_change_log=False,
        whitelist=whitelist,
        # a pipeline validating token ranges must keep validating them
        # on the repair path — otherwise token_out_of_vocab quarantine
        # rows would re-apply UNVALIDATED once any other rule is fixed
        vocab_size=vocab_size,
    )
    residue = pipe.quarantine.read(spark).filter(F.col("batch_id") == batch_id)
    pipe.quarantine.overwrite(residue, operation=f"reprocess(batch={batch_id})")
    return run


def replay(
    pipe: CdcPipeline,
    feed: DataFrame,
    collect_metrics: bool = True,
    with_change_log: bool = True,
    with_rollup: bool = False,
) -> list[dict[str, Any]]:
    """Batch-mode replay of a whole feed, honoring its ``batch`` column
    (feeds without one apply as a single batch 0).  Used by tests and
    bench; the streaming path in ``horizon_etl_spark.streaming.runner``
    uses the same kernel.  (An earlier ``num_batches`` parameter that
    silently DISABLED batch splitting when set was removed — drop the
    ``batch`` column instead to force single-batch apply.)"""
    if "batch" in feed.columns:
        batch_ids = sorted(
            r["batch"] for r in feed.select("batch").distinct().collect()
        )
        batches = [(b, feed.filter(F.col("batch") == b)) for b in batch_ids]
    else:
        batches = [(0, feed)]
    return [
        apply_batch(
            pipe,
            batch,
            batch_id=int(b),
            collect_metrics=collect_metrics,
            with_change_log=with_change_log,
            with_rollup=with_rollup,
        )
        for b, batch in batches
    ]


# run-row batch_id for the initial snapshot load; real WAL batches are >= 0
BOOTSTRAP_BATCH_ID = -1


def bootstrap(
    pipe: CdcPipeline,
    spark: SparkSession,
    snapshot: DataFrame,
    as_of_lsn: int,
    with_rollup: bool = False,
    whitelist: tuple[str, ...] | None = None,
) -> dict[str, Any]:
    """Initial-snapshot load — the Debezium ``snapshot.mode=initial``
    handoff: bulk-load a consistent source snapshot taken at WAL
    position ``as_of_lsn`` into the EMPTY target, then tail the change
    feed; events at ``lsn <= as_of_lsn`` (already folded into the
    snapshot) are skipped by the merge's lsn guard automatically, and
    events after it apply incrementally.  The reference's analogue is
    the first full ProjectLoader run before weekly incrementals
    (/root/reference/src/core/logic/project_loader.py:79-93).

    Scale story (the reason this is not just ``apply_batch`` with
    insert events): the initial load of a 100 TB table through MERGE
    would pay the merge's key co-group + change-image machinery against an
    empty side.  This path is one validated pass: filter → bucket
    repartition → partitioned parquet write — no join, no window, the
    same single-shuffle shape as a plain bucketed CTAS.  Row counts
    ride the write via an ``Observation``.

    ``snapshot`` carries the payload columns (doc_id, tokens, n_tok,
    source, …); rows must be key-unique (it is a table snapshot).
    Validation applies the same quarantine rules as the feed path —
    invalid rows land in the quarantine table under
    ``BOOTSTRAP_BATCH_ID`` with ``lsn = as_of_lsn``, reprocessable via
    ``reprocess_quarantine``.  In attr-LWW mode every column's
    assertion lsn starts at ``as_of_lsn`` (the snapshot asserts the
    whole row)."""
    from horizon_etl_spark.tables.lake import (
        DEL_LSN_COL,
        LSN_COL,
        TOMBSTONE_COL,
        alsn_col,
    )

    started = _now()
    tsnap = pipe.target.snapshot()
    if tsnap["files"]:
        raise ValueError(
            "bootstrap requires an empty target (it is the initial load); "
            "use apply_batch/run_stream for incremental changes"
        )
    attr_mode = bool(tsnap.get("attr_lww"))

    # the feed validators expect op/lsn; a snapshot row is an insert
    # observed at the snapshot position
    feed_shape = snapshot.withColumn("op", F.lit("insert")).withColumn(
        "lsn", F.lit(as_of_lsn).cast("long")
    )
    if "ts" not in feed_shape.columns:  # quarantine rows carry the feed shape
        feed_shape = feed_shape.withColumn("ts", F.lit(None).cast("timestamp"))
    tagged, counts = _tag_and_count(feed_shape, _reason(None, whitelist), "bootstrap")

    payload = [f.name for f in S.TARGET_SCHEMA.fields]
    meta = [
        F.lit(as_of_lsn).cast("long").alias(LSN_COL),
        F.lit(False).alias(TOMBSTONE_COL),
    ]
    if attr_mode:
        meta.append(F.lit(None).cast("long").alias(DEL_LSN_COL))
        meta.extend(
            F.lit(as_of_lsn).cast("long").alias(alsn_col(c))
            for c in payload
            if c != "doc_id"
        )
    valid = tagged.filter(F.col("_reason").isNull()).select(*payload, *meta)

    version = pipe.target.overwrite(
        valid,
        operation="bootstrap",
        props={"bootstrap_lsn": as_of_lsn},
    )
    # this runs AFTER the overwrite commit, so it must not raise (that
    # would strand a non-empty target behind bootstrap's empty-target
    # precondition) — counts() falls back to a direct pass instead
    c = counts()
    input_rows, loaded = c["input_rows"], c["valid_rows"]
    if input_rows > loaded:
        _write_quarantine(pipe, tagged, BOOTSTRAP_BATCH_ID, attr_mode, input_rows)
    if with_rollup:
        _rebuild_rollup(pipe, spark, version, "rollup(bootstrap)")
    run = {
        "batch_id": BOOTSTRAP_BATCH_ID,
        "started_at": started,
        "finished_at": _now(),
        "status": "bootstrap",
        "input_rows": input_rows,
        "applied": loaded,
        "deduped": 0,
        "quarantined": input_rows - loaded,
        "skipped_stale": 0,
        "delete_noop": 0,
        "notes": f"initial snapshot load at lsn={as_of_lsn}",
        "versions": _versions_anchor(pipe),
    }
    pipe.runs.append_rows([run], operation="run(bootstrap)")
    return {
        "version": version,
        "input_rows": input_rows,
        "loaded": loaded,
        "quarantined": input_rows - loaded,
        "bootstrap_lsn": as_of_lsn,
    }


def rollback_to_batch(
    pipe: CdcPipeline, spark: SparkSession, batch_id: int
) -> dict[str, int]:
    """Coordinated pipeline point-in-time rollback: restore every
    pipeline table (``ROLLBACK_TABLES``) to the snapshot it had right
    after ``batch_id``'s run row was committed — the "bad deploy
    shipped a poisoned batch, rewind and re-apply" operation.

    Mechanics: each success run row carries a ``versions`` JSON anchor
    (per-table snapshot versions at batch completion); we roll each
    table back via ``LakeTable.rollback``, which is a NEW commit, so
    the bad batches stay inspectable until vacuumed.  Because rollback
    also reverts snapshot props, the target's ``last_batch_id`` /
    change-log watermark idempotency guards revert with the data —
    re-applying batches > ``batch_id`` (fixed or not) is NOT
    suppressed, and replay reconverges the pipeline (T3).

    The ``runs`` audit table is never rolled back; a ``rollback``
    status row is appended instead so the operation itself is lineage.
    Returns the restored per-table versions."""
    anchors = [
        r
        for r in pipe.runs.read(spark)
        .filter(
            (F.col("batch_id") == batch_id)
            & (F.col("status") == "success")
            & F.col("versions").isNotNull()
        )
        .collect()
    ]
    if not anchors:
        raise ValueError(
            f"no success run row with a versions anchor for batch {batch_id}"
        )
    # latest run of that batch wins (re-deliveries are no-op merges but
    # still write run rows)
    anchor = max(anchors, key=lambda r: (r["finished_at"], r["versions"]))
    versions: dict[str, int] = json.loads(anchor["versions"])
    restored: dict[str, int] = {}
    for name in ROLLBACK_TABLES:
        table: LakeTable = getattr(pipe, name)
        v = versions.get(name)
        if v is None:
            continue
        if table.current_version() != v:
            table.rollback(v)
        restored[name] = v
    # the target's rollback is a new commit, so a rollup that reflected
    # the anchor's target version now reflects the target's new head:
    # re-stamp it, or the next with_rollup batch would find it out of
    # sync and rebuild it from a full target scan
    head = pipe.target.current_version()
    synced = pipe.rollup.props.get("synced_target_version")
    if synced is not None and synced == versions.get("target") != head:
        pipe.rollup.set_props({"synced_target_version": head})
    audit = {
        "batch_id": batch_id,
        "started_at": _now(),
        "finished_at": _now(),
        "status": "rollback",
        "notes": f"rolled back to post-batch-{batch_id} snapshots",
        "versions": json.dumps(restored),
    }
    pipe.runs.append_rows([audit], operation=f"rollback(batch={batch_id})")
    return restored
