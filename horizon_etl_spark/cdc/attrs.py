"""Per-attribute (field-level) LWW — partial-update change events.

The reference's conflict resolution is *field-level*: the latest
selected assertion per ``(entity, attribute)`` wins
(/root/reference/src/core/logic/canonical_exporter.py:749-753, first-hit
fold :834-850; /root/reference/src/tracking/entities/attribute_assertion.py:8-44).
A change event may therefore carry only a subset of columns; columns it
doesn't assert must keep their previous value — whole-row LWW would
wrongly null them.

Event contract: the feed gains an optional ``fields: array<string>``
column naming the payload columns the event asserts.  ``fields = null``
means "all payload columns" (full-row event — backward compatible);
``fields = []`` asserts nothing.  ``op = 'delete'`` wipes every
attribute of the key at that lsn.

Semantics (a pure function of the event set — commutative/associative/
idempotent across batch boundaries, replay order, duplicate delivery):

  attribute value = value of the latest assertion of that attribute
                    whose lsn is ABOVE the key's latest delete lsn
  row exists      = at least one attribute is live

Physical strategy: one ``groupBy(key)`` with per-column conditional
``max_by`` aggregates — a single partial+final aggregation, same
skew-collapsing shape as :func:`horizon_etl_spark.cdc.lww.lww_reduce`.
Like it, a frame carrying ``_bucket`` groups by ``(_bucket, key)``:
``apply_batch`` places a batch it predicts not skewed by bucket
first, so the partial aggregation runs after that placement and a
hot key's raw events would cross the shuffle; a batch predicted
skewed keeps the unplaced reduce.  It is the only attr reducer: max_by
over assertion lsns and max over delete watermarks already combine
map-side, so no salted two-phase variant is needed.
Cross-batch state lives in the attr-LWW table's per-column assertion
lsns + per-row delete watermark
(:meth:`horizon_etl_spark.tables.lake.LakeTable.merge_attrs`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from horizon_etl_spark.tables.lake import BUCKET_COL, DEL_LSN_COL, alsn_col


def attr_lww_reduce(
    df: DataFrame,
    key: str = "doc_id",
    order: str = "lsn",
    payload_cols: list[str] | None = None,
    fields_col: str = "fields",
    op_col: str = "op",
    delete_op: str = "delete",
    with_counts: bool = False,
) -> DataFrame:
    """Collapse one batch to one row per key with per-attribute winners.

    Output: ``key``, each payload column's batch-winning value, its
    assertion lsn ``_alsn_<col>`` (null if the batch never asserted the
    column), and ``_del_lsn`` (the batch's max delete lsn, null if no
    delete).  ``with_counts`` adds ``_key_events`` (collapsed events
    per key — the skew metric, free inside the same aggregation).  A
    ``_bucket`` column is kept as a grouping column.
    Feed straight into ``LakeTable.merge_attrs``.
    """
    reserved = {key, order, fields_col, op_col, "ts", "batch", BUCKET_COL}
    payload_cols = payload_cols or [c for c in df.columns if c not in reserved]
    has_fields = fields_col in df.columns
    not_delete = F.col(op_col) != delete_op

    def asserts(c: str) -> F.Column:
        if not has_fields:
            return not_delete
        return not_delete & (
            F.col(fields_col).isNull() | F.array_contains(F.col(fields_col), c)
        )

    aggs = []
    for c in payload_cols:
        # max_by ignores rows whose ordering expression is null, so the
        # WHEN gate implements FILTER (WHERE asserts(c)) inside one
        # partial+final aggregation
        aggs.append(
            F.max_by(
                F.struct(F.col(order).alias("l"), F.col(c).alias("v")),
                F.when(asserts(c), F.col(order)),
            ).alias(f"_w_{c}")
        )
    aggs.append(
        F.max(F.when(F.col(op_col) == delete_op, F.col(order))).alias(DEL_LSN_COL)
    )
    if with_counts:
        aggs.append(F.count(F.lit(1)).alias("_key_events"))
    placed = [BUCKET_COL] if BUCKET_COL in df.columns else []
    out = df.groupBy(*placed, key).agg(*aggs)
    return out.select(
        *placed,
        key,
        *[F.col(f"_w_{c}.v").alias(c) for c in payload_cols],
        *[F.col(f"_w_{c}.l").alias(alsn_col(c)) for c in payload_cols],
        DEL_LSN_COL,
        *(["_key_events"] if with_counts else []),
    )


def sequential_fold_oracle(events, payload_cols):
    """Independent oracle for tests: fold collected event rows one at a
    time in (lsn) order — the imperative semantics the distributed
    reduction must equal.  ``events``: iterables with .op/.doc_id/.lsn/
    .fields + payload attributes.  Returns {doc_id: {col: value}} for
    live rows only."""
    state: dict[str, dict] = {}
    for e in sorted(events, key=lambda r: r["lsn"]):
        k = e["doc_id"]
        if e["op"] == "delete":
            state.pop(k, None)
            continue
        fields = e["fields"] if e["fields"] is not None else list(payload_cols)
        if not fields:
            continue
        row = state.setdefault(k, {c: None for c in payload_cols})
        for c in fields:
            row[c] = e[c]
    return state
