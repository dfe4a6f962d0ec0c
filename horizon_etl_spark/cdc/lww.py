"""Last-writer-wins reduction — the core CDC conflict-resolution
primitive (north_star: "last-writer-wins via a window over lsn per key").

Reference semantics being reproduced: attribute assertions are read
back `ORDER BY asserted_at DESC, id DESC` and the first hit per
(entity, attribute) wins (/root/reference/src/core/logic/canonical_exporter.py:733-753,
834-850).  Here the ordering authority is the strictly-per-key-monotonic
``lsn`` (FIXTURES.md §2), so the reduction is a pure function of the
event *set* — replay order, batch boundaries, and duplicate delivery
cannot change the result (SURVEY.md §7.4).

Physical strategy
-----------------
``lww_reduce`` uses ``groupBy(key).agg(max_by(payload, lsn))`` — a
declarative aggregate for which Catalyst generates *partial (map-side)
+ final* hash aggregation, i.e. each upstream task pre-collapses every
key it sees to one row before the shuffle.  A hot key therefore ships
at most one row per upstream partition — partial aggregation is itself
the skew mitigation, equivalent to salting with salt = input partition.

A frame that carries the target's ``_bucket`` column is reduced per
``(_bucket, key)`` instead, and the column is kept as it is.
``apply_batch`` places the valid events of a batch it predicts not
skewed by bucket first (``tables.lake.place_by_bucket``), so the
reduce needs no shuffle of its own and the winners stay placed for
the merge's per-bucket summary.  The partial aggregation then runs
*after* that placement: every raw event of a hot key crosses the
shuffle to one task, so a batch predicted skewed keeps the unplaced
``groupBy(key)`` and its map-side combine.  A feed already
hash-partitioned on the key is predicted skewed too: its own
partitioning serves the unplaced reduce, so no raw event is shuffled
twice.  An explicit two-phase ``(key, salt)`` reduce would not help
there: the key partitioning already satisfies that grouping, so every
event of a hot key stays in one task (BENCH.md "Hot-key skew").

A window (`row_number() over (partition by key order by lsn desc)`)
would sort every partition and ship *all* rows of a hot key to one
reducer — strictly worse at scale; kept only as an oracle in tests.

Physical note: ``max_by(struct(payload), lsn)`` compiles to partial+
final SortAggregate (struct agg buffers aren't hash-agg eligible).
Measured against the hash-agg alternative — ``groupBy(key).agg(
max(lsn))`` on pruned columns + semi-join back for the payload — the
sort-agg wins (1.7s vs 3.4s on a 2M-event, ~1KB-payload feed,
local[8]): the join-back reads and shuffles the payload twice, which
costs more than the per-partition sort.  Partial aggregation still
collapses every key map-side, so the skew property is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from horizon_etl_spark.tables.lake import BUCKET_COL


def lww_reduce(
    df: DataFrame, key: str = "doc_id", order: str = "lsn", with_counts: bool = False
) -> DataFrame:
    """One surviving event per key: the one with the highest ``order``.

    Output columns == input columns (winner's full row; a ``_bucket``
    column is a grouping column, see the module notes).  With
    ``with_counts`` an extra ``_key_events`` column carries the number
    of collapsed events per key — the hot-key/skew signal, computed for
    free inside the same partial+final aggregation (no extra pass over
    the raw feed)."""
    grouping = ([BUCKET_COL] if BUCKET_COL in df.columns else []) + [key]
    others = [c for c in df.columns if c not in grouping]
    payload = F.struct(*[F.col(c) for c in others])
    aggs = [F.max_by(payload, F.col(order)).alias("_w")]
    if with_counts:
        aggs.append(F.count(F.lit(1)).alias("_key_events"))
    out = df.groupBy(*grouping).agg(*aggs)
    cols = [*grouping, "_w.*"] + (["_key_events"] if with_counts else [])
    return out.select(*cols)

