"""Per-attribute LWW: partial-update events converge to the field-wise
sequential-fold oracle regardless of batching, order, or redelivery."""

import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from horizon_etl_spark.cdc.attrs import attr_lww_reduce, sequential_fold_oracle
from horizon_etl_spark.tables.lake import LakeTable

PAYLOAD = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("score", IntegerType(), True),
        StructField("label", StringType(), True),
    ]
)

FEED_SCHEMA = StructType(
    [
        StructField("op", StringType(), True),
        StructField("doc_id", StringType(), True),
        StructField("lsn", LongType(), True),
        StructField("score", IntegerType(), True),
        StructField("label", StringType(), True),
        StructField("fields", ArrayType(StringType()), True),
    ]
)


def feed_df(spark, rows):
    return spark.createDataFrame(
        [
            {"op": op, "doc_id": d, "lsn": l, "score": sc, "label": lb, "fields": fl}
            for (op, d, l, sc, lb, fl) in rows
        ],
        FEED_SCHEMA,
    )


def make_table(tmp_table_dir, name="t"):
    return LakeTable.create(
        os.path.join(tmp_table_dir, name),
        PAYLOAD,
        key_col="doc_id",
        bucket_count=4,
        attr_lww=True,
    )


def apply_batches(t, spark, batches):
    for rows in batches:
        t.merge_attrs(attr_lww_reduce(feed_df(spark, rows)))


def assert_matches_oracle(t, spark, all_rows):
    events = [
        {"op": op, "doc_id": d, "lsn": l, "score": sc, "label": lb, "fields": fl}
        for (op, d, l, sc, lb, fl) in all_rows
    ]
    expected = sequential_fold_oracle(events, ["score", "label"])
    got = {
        r["doc_id"]: {"score": r["score"], "label": r["label"]}
        for r in t.read(spark).collect()
    }
    assert got == expected


def test_partial_update_preserves_untouched_columns(spark, tmp_table_dir):
    t = make_table(tmp_table_dir)
    rows = [
        ("update", "a", 1, 10, "x", None),          # full row
        ("update", "a", 2, 99, None, ["score"]),    # partial: only score
    ]
    apply_batches(t, spark, [rows])
    r = t.read(spark).collect()[0]
    assert r["score"] == 99
    assert r["label"] == "x", "untouched column must survive a partial update"


def test_cross_batch_lower_lsn_partial_lands(spark, tmp_table_dir):
    """THE whole-row-LWW bug class: a later batch carrying a LOWER-lsn
    event that asserts a column never asserted before must land that
    column instead of being skipped as stale."""
    t = make_table(tmp_table_dir)
    apply_batches(t, spark, [[("update", "a", 10, 5, None, ["score"])]])
    apply_batches(t, spark, [[("update", "a", 7, None, "late", ["label"])]])
    r = t.read(spark).collect()[0]
    assert r["score"] == 5
    assert r["label"] == "late"
    # but a stale assert of an ALREADY-asserted column must not win
    apply_batches(t, spark, [[("update", "a", 3, 1, None, ["score"])]])
    assert t.read(spark).collect()[0]["score"] == 5


def test_delete_wipes_and_blocks_older_asserts(spark, tmp_table_dir):
    t = make_table(tmp_table_dir)
    apply_batches(t, spark, [[("update", "a", 1, 1, "x", None)]])
    apply_batches(t, spark, [[("delete", "a", 5, None, None, None)]])
    assert t.read(spark).count() == 0
    # assertion below the delete watermark arrives late → stays dead
    apply_batches(t, spark, [[("update", "a", 3, 7, None, ["score"])]])
    assert t.read(spark).count() == 0
    # assertion above the watermark recreates the row, other col null
    apply_batches(t, spark, [[("update", "a", 8, 42, None, ["score"])]])
    r = t.read(spark).collect()[0]
    assert r["score"] == 42 and r["label"] is None


def test_whole_row_merge_on_attr_table_is_refused(spark, tmp_table_dir):
    """``merge`` on an attr_lww table raises and commits nothing: its
    whole-row rule would take ``_del_lsn`` and the ``_alsn_*`` columns
    for payload and null them, so a delete would drop the watermark and
    a stale per-attribute assertion below it would revive the row."""
    t = make_table(tmp_table_dir)
    apply_batches(t, spark, [[("update", "a", 1, 1, "x", None)]])
    version = t.current_version()
    delete = spark.createDataFrame([("a", "delete", 10)], "doc_id string, op string, lsn long")
    with pytest.raises(ValueError, match="attr_lww"):
        t.merge(delete)
    assert t.current_version() == version
    # the same delete through merge_attrs keeps the watermark
    apply_batches(t, spark, [[("delete", "a", 10, None, None, None)]])
    apply_batches(t, spark, [[("update", "a", 7, 2, None, ["score"])]])
    assert t.read(spark).count() == 0


def test_redelivery_idempotent(spark, tmp_table_dir):
    t = make_table(tmp_table_dir)
    b = [("update", "a", 1, 1, "x", None), ("update", "b", 2, 2, None, ["score"])]
    apply_batches(t, spark, [b])
    before = sorted(tuple(r) for r in t.read(spark).collect())
    s = t.merge_attrs(attr_lww_reduce(feed_df(spark, b)))
    assert s["applied"] == 0 and s["skipped_stale"] == 2
    assert sorted(tuple(r) for r in t.read(spark).collect()) == before


def test_random_feed_any_batching_converges(spark, tmp_table_dir):
    rng = random.Random(1234)
    keys = [f"d{i}" for i in range(30)]
    rows = []
    for lsn in range(1, 400):
        k = rng.choice(keys)
        r = rng.random()
        if r < 0.12:
            rows.append(("delete", k, lsn, None, None, None))
        else:
            choice = rng.random()
            fields = (
                None
                if choice < 0.3
                else ["score"]
                if choice < 0.6
                else ["label"]
                if choice < 0.9
                else []
            )
            rows.append(("update", k, lsn, rng.randrange(1000), f"v{lsn}", fields))

    # three schedules: ordered batches, shuffled batch order, + redelivery
    def batches_of(seq, n):
        sz = (len(seq) + n - 1) // n
        return [seq[i * sz : (i + 1) * sz] for i in range(n)]

    ordered = batches_of(rows, 5)
    shuffled = ordered[::-1]
    redelivered = ordered[:3] + [ordered[1]] + ordered[3:]

    for name, sched in [("ordered", ordered), ("reversed", shuffled), ("redelivered", redelivered)]:
        t = make_table(tmp_table_dir, name)
        apply_batches(t, spark, sched)
        assert_matches_oracle(t, spark, rows)


def test_attr_mode_stream_end_to_end(spark, tmp_table_dir):
    """Full ingest path in attr mode: partial-update events streamed as
    file drops through run_stream → validate/quarantine → attr reduce →
    merge_attrs; final state equals the sequential fold oracle.  The
    partial rows carry null tokens WITHOUT asserting them (must not
    quarantine); one row asserts tokens but carries none (must)."""
    from horizon_etl_spark.cdc.apply import CdcPipeline
    from horizon_etl_spark.cdc.schema import ATTR_CHANGE_FEED_SCHEMA
    from horizon_etl_spark.streaming.runner import run_stream

    rng = random.Random(77)
    keys = [f"d{i}" for i in range(20)]
    rows = []
    for lsn in range(1, 200):
        k = rng.choice(keys)
        r = rng.random()
        if r < 0.1:
            rows.append({"op": "delete", "doc_id": k, "lsn": lsn, "tokens": None,
                         "n_tok": None, "source": None, "ts": None, "fields": None})
        elif r < 0.5:
            toks = [lsn % 97, lsn % 13]
            rows.append({"op": "update", "doc_id": k, "lsn": lsn, "tokens": toks,
                         "n_tok": 2, "source": None, "ts": None,
                         "fields": ["tokens", "n_tok"]})
        else:
            rows.append({"op": "update", "doc_id": k, "lsn": lsn, "tokens": None,
                         "n_tok": None, "source": rng.choice(["wiki", "code"]),
                         "ts": None, "fields": ["source"]})
    # one genuinely invalid row: asserts tokens but carries none
    rows.append({"op": "update", "doc_id": "bad", "lsn": 9999, "tokens": None,
                 "n_tok": None, "source": None, "ts": None, "fields": ["tokens"]})

    feed = spark.createDataFrame(rows, ATTR_CHANGE_FEED_SCHEMA)
    src = os.path.join(tmp_table_dir, "feed")
    half = len(rows) // 2
    feed.limit(half).coalesce(1).write.mode("append").parquet(src)
    feed.subtract(feed.limit(half)).coalesce(1).write.mode("append").parquet(src)

    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=4,
                              attr_lww=True)
    run_stream(spark, pipe, src, os.path.join(tmp_table_dir, "ckpt"),
               max_files_per_trigger=1, feed_schema=ATTR_CHANGE_FEED_SCHEMA)

    expected = sequential_fold_oracle(
        [r for r in rows if r["doc_id"] != "bad"], ["tokens", "n_tok", "source"]
    )
    got = {
        r["doc_id"]: {"tokens": r["tokens"], "n_tok": r["n_tok"], "source": r["source"]}
        for r in pipe.target.read(spark).collect()
    }
    assert got == expected
    q = pipe.quarantine.read(spark).collect()
    assert len(q) == 1 and q[0]["reason"] == "empty_tokens" and q[0]["doc_id"] == "bad"
    # field-level lineage flows through the STREAMING path too: the
    # long-format change log has set rows for asserted columns and
    # unset rows for delete-killed ones
    cl = pipe.change_log.read(spark)
    assert set(cl.columns) >= {"doc_id", "column", "lsn", "op_applied",
                               "before_value", "after_value", "batch_id"}
    ops = {r["op_applied"] for r in cl.select("op_applied").distinct().collect()}
    assert ops == {"set", "unset"}
    assert cl.count() > 0


def test_attr_pipeline_accepts_fieldless_batches(spark, tmp_table_dir):
    """A plain whole-row feed (no fields column) is valid attr-mode
    input; the quarantine path must not crash on the missing column
    and invalid rows must still land there."""
    from horizon_etl_spark.cdc.apply import CdcPipeline, apply_batch

    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=4,
                              attr_lww=True)
    batch = spark.createDataFrame(
        [
            ("update", "a", 1, [1, 2], 2, "wiki", None),
            ("update", "b", 2, [9], 1, "darkweb", None),  # bad_source
        ],
        "op string, doc_id string, lsn long, tokens array<int>, n_tok int, "
        "source string, ts timestamp",
    )
    run = apply_batch(pipe, batch, batch_id=0, collect_metrics=False)
    assert run["applied"] == 1 and run["quarantined"] == 1
    assert pipe.quarantine.read(spark).collect()[0]["doc_id"] == "b"
    assert pipe.target.read(spark).collect()[0]["tokens"] == [1, 2]


def test_merge_attrs_counts_watermark_advance_on_dead_row(spark, tmp_table_dir):
    """A delete for an absent/tombstoned key that advances the
    watermark counts as delete_noop (matching whole-row merge), never
    falls through the stat buckets."""
    from horizon_etl_spark.cdc.attrs import attr_lww_reduce

    t = make_table(tmp_table_dir)
    apply_batches(t, spark, [[("delete", "ghost", 5, None, None, None)]])
    s = t.merge_attrs(attr_lww_reduce(feed_df(spark, [("delete", "ghost", 9, None, None, None)])))
    assert s["delete_noop"] == 1
    assert s["applied"] == 0 and s["skipped_stale"] == 0
    # and the advanced watermark blocks an assert between 5 and 9
    apply_batches(t, spark, [[("update", "ghost", 7, 1, None, ["score"])]])
    assert t.read(spark).count() == 0


def test_attr_compact_preserves_state_and_watermarks(spark, tmp_table_dir):
    """Compaction GCs fully-dead tombstone rows but must preserve the
    per-attribute assertion lsns and the delete watermark of LIVE rows
    (a live row can carry dead attributes whose resurrection must stay
    blocked after compaction)."""
    t = make_table(tmp_table_dir)
    apply_batches(t, spark, [[
        ("update", "a", 1, 1, "x", None),
        ("update", "b", 2, 2, "y", None),
    ]])
    # delete b entirely; delete-then-partial on a leaves label dead
    apply_batches(t, spark, [[
        ("delete", "b", 5, None, None, None),
        ("delete", "a", 6, None, None, None),
        ("update", "a", 7, 9, None, ["score"]),
    ]])
    before = sorted(tuple(r) for r in t.read(spark).collect())
    t.compact(spark)
    assert sorted(tuple(r) for r in t.read(spark).collect()) == before
    # b's tombstone row is gone physically
    assert t.read(spark, include_meta=True).filter(F.col("doc_id") == "b").count() == 0
    # a's label is dead and must STAY dead for stale asserts below the
    # watermark even after compaction
    apply_batches(t, spark, [[("update", "a", 3, None, "stale", ["label"])]])
    r = t.read(spark).collect()[0]
    assert r["score"] == 9 and r["label"] is None


def test_attr_change_log_field_level_lineage(spark, tmp_table_dir):
    """merge_attrs emits one LONG lineage row per (key, column) whose
    assertion moved: 'set' with before/after values, 'unset' when the
    delete watermark kills an attribute; redelivery of the same batch_id
    appends nothing (exactly-once watermark)."""
    from horizon_etl_spark.cdc.schema import ATTR_CHANGE_LOG_SCHEMA

    t = make_table(tmp_table_dir)
    sink = LakeTable.create(
        os.path.join(tmp_table_dir, "cl"), ATTR_CHANGE_LOG_SCHEMA
    )
    b0 = [("update", "a", 1, 10, "x", None), ("update", "b", 2, 2, None, ["score"])]
    t.merge_attrs(
        attr_lww_reduce(feed_df(spark, b0)),
        change_log_sink=sink,
        change_log_extra={"batch_id": 0},
    )
    rows = {(r["doc_id"], r["column"]): r for r in sink.read(spark).collect()}
    assert set(rows) == {("a", "score"), ("a", "label"), ("b", "score")}
    assert rows[("a", "score")]["op_applied"] == "set"
    assert rows[("a", "score")]["before_value"] is None
    assert rows[("a", "score")]["after_value"] == "10"
    assert rows[("a", "score")]["lsn"] == 1
    # batch 1: partial update of a.score (label untouched → no row) and
    # delete of b (its live score attr → unset at the watermark lsn)
    b1 = [("update", "a", 5, 99, None, ["score"]), ("delete", "b", 6, None, None, None)]
    t.merge_attrs(
        attr_lww_reduce(feed_df(spark, b1)),
        change_log_sink=sink,
        change_log_extra={"batch_id": 1},
    )
    log = sink.read(spark)
    b1_rows = {(r["doc_id"], r["column"]): r for r in log.filter(F.col("batch_id") == 1).collect()}
    assert set(b1_rows) == {("a", "score"), ("b", "score")}
    assert b1_rows[("a", "score")]["before_value"] == "10"
    assert b1_rows[("a", "score")]["after_value"] == "99"
    assert b1_rows[("b", "score")]["op_applied"] == "unset"
    assert b1_rows[("b", "score")]["before_value"] == "2"
    assert b1_rows[("b", "score")]["after_value"] is None
    assert b1_rows[("b", "score")]["lsn"] == 6
    n_before = log.count()
    # redelivered batch 1 → same batch_id, zero new lineage rows
    t.merge_attrs(
        attr_lww_reduce(feed_df(spark, b1)),
        change_log_sink=sink,
        change_log_extra={"batch_id": 1},
    )
    assert sink.read(spark).count() == n_before


def test_attr_pipeline_rollup_and_change_log(spark, tmp_table_dir):
    """CdcPipeline in attr mode maintains the per-source rollup from
    merge_attrs' row-level images (incremental MV), and the pipeline
    change_log table carries the long-format field lineage; a replayed
    batch leaves both untouched."""
    from horizon_etl_spark.cdc.apply import CdcPipeline, apply_batch

    pipe = CdcPipeline.create(
        os.path.join(tmp_table_dir, "p"), bucket_count=4, attr_lww=True
    )
    feed_schema = (
        "op string, doc_id string, lsn long, tokens array<int>, n_tok int, "
        "source string, ts timestamp, fields array<string>"
    )
    b0 = spark.createDataFrame(
        [
            ("update", "a", 1, [1, 2], 2, "wiki", None, None),
            ("update", "b", 2, [3], 1, "code", None, None),
            ("update", "c", 3, [4, 5, 6], 3, "wiki", None, None),
        ],
        feed_schema,
    )
    b1 = spark.createDataFrame(
        [
            ("update", "a", 5, None, None, "books", None, ["source"]),  # doc moves
            ("delete", "c", 6, None, None, None, None, None),
            ("update", "d", 7, [7], 1, "code", None, None),
        ],
        feed_schema,
    )
    apply_batch(pipe, b0, batch_id=0, with_rollup=True, collect_metrics=False)
    apply_batch(pipe, b1, batch_id=1, with_rollup=True, collect_metrics=False)

    def recomputed():
        return {
            r["source"]: (r["n_docs"], r["total_tokens"])
            for r in pipe.target.read(spark)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(F.coalesce(F.col("n_tok"), F.lit(0))).cast("long").alias("total_tokens"),
            )
            .collect()
        }

    def rollup():
        return {
            r["source"]: (r["n_docs"], r["total_tokens"])
            for r in pipe.rollup.read(spark).collect()
        }

    assert rollup() == recomputed()
    assert rollup() == {"books": (1, 2), "code": (2, 2)}
    # field lineage landed long-format: a's source set books (before wiki)
    cl = {
        (r["doc_id"], r["column"]): r
        for r in pipe.change_log.read(spark).filter(F.col("batch_id") == 1).collect()
    }
    assert cl[("a", "source")]["before_value"] == "wiki"
    assert cl[("a", "source")]["after_value"] == "books"
    assert cl[("c", "tokens")]["op_applied"] == "unset"
    n_log = pipe.change_log.read(spark).count()
    # replayed batch: rollup + lineage unchanged (all skipped_stale)
    apply_batch(pipe, b1, batch_id=1, with_rollup=True, collect_metrics=False)
    assert rollup() == recomputed()
    assert pipe.change_log.read(spark).count() == n_log


def test_attr_change_log_replay_reconstructs_state(spark, tmp_table_dir):
    """Lineage COMPLETENESS: the field-level change log alone must
    reconstruct the final table state — fold each (key, column)'s
    latest set/unset image (by batch order) and compare against the
    live rows.  If any applied assertion ever skipped the log, or a
    spurious row were logged, this diverges."""
    from horizon_etl_spark.cdc.schema import ATTR_CHANGE_LOG_SCHEMA

    rng = random.Random(9)
    keys = [f"d{i}" for i in range(25)]
    rows = []
    for lsn in range(1, 300):
        k = rng.choice(keys)
        r = rng.random()
        if r < 0.15:
            rows.append(("delete", k, lsn, None, None, None))
        else:
            fields = (
                None if r < 0.4 else ["score"] if r < 0.7 else ["label"]
            )
            rows.append(("update", k, lsn, rng.randrange(100), f"v{lsn}", fields))
    t = make_table(tmp_table_dir)
    sink = LakeTable.create(os.path.join(tmp_table_dir, "cl"), ATTR_CHANGE_LOG_SCHEMA)
    sz = (len(rows) + 2) // 3
    for b in range(3):
        t.merge_attrs(
            attr_lww_reduce(feed_df(spark, rows[b * sz : (b + 1) * sz])),
            change_log_sink=sink,
            change_log_extra={"batch_id": b},
        )
    log = sink.read(spark)
    latest = (
        log.groupBy("doc_id", "column")
        .agg(
            F.max_by(
                F.struct("op_applied", "after_value"), F.col("batch_id")
            ).alias("w")
        )
        .select("doc_id", "column", "w.op_applied", "w.after_value")
    )
    rebuilt = {}
    for r in latest.collect():
        if r["op_applied"] == "set":
            rebuilt.setdefault(r["doc_id"], {})[r["column"]] = r["after_value"]
    expected = {
        r["doc_id"]: {
            c: (str(r[c]) if r[c] is not None else None) for c in ("score", "label")
        }
        for r in t.read(spark).collect()
    }
    # normalize: reconstruct missing columns as None
    rebuilt = {
        k: {c: v.get(c) for c in ("score", "label")} for k, v in rebuilt.items()
    }
    assert rebuilt == expected


def test_attr_schema_evolution(spark, tmp_table_dir):
    """A batch asserting a brand-new column evolves the table (payload
    col + its assertion-lsn col), old rows read null."""
    t = make_table(tmp_table_dir)
    apply_batches(t, spark, [[("update", "a", 1, 1, "x", None)]])
    evolved = spark.createDataFrame(
        [{"op": "update", "doc_id": "b", "lsn": 2, "score": 2, "label": "y",
          "lang": "pt", "fields": None}],
        StructType(list(FEED_SCHEMA.fields) + [StructField("lang", StringType(), True)]),
    )
    t.merge_attrs(attr_lww_reduce(evolved))
    rows = {r["doc_id"]: r for r in t.read(spark).collect()}
    assert rows["b"]["lang"] == "pt"
    assert rows["a"]["lang"] is None
