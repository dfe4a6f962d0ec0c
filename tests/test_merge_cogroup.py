"""The merge's bucket-clustered co-group: table rows and batch rows meet
in the one bucket shuffle the write needs, so a merge writes exactly one
key-sorted file per touched bucket from a plan with a single exchange and
no join — and still resolves every edge row of the full-outer-join
semantics, in whole-row and per-attribute mode."""

import os
import random

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from horizon_etl_spark.cdc import schema as S
from horizon_etl_spark.cdc.attrs import attr_lww_reduce
from horizon_etl_spark.tables.lake import FileEntry, LakeTable, bucket_expr

from conftest import final_plan_nodes, plans_since, sql_clock_ms

WHOLE_ROW = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
    ]
)
ATTR = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("score", IntegerType(), True),
        StructField("label", StringType(), True),
    ]
)
# whole-row change-log sink for WHOLE_ROW plus an evolved ``weight``
ROW_LOG_WEIGHT = StructType(
    [
        StructField("doc_id", StringType(), True),
        StructField("lsn", LongType(), True),
        StructField("op_applied", StringType(), True),
        StructField("before_n_tok", IntegerType(), True),
        StructField("before_source", StringType(), True),
        StructField("before_weight", DoubleType(), True),
        StructField("after_n_tok", IntegerType(), True),
        StructField("after_source", StringType(), True),
        StructField("after_weight", DoubleType(), True),
        StructField("batch_id", LongType(), True),
    ]
)


def _row_batch(spark, rows, weight=False):
    """(op, doc_id, lsn, n_tok, source[, weight]) → a whole-row batch."""
    ddl = "op string, doc_id string, lsn long, n_tok int, source string"
    return spark.createDataFrame(rows, ddl + (", weight double" if weight else ""))


def _attr_batch(spark, rows, weight=False):
    """(op, doc_id, lsn, score, label, fields[, weight]) → reduced winners,
    materialized as ``apply_batch``'s are, so a merge's plan shows only
    the merge's own exchange."""
    ddl = "op string, doc_id string, lsn long, score int, label string, fields array<string>"
    return attr_lww_reduce(
        spark.createDataFrame(rows, ddl + (", weight double" if weight else ""))
    ).localCheckpoint()


def _merge(table, mode, batch, sink=None, batch_id=None):
    extra = {"batch_id": batch_id} if batch_id is not None else None
    if mode == "attr":
        return table.merge_attrs(batch, change_log_sink=sink, change_log_extra=extra)
    return table.merge(batch, change_log_sink=sink, change_log_extra=extra)


def _create(root, mode, bucket_count, log_schema=None):
    table = LakeTable.create(
        os.path.join(root, "t"),
        ATTR if mode == "attr" else WHOLE_ROW,
        key_col="doc_id",
        bucket_count=bucket_count,
        attr_lww=mode == "attr",
    )
    sink = LakeTable.create(os.path.join(root, "log"), log_schema) if log_schema else None
    return table, sink


@pytest.mark.parametrize("with_log", [False, True], ids=["log_off", "log_on"])
@pytest.mark.parametrize("mode", ["whole_row", "attr"])
def test_merge_write_is_one_shuffle_one_sorted_file_per_bucket(
    spark, tmp_path, mode, with_log
):
    log_schema = S.ATTR_CHANGE_LOG_SCHEMA if mode == "attr" else S.CHANGE_LOG_SCHEMA
    table, sink = _create(str(tmp_path), mode, 4, log_schema if with_log else None)
    keys = [f"k{i:03d}" for i in range(80)]
    new_keys = [f"n{i}" for i in range(6)]
    if mode == "attr":
        rows = [("insert", k, 1, i, "x", None) for i, k in enumerate(keys)]
        _merge(table, mode, _attr_batch(spark, rows))
    else:
        rows = [("insert", k, 1, i, "x") for i, k in enumerate(keys)]
        _merge(table, mode, _row_batch(spark, rows))
    bucket_of = {
        r["doc_id"]: r["b"]
        for r in spark.createDataFrame([(k,) for k in keys + new_keys], "doc_id string")
        .select("doc_id", bucket_expr("doc_id", 4).alias("b"))
        .collect()
    }
    # updates and inserts in buckets 0 and 1 only: buckets 2 and 3 carry
    batch_keys = [k for k in keys if bucket_of[k] < 2][:6] + [
        k for k in new_keys if bucket_of[k] < 2
    ]
    touched = {bucket_of[k] for k in batch_keys}
    assert touched == {0, 1} and len(batch_keys) > 6
    if mode == "attr":
        batch = _attr_batch(spark, [("update", k, 2, -1, "y", None) for k in batch_keys])
    else:
        batch = _row_batch(spark, [("update", k, 2, -1, "y") for k in batch_keys])
    before = {f["path"] for f in table.snapshot()["files"]}

    since = sql_clock_ms(spark)
    stats = _merge(table, mode, batch, sink, batch_id=1)

    snap = table.snapshot()
    new = [FileEntry.from_json(f) for f in snap["files"] if f["path"] not in before]
    assert sorted(f.bucket for f in new) == sorted(touched)
    assert stats["carried_files"] == 4 - len(touched)
    for f in new:
        got = pq.read_table(os.path.join(table.path, f.path), columns=["doc_id"])
        ks = got.column("doc_id").to_pylist()
        assert ks == sorted(ks), f"file of bucket {f.bucket} is not key-sorted"
        assert (f.min_key, f.max_key) == (ks[0], ks[-1])
        assert {bucket_of[k] for k in ks} == {f.bucket}

    # the merge's fresh commit directory: only its write mentions it
    out_prefix = os.path.join(table.path, "data", f"commit-{snap['version']:08d}-")
    plans = plans_since(spark, since, out_prefix)
    assert len(plans) == 1
    nodes = final_plan_nodes(plans[0])
    assert len([n for n in nodes if n.startswith("Exchange")]) == 1, nodes
    assert not [n for n in nodes if "Join" in n], nodes


@pytest.mark.parametrize("mode", ["whole_row", "attr"])
def test_cogroup_edge_rows_stats_and_change_log(spark, tmp_path, mode):
    """One batch through a one-bucket table (so every key shares the one
    rewritten file): an insert, an update, a stale replay, a delete of a
    live key, of an absent key and of a tombstoned key, a table-only key
    riding the rewrite, and a new column evolving a non-empty table."""
    log_schema = S.ATTR_CHANGE_LOG_SCHEMA if mode == "attr" else ROW_LOG_WEIGHT
    table, sink = _create(str(tmp_path), mode, 1, log_schema)
    live = [("a", 1), ("b", 2), ("c", 3), ("d", 4), ("t", 5)]
    if mode == "attr":
        _merge(table, mode, _attr_batch(spark, [("insert", k, n, n, "x", None) for k, n in live]))
        _merge(table, mode, _attr_batch(spark, [("delete", "t", 10, None, None, None)]))
        batch = _attr_batch(
            spark,
            [
                ("update", "a", 20, 10, None, ["score"], None),  # update
                ("update", "b", 1, 99, None, ["score"], None),  # stale replay
                ("insert", "n", 21, 7, "y", None, 2.5),  # insert, asserts the new column
                ("delete", "z", 22, None, None, None, None),  # absent key
                ("delete", "t", 23, None, None, None, None),  # tombstoned key
                ("delete", "d", 24, None, None, None, None),  # live key
            ],
            weight=True,
        )
    else:
        _merge(table, mode, _row_batch(spark, [("insert", k, n, n, "x") for k, n in live]))
        _merge(table, mode, _row_batch(spark, [("delete", "t", 10, None, None)]))
        batch = _row_batch(
            spark,
            [
                ("update", "a", 20, 10, "y", 1.5),
                ("insert", "b", 2, 2, "x", None),  # stale replay of b's insert
                ("insert", "n", 21, 7, "y", 2.5),
                ("delete", "z", 22, None, None, None),
                ("delete", "t", 23, None, None, None),
                ("delete", "d", 24, None, None, None),
            ],
            weight=True,
        )
    assert len(table.snapshot()["files"]) == 1

    stats = _merge(table, mode, batch, sink, batch_id=2)

    got = {k: stats[k] for k in ("inserted", "updated", "deleted", "delete_noop", "skipped_stale")}
    assert got == {"inserted": 1, "updated": 1, "deleted": 1, "delete_noop": 2, "skipped_stale": 1}
    assert (stats["rewritten_files"], stats["carried_files"]) == (1, 0)
    assert table.schema()["weight"].dataType == DoubleType()
    state = {r["doc_id"]: r.asDict() for r in table.read(spark).collect()}
    log = [r.asDict() for r in sink.read(spark).filter(F.col("batch_id") == 2).collect()]
    if mode == "attr":
        assert state == {
            "a": {"doc_id": "a", "score": 10, "label": "x", "weight": None},
            "b": {"doc_id": "b", "score": 2, "label": "x", "weight": None},
            "c": {"doc_id": "c", "score": 3, "label": "x", "weight": None},
            "n": {"doc_id": "n", "score": 7, "label": "y", "weight": 2.5},
        }
        # one long row per (key, column) whose assertion moved
        cols = ("doc_id", "column", "lsn", "op_applied", "before_value", "after_value")
        assert sorted(tuple(r[c] for c in cols) for r in log) == [
            ("a", "score", 20, "set", "1", "10"),
            ("d", "label", 24, "unset", "x", None),
            ("d", "score", 24, "unset", "4", None),
            ("n", "label", 21, "set", None, "y"),
            ("n", "score", 21, "set", None, "7"),
            ("n", "weight", 21, "set", None, "2.5"),
        ]
    else:
        assert state == {
            "a": {"doc_id": "a", "n_tok": 10, "source": "y", "weight": 1.5},
            "b": {"doc_id": "b", "n_tok": 2, "source": "x", "weight": None},
            "c": {"doc_id": "c", "n_tok": 3, "source": "x", "weight": None},
            "n": {"doc_id": "n", "n_tok": 7, "source": "y", "weight": 2.5},
        }
        cols = ("doc_id", "lsn", "op_applied", "before_n_tok", "before_source", "before_weight",
                "after_n_tok", "after_source", "after_weight")
        assert sorted(tuple(r[c] for c in cols) for r in log) == [
            ("a", 20, "update", 1, "x", None, 10, "y", 1.5),
            ("b", 2, "skipped_stale", 2, "x", None, None, None, None),
            ("d", 24, "delete", 4, "x", None, None, None, None),
            ("n", 21, "insert", None, None, None, 7, "y", 2.5),
            ("t", 23, "delete_noop", None, None, None, None, None, None),
            ("z", 22, "delete_noop", None, None, None, None, None, None),
        ]
    # the table-only key rode the rewrite untouched
    c_meta = table.read(spark, include_meta=True).filter(F.col("doc_id") == "c").collect()
    assert len(c_meta) == 1 and c_meta[0]["_lsn"] == 3


def test_nondeterministic_batch_is_checkpointed(spark, tmp_path, monkeypatch):
    """A batch whose rows change on every evaluation (keys and values
    drawn afresh each time; Spark's own rand() is seeded per plan and
    repeats) must be pruned, written and logged from ONE evaluation:
    each key stays in exactly one row, and the table equals the fold of
    the change-log rows actually applied.  Deterministic batches, and
    frames whose non-deterministic part is cached, are not checkpointed."""
    draw = F.udf(lambda hi: random.randrange(hi), "int").asNondeterministic()
    frame_cls = type(spark.range(1))
    checkpoints = []
    real = frame_cls.localCheckpoint

    def counting(df, *args, **kwargs):
        checkpoints.append(df)
        return real(df, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", counting)
    table, sink = _create(str(tmp_path), "whole_row", 4, S.CHANGE_LOG_SCHEMA)
    n = 1000
    table.merge(
        spark.range(n).select(
            F.lit("insert").alias("op"),
            F.format_string("k%03d", F.col("id").cast("int")).alias("doc_id"),
            F.lit(1).cast("long").alias("lsn"),
            F.col("id").cast("int").alias("n_tok"),
            F.lit("x").alias("source"),
        )
    )
    # many small key-disjoint files per bucket: a key drawn by a second
    # evaluation of the batch would mostly land in a file the first
    # evaluation's pruner carried
    table.compact(spark, cluster_by_key=True, target_file_rows=50)
    assert checkpoints == []
    expected = {f"k{i:03d}": (i, "x") for i in range(n)}
    for b in range(3):
        batch = (
            spark.range(6)
            .select(
                F.lit("update").alias("op"),
                F.format_string("k%03d", draw(F.lit(n))).alias("doc_id"),
                F.lit(2 + b).cast("long").alias("lsn"),
                draw(F.lit(1_000_000)).alias("n_tok"),
                F.lit(f"r{b}").alias("source"),
            )
            .dropDuplicates(["doc_id"])
        )
        table.merge(batch, change_log_sink=sink, change_log_extra={"batch_id": b})
        for r in sink.read(spark).filter(F.col("batch_id") == b).collect():
            assert r["op_applied"] == "update"
            expected[r["doc_id"]] = (r["after_n_tok"], r["after_source"])
    assert len(checkpoints) == 3
    rows = table.read(spark).collect()
    assert len(rows) == n
    assert {r["doc_id"]: (r["n_tok"], r["source"]) for r in rows} == expected

    # a cached draw, and a frame derived from it, evaluate the same rows
    # every time: no checkpoint
    cached = (
        spark.range(6)
        .select(
            F.lit("update").alias("op"),
            F.format_string("k%03d", draw(F.lit(n))).alias("doc_id"),
            F.lit(9).cast("long").alias("lsn"),
            draw(F.lit(1_000_000)).alias("n_tok"),
        )
        .dropDuplicates(["doc_id"])
        .persist()
    )
    table.merge(cached.withColumn("source", F.lit("c")))
    cached.unpersist()
    assert len(checkpoints) == 3
    assert table.read(spark).count() == n
