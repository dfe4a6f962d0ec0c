"""LakeTable: snapshots, merge semantics, pruning, evolution, time travel."""

import os

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from horizon_etl_spark.tables.lake import (
    LSN_COL,
    TOMBSTONE_COL,
    FileEntry,
    LakeTable,
)

SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
    ]
)


def batch_df(spark, rows):
    return spark.createDataFrame(
        [Row(op=op, doc_id=d, lsn=l, tokens=t, n_tok=(len(t) if t else None), source=s)
         for (op, d, l, t, s) in rows],
        "op string, doc_id string, lsn long, tokens array<int>, n_tok int, source string",
    )


def test_create_read_empty(spark, tmp_table_dir):
    t = LakeTable.create(os.path.join(tmp_table_dir, "t"), SCHEMA, key_col="doc_id", bucket_count=4)
    df = t.read(spark)
    assert df.count() == 0
    assert set(df.columns) == {"doc_id", "tokens", "n_tok", "source"}
    # meta columns live in the physical schema
    assert {LSN_COL, TOMBSTONE_COL} <= {f.name for f in t.schema().fields}


def test_merge_insert_update_delete(spark, tmp_table_dir):
    t = LakeTable.create(os.path.join(tmp_table_dir, "t"), SCHEMA, key_col="doc_id", bucket_count=4)
    s1 = t.merge(batch_df(spark, [
        ("insert", "a", 1, [1, 2], "wiki"),
        ("insert", "b", 2, [3], "code"),
    ]))
    assert (s1["inserted"], s1["updated"], s1["deleted"]) == (2, 0, 0)
    s2 = t.merge(batch_df(spark, [
        ("update", "a", 3, [9, 9, 9], "wiki"),
        ("delete", "b", 4, None, None),
        ("insert", "c", 5, [7], "books"),
    ]))
    assert (s2["inserted"], s2["updated"], s2["deleted"]) == (1, 1, 1)
    rows = {r["doc_id"]: r for r in t.read(spark).collect()}
    assert set(rows) == {"a", "c"}
    assert rows["a"]["tokens"] == [9, 9, 9]
    assert rows["a"]["n_tok"] == 3


def test_merge_stale_and_replay_idempotent(spark, tmp_table_dir):
    t = LakeTable.create(os.path.join(tmp_table_dir, "t"), SCHEMA, key_col="doc_id", bucket_count=4)
    b1 = batch_df(spark, [("insert", "a", 10, [1], "wiki")])
    t.merge(b1)
    # stale event (lower lsn) must not win
    s = t.merge(batch_df(spark, [("update", "a", 5, [2, 2], "wiki")]))
    assert s["skipped_stale"] == 1 and s["applied"] == 0
    # replaying the same batch is a no-op
    s = t.merge(b1)
    assert s["skipped_stale"] == 1 and s["applied"] == 0
    rows = t.read(spark).collect()
    assert len(rows) == 1 and rows[0]["tokens"] == [1]


def test_delete_tombstone_blocks_stale_reinsert(spark, tmp_table_dir):
    t = LakeTable.create(os.path.join(tmp_table_dir, "t"), SCHEMA, key_col="doc_id", bucket_count=4)
    t.merge(batch_df(spark, [("delete", "a", 10, None, None)]))  # delete arrives first
    s = t.merge(batch_df(spark, [("insert", "a", 5, [1], "wiki")]))  # stale insert
    assert s["applied"] == 0 and s["skipped_stale"] == 1
    assert t.read(spark).count() == 0
    # but a FRESH re-insert after the delete wins
    t.merge(batch_df(spark, [("insert", "a", 20, [5], "wiki")]))
    rows = t.read(spark).collect()
    assert len(rows) == 1 and rows[0]["tokens"] == [5]


def test_bucket_pruning_carries_untouched_files(spark, tmp_table_dir):
    t = LakeTable.create(os.path.join(tmp_table_dir, "t"), SCHEMA, key_col="doc_id", bucket_count=16)
    big = batch_df(spark, [("insert", f"doc-{i:04d}", i, [i], "wiki") for i in range(200)])
    t.merge(big)
    n_files_before = len(t.snapshot()["files"])
    s = t.merge(batch_df(spark, [("update", "doc-0000", 1000, [42], "wiki")]))
    assert s["carried_files"] > 0, "untouched buckets must carry forward"
    assert s["rewritten_files"] < n_files_before
    assert t.read(spark).filter(F.col("doc_id") == "doc-0000").collect()[0]["tokens"] == [42]
    assert t.read(spark).count() == 200


def test_schema_evolution_additive(spark, tmp_table_dir):
    t = LakeTable.create(os.path.join(tmp_table_dir, "t"), SCHEMA, key_col="doc_id", bucket_count=4)
    t.merge(batch_df(spark, [("insert", "a", 1, [1], "wiki")]))
    evolved = spark.createDataFrame(
        [("insert", "b", 2, [3, 4], 2, "code", "pt")],
        "op string, doc_id string, lsn long, tokens array<int>, n_tok int, source string, lang string",
    )
    t.merge(evolved)
    df = t.read(spark)
    assert "lang" in df.columns
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows["a"]["lang"] is None  # old rows read as null — no rewrite
    assert rows["b"]["lang"] == "pt"
    with pytest.raises(ValueError):
        t.evolve_schema(StructType([f for f in t.schema().fields if f.name != "lang"]))


def test_time_travel_and_compact(spark, tmp_table_dir):
    t = LakeTable.create(os.path.join(tmp_table_dir, "t"), SCHEMA, key_col="doc_id", bucket_count=4)
    t.merge(batch_df(spark, [("insert", "a", 1, [1], "wiki")]))
    v2 = t.current_version()
    t.merge(batch_df(spark, [("delete", "a", 2, None, None)]))
    assert t.read(spark).count() == 0
    assert t.read(spark, version=v2).count() == 1  # time travel
    # compaction GCs the tombstone
    t.compact(spark)
    assert t.read(spark).count() == 0
    phys = t.read(spark, include_meta=True)
    assert phys.count() == 0, "tombstones GC'd by compact"


def test_append_table(spark, tmp_table_dir):
    t = LakeTable.create(
        os.path.join(tmp_table_dir, "log"),
        StructType([StructField("k", StringType()), StructField("v", IntegerType())]),
    )
    t.append(spark.createDataFrame([("x", 1)], "k string, v int"))
    t.append(spark.createDataFrame([("y", 2)], "k string, v int"))
    assert t.read(spark).count() == 2


def test_vacuum_expires_snapshots_and_orphans(spark, tmp_table_dir):
    import os
    import pytest
    from pyspark.sql import functions as F

    t = LakeTable.create(
        os.path.join(tmp_table_dir, "t"), SCHEMA, key_col="doc_id", bucket_count=4
    )
    for lsn in range(4):
        batch = spark.createDataFrame(
            [("update", f"d{i}", lsn, [lsn, i], 2, "wiki") for i in range(6)],
            "op string, doc_id string, lsn long, tokens array<int>, n_tok int, source string",
        )
        t.merge(batch)
    before = t.read(spark).count()
    v = t.current_version()
    # age-gated first: freshly-written unreferenced files survive a
    # default vacuum (they could belong to an in-flight concurrent merge
    # that has not committed its snapshot yet)
    stats = t.vacuum(keep_versions=2)
    assert stats["removed_files"] == 0, "young orphans must survive the age cutoff"
    # exclusive-writer vacuum (age cutoff waived) actually deletes
    stats = t.vacuum(keep_versions=2, min_age_seconds=0)
    assert stats["removed_snapshots"] == 0  # already expired above
    assert stats["removed_files"] > 0
    # current + previous version still readable, identical data
    assert t.read(spark).count() == before
    assert t.read(spark, version=v - 1).count() == before
    # expired versions are gone
    with pytest.raises(Exception):
        t.snapshot(0)
    # retained files all still exist on disk
    for f in t.snapshot()["files"]:
        assert os.path.exists(os.path.join(t.path, f["path"]))
    # a further merge after vacuum works
    t.merge(
        spark.createDataFrame(
            [("update", "d0", 99, [9, 9], 2, "wiki")],
            "op string, doc_id string, lsn long, tokens array<int>, n_tok int, source string",
        )
    )
    assert t.read(spark).filter(F.col("doc_id") == "d0").first()["tokens"] == [9, 9]


def test_recommended_bucket_count_policy():
    from horizon_etl_spark.tables.lake import recommended_bucket_count

    assert recommended_bucket_count(0) == 4
    assert recommended_bucket_count(3_999_999) == 4
    assert recommended_bucket_count(5 * 4_000_000) == 8  # next pow2 >= 5
    assert recommended_bucket_count(10**12) == 16384  # clamped at 2^14
    assert recommended_bucket_count(100, target_rows_per_bucket=10) == 16


def test_merge_write_parallelism_follows_bucket_count(spark, tmp_table_dir):
    """Merge output is partitioned by the hash bucket: the commit's
    distinct bucket dirs — i.e. the table's merge write parallelism —
    equals bucket_count once keys cover every bucket."""
    rows = [("insert", f"k{i:04d}", i, [i], "wiki") for i in range(400)]
    seen = {}
    for bc in (4, 16):
        t = LakeTable.create(
            os.path.join(tmp_table_dir, f"t{bc}"), SCHEMA, key_col="doc_id", bucket_count=bc
        )
        t.merge(batch_df(spark, rows))
        buckets = {f["bucket"] for f in t.snapshot()["files"]}
        seen[bc] = len(buckets)
    assert seen == {4: 4, 16: 16}


def test_merge_records_rebucket_recommendation(spark, tmp_table_dir):
    t = LakeTable.create(
        os.path.join(tmp_table_dir, "t"), SCHEMA, key_col="doc_id", bucket_count=4,
        props={"target_rows_per_bucket": 10},
    )
    t.merge(batch_df(spark, [("insert", f"k{i}", i, [i], "wiki") for i in range(200)]))
    rec = t.snapshot()["summary"].get("rebucket_recommended")
    assert rec and rec > 4  # 200 rows at 10/bucket → wants 32


def test_rebucket_preserves_data_and_prunes_correctly(spark, tmp_table_dir):
    t = LakeTable.create(
        os.path.join(tmp_table_dir, "t"), SCHEMA, key_col="doc_id", bucket_count=4
    )
    t.merge(batch_df(spark, [("insert", f"k{i:04d}", i, [i], "wiki") for i in range(200)]))
    before = sorted(tuple(r) for r in t.read(spark).collect())
    t.rebucket(spark, 16)
    assert t.bucket_count == 16
    assert sorted(tuple(r) for r in t.read(spark).collect()) == before
    assert len({f["bucket"] for f in t.snapshot()["files"]}) == 16
    # single-key merge under the new layout prunes to a subset of files
    s = t.merge(batch_df(spark, [("update", "k0000", 1000, [42], "wiki")]))
    assert s["carried_files"] > s["rewritten_files"]
    assert t.read(spark).filter(F.col("doc_id") == "k0000").first()["tokens"] == [42]
    assert t.read(spark).count() == 200


def test_non_positive_bucket_counts_are_rejected(spark, tmp_table_dir):
    """A bucket count below 1 would commit a layout every later merge
    fails on, and bucket -1 marks unbucketed files: create and rebucket
    reject it before writing anything."""
    with pytest.raises(ValueError, match="bucket_count"):
        LakeTable.create(os.path.join(tmp_table_dir, "zero"), SCHEMA, key_col="doc_id", bucket_count=0)
    assert not os.path.exists(os.path.join(tmp_table_dir, "zero"))
    t = LakeTable.create(
        os.path.join(tmp_table_dir, "t"), SCHEMA, key_col="doc_id", bucket_count=4
    )
    t.merge(batch_df(spark, [("insert", f"k{i:02d}", i, [i], "wiki") for i in range(20)]))
    version, data = t.current_version(), sorted(os.listdir(os.path.join(t.path, "data")))
    for bad in (0, -4):
        with pytest.raises(ValueError, match="bucket_count"):
            t.rebucket(spark, bad)
    assert t.current_version() == version and t.bucket_count == 4
    assert sorted(os.listdir(os.path.join(t.path, "data"))) == data
    assert t.read(spark).count() == 20


def test_compact_buckets_rewrites_only_hot_buckets(spark, tmp_table_dir):
    t = LakeTable.create(
        os.path.join(tmp_table_dir, "t"), SCHEMA, key_col="doc_id", bucket_count=8
    )
    # merges of DISJOINT key ranges: min/max pruning carries the other
    # ranges' files, so buckets accumulate one file per range touching
    # them — wide ranges hit every bucket (4 files each), then narrow
    # single-key ranges push only THEIR buckets over the threshold
    for j, prefix in enumerate("abcd"):
        t.merge(batch_df(
            spark,
            [("insert", f"{prefix}{i:03d}", j * 100 + i, [i], "wiki") for i in range(40)],
        ))
    for j, prefix in enumerate("wxyz"):
        t.merge(batch_df(spark, [("insert", f"{prefix}solo", 900 + j, [j], "wiki")]))
    before = sorted(tuple(r) for r in t.read(spark).collect())
    stats = t.compact_buckets(spark, max_files_per_bucket=4)
    assert stats["compacted_buckets"] >= 1
    assert stats["carried_files"] > 0, "cold buckets must carry forward"
    after_counts = {}
    for f in t.snapshot()["files"]:
        after_counts[f["bucket"]] = after_counts.get(f["bucket"], 0) + 1
    assert all(n <= 4 for n in after_counts.values())
    assert sorted(tuple(r) for r in t.read(spark).collect()) == before
    # idempotent: nothing left to compact
    assert t.compact_buckets(spark, max_files_per_bucket=4)["compacted_buckets"] == 0


def test_concurrent_commit_conflict_detected(spark, tmp_table_dir):
    """Optimistic concurrency: every operation re-reads the latest
    snapshot (sequential writers serialize), so a conflict only exists
    when two writers race the SAME version — the create-exclusive
    hard-link commit must fail loudly for the loser, never silently
    overwrite."""
    import os

    path = os.path.join(tmp_table_dir, "t")
    t1 = LakeTable.create(path, SCHEMA, key_col="doc_id", bucket_count=4)
    t2 = LakeTable.load(path)
    b = batch_df(spark, [("update", "d1", 1, [1, 2], "wiki")])
    t1.merge(b)
    # sequential writers serialize fine: t2 re-reads the new snapshot
    t2.merge(batch_df(spark, [("update", "d2", 2, [3], "wiki")]))
    assert {r["doc_id"] for r in t1.read(spark).collect()} == {"d1", "d2"}

    # a simultaneous race on the same target version: loser must error
    snap = t1.snapshot()
    v = snap["version"] + 1
    t1._commit(v, {**snap, "version": v, "parent": snap["version"]})
    with pytest.raises(FileExistsError):
        t2._commit(v, {**snap, "version": v, "parent": snap["version"]})


# ------------------------------------------------- widening / rollback / incr


def test_widening_schema_evolution_reads_old_files(spark, tmp_table_dir):
    """int->long, float->double, decimal(P,S)->decimal(P',S) are
    zero-rewrite: old files upcast at scan time under the widened
    read schema (Iceberg spec §Schema Evolution promotion set)."""
    from pyspark.sql.types import DecimalType, DoubleType, LongType as LT

    t = LakeTable.create(
        os.path.join(tmp_table_dir, "w"),
        spark.createDataFrame(
            [], "k string, i int, f float, d decimal(10,2)"
        ).schema,
    )
    t.append(
        spark.createDataFrame([("a", 1, 1.5, "1.23")], "k string, i int, f string, d string")
        .selectExpr("k", "i", "cast(f as float) f", "cast(d as decimal(10,2)) d")
    )
    files_before = {f["path"] for f in t.snapshot()["files"]}
    t.evolve_schema(
        spark.createDataFrame(
            [], "k string, i long, f double, d decimal(20,2), extra string"
        ).schema
    )
    # metadata-only: no data files rewritten
    assert {f["path"] for f in t.snapshot()["files"]} == files_before
    assert t.snapshot()["summary"]["widened"] == [
        "i: int->bigint",
        "f: float->double",
        "d: decimal(10,2)->decimal(20,2)",
    ]
    # old file scans under the widened schema; values preserved
    t.append(
        spark.createDataFrame([("b", 2**40, 2.5, "99999999999.99")], "k string, i long, f string, d string")
        .selectExpr("k", "i", "cast(f as double) f", "cast(d as decimal(20,2)) d", "'x' extra")
    )
    out = {r["k"]: r for r in t.read(spark).collect()}
    assert out["a"]["i"] == 1 and out["b"]["i"] == 2**40
    assert out["a"]["f"] == 1.5 and out["a"]["extra"] is None
    assert str(out["a"]["d"]) == "1.23"
    sch = {f.name: f.dataType for f in t.schema().fields}
    assert isinstance(sch["i"], LT) and isinstance(sch["f"], DoubleType)
    assert sch["d"] == DecimalType(20, 2)


def test_widening_rejects_illegal_promotions(spark, tmp_table_dir):
    t = LakeTable.create(
        os.path.join(tmp_table_dir, "w"),
        spark.createDataFrame([], "k string, i long, d decimal(10,2)").schema,
    )
    # narrowing long->int
    with pytest.raises(ValueError, match="may not change type"):
        t.evolve_schema(spark.createDataFrame([], "k string, i int, d decimal(10,2)").schema)
    # decimal->double (would abort the vectorized parquet scan)
    with pytest.raises(ValueError, match="may not change type"):
        t.evolve_schema(spark.createDataFrame([], "k string, i long, d double").schema)
    # decimal scale change
    with pytest.raises(ValueError, match="may not change type"):
        t.evolve_schema(spark.createDataFrame([], "k string, i long, d decimal(20,4)").schema)


def test_rollback_restores_state_and_preserves_history(spark, tmp_table_dir):
    t = LakeTable.create(
        os.path.join(tmp_table_dir, "t"), SCHEMA, key_col="doc_id", bucket_count=4
    )
    t.merge(batch_df(spark, [("insert", "a", 1, [1], "wiki"), ("insert", "b", 2, [2], "web")]))
    good_v = t.current_version()
    # a bad deploy: wrong update + a delete
    t.merge(batch_df(spark, [("update", "a", 3, [9, 9], "spam"), ("delete", "b", 4, None, None)]))
    assert t.read(spark).count() == 1
    rb_v = t.rollback(good_v)
    assert rb_v == t.current_version() and rb_v > good_v  # new commit, not erasure
    rows = {r["doc_id"]: r for r in t.read(spark).collect()}
    assert rows["a"]["tokens"] == [1] and rows["b"]["tokens"] == [2]
    # the bad version stays inspectable (history preserved)
    assert t.read(spark, version=good_v + 1).count() == 1
    # rollback to a future version is rejected
    with pytest.raises(ValueError, match="future"):
        t.rollback(rb_v + 5)
    # replay after rollback reconverges: re-apply the events with the
    # fix — lsn guard still orders them correctly
    t.merge(batch_df(spark, [("update", "a", 3, [3], "wiki"), ("delete", "b", 4, None, None)]))
    rows = {r["doc_id"]: r for r in t.read(spark).collect()}
    assert set(rows) == {"a"} and rows["a"]["tokens"] == [3]


def test_rollback_then_vacuum_keeps_referenced_files(spark, tmp_table_dir):
    t = LakeTable.create(
        os.path.join(tmp_table_dir, "t"), SCHEMA, key_col="doc_id", bucket_count=4
    )
    t.merge(batch_df(spark, [("insert", "a", 1, [1], "wiki")]))
    good_v = t.current_version()
    t.merge(batch_df(spark, [("update", "a", 2, [2], "spam")]))
    t.rollback(good_v)
    # the head snapshot references good_v's files, so an aggressive
    # vacuum must keep them even though good_v itself expires
    t.vacuum(keep_versions=1, min_age_seconds=0)
    assert t.read(spark).first()["tokens"] == [1]


def test_read_appends_incremental_scan(spark, tmp_table_dir):
    t = LakeTable.create(
        os.path.join(tmp_table_dir, "log"),
        StructType([StructField("k", StringType()), StructField("v", IntegerType())]),
    )
    v0 = t.current_version()
    t.append(spark.createDataFrame([("x", 1)], "k string, v int"))
    v1 = t.current_version()
    t.append(spark.createDataFrame([("y", 2)], "k string, v int"))
    t.append(spark.createDataFrame([("z", 3)], "k string, v int"))
    # delta (v1, head]: only y and z; no full-table read
    got = {r["k"] for r in t.read_appends(spark, from_version=v1).collect()}
    assert got == {"y", "z"}
    # bounded range (v0, v1]
    got = {r["k"] for r in t.read_appends(spark, v0, v1).collect()}
    assert got == {"x"}
    # empty range
    assert t.read_appends(spark, t.current_version()).count() == 0
    # a metadata-only evolve inside the range is fine; new rows scan
    # under the widened schema
    t.evolve_schema(spark.createDataFrame([], "k string, v long").schema)
    t.append(spark.createDataFrame([("w", 2**40)], "k string, v long"))
    got = {r["k"]: r["v"] for r in t.read_appends(spark, v1).collect()}
    assert got == {"y": 2, "z": 3, "w": 2**40}


def test_read_appends_rejects_rewrites(spark, tmp_table_dir):
    t = LakeTable.create(
        os.path.join(tmp_table_dir, "t"), SCHEMA, key_col="doc_id", bucket_count=4
    )
    t.merge(batch_df(spark, [("insert", "a", 1, [1], "wiki")]))
    v1 = t.current_version()
    # merge rewrites bucket files -> not file-expressible as appends
    t.merge(batch_df(spark, [("update", "a", 2, [2], "wiki")]))
    with pytest.raises(ValueError, match="change-log"):
        t.read_appends(spark, v1)


def test_distinct_bucket_rows_honours_stats_version():
    """Pre-footer-stats manifests (no stats_version stamp) repeated the
    BUCKET-level count on every file of a bucket+commit; reading one
    with a plain sum would inflate rebucket advisories.  The reader
    must dedup per (commit dir, bucket) for scheme 1 and plain-sum for
    scheme 2."""
    from horizon_etl_spark.tables.lake import (
        STATS_FILE_ROWS,
        FileEntry,
        _distinct_bucket_rows,
    )

    old = [  # two files of one bucket+commit, rows repeated (scheme 1)
        FileEntry("data/v2/bucket=0/part-a.parquet", 0, 100, None, None),
        FileEntry("data/v2/bucket=0/part-b.parquet", 0, 100, None, None),
        FileEntry("data/v2/bucket=1/part-a.parquet", 1, 40, None, None),
    ]
    assert _distinct_bucket_rows(old, stats_version=1) == 140
    new = [  # exact per-file counts (scheme 2)
        FileEntry("data/v2/bucket=0/part-a.parquet", 0, 60, None, None),
        FileEntry("data/v2/bucket=0/part-b.parquet", 0, 40, None, None),
    ]
    assert _distinct_bucket_rows(new, stats_version=STATS_FILE_ROWS) == 100
    # unstamped manifests default to scheme 2 (exact per-file): every
    # live unstamped manifest was written by the footer-stats writer,
    # so the scheme-1 dedup would UNDER-count and silence advisories;
    # explicit stats_version=1 keeps the dedup for migrated snapshots
    assert _distinct_bucket_rows(old) == 240


def test_commits_stamp_stats_version(spark, tmp_table_dir):
    from horizon_etl_spark.tables.lake import STATS_FILE_ROWS, LakeTable
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    t = LakeTable.create(
        os.path.join(tmp_table_dir, "sv"),
        StructType([StructField("k", StringType(), False), StructField("v", LongType(), True)]),
        key_col="k",
        bucket_count=2,
    )
    assert t.snapshot()["stats_version"] == STATS_FILE_ROWS


# ------------------------------------------------ point lookups (read_keys)
KV_SCHEMA = StructType(
    [StructField("k", StringType(), False), StructField("v", LongType(), True)]
)


def _kv_table(tmp_table_dir, name, buckets=4):
    return LakeTable.create(
        os.path.join(tmp_table_dir, name), KV_SCHEMA, key_col="k", bucket_count=buckets
    )


def _kv_batch(spark, lo, hi, lsn, op="upsert"):
    return spark.range(lo, hi).select(
        F.format_string("k%06d", F.col("id")).alias("k"),
        F.col("id").alias("v"),
        F.lit(op).alias("op"),
        F.lit(lsn).cast("long").alias("lsn"),
    )


def _files(t):
    return [FileEntry.from_json(f) for f in t.snapshot()["files"]]


def _keys_in_file(t, entry):
    import pyarrow.parquet as pq

    return set(
        pq.read_table(os.path.join(t.path, entry.path), columns=["k"])["k"].to_pylist()
    )


def test_read_keys_point_lookup_scans_only_holding_files(spark, tmp_table_dir):
    t = _kv_table(tmp_table_dir, "t", buckets=4)
    t.merge(_kv_batch(spark, 0, 400, 1))
    t.merge(_kv_batch(spark, 400, 800, 2))
    t.merge(_kv_batch(spark, 150, 151, 9, op="delete"))
    # values equal the filtered full read
    got = {r["k"]: r["v"] for r in t.read_keys(spark, ["k000010", "k000700", "k000150", "k999999"]).collect()}
    assert got == {"k000010": 10, "k000700": 700}  # deleted + absent keys drop
    # pruning: the lookup scans only files that can hold the keys
    snap = t.snapshot()
    pruned = t._files_for_keys(spark, ["k000010"], snap)
    holders = [f for f in _files(t) if "k000010" in _keys_in_file(t, f)]
    assert {f.path for f in holders} <= {f.path for f in pruned}
    assert len(pruned) <= 2  # the range test keeps it near the single holding file
    # absent-but-in-range key ("k0001505" sorts between k000150 and
    # k000151): the range test cannot prove it absent, so the lookup
    # scans the one file of its bucket whose range holds it
    assert len(t._files_for_keys(spark, ["k0001505"], snap)) <= 1
    # out-of-range key and empty lookup cost nothing
    assert t._files_for_keys(spark, ["k999999"], snap) == []
    assert t.read_keys(spark, []).count() == 0


def test_schema_evolution_then_point_lookup(spark, tmp_table_dir):
    t = _kv_table(tmp_table_dir, "t")
    t.merge(_kv_batch(spark, 0, 200, 1))
    evolved = _kv_batch(spark, 100, 300, 2).withColumn("extra", F.col("v") * 2)
    t.merge(evolved)  # additive evolution
    rows = {r["k"]: r for r in t.read(spark).collect()}
    assert len(rows) == 300
    assert rows["k000150"]["extra"] == 300 and rows["k000050"]["extra"] is None
    # point lookup still prunes and returns the evolved column
    got = t.read_keys(spark, ["k000250"]).collect()
    assert len(got) == 1 and got[0]["extra"] == 500


def test_read_keys_native_long_key_dtype(spark, tmp_table_dir):
    t = LakeTable.create(
        os.path.join(tmp_table_dir, "lk"),
        StructType([StructField("id", LongType(), False), StructField("v", LongType(), True)]),
        key_col="id",
        bucket_count=4,
    )
    t.merge(
        spark.range(0, 300).select(
            F.col("id"), (F.col("id") * 10).alias("v"),
            F.lit("upsert").alias("op"), F.lit(1).cast("long").alias("lsn"),
        )
    )
    got = {r["id"]: r["v"] for r in t.read_keys(spark, [7, 250, 999]).collect()}
    assert got == {7: 70, 250: 2500}


def test_merge_rewrites_stray_unbucketed_file(spark, tmp_table_dir):
    t = _kv_table(tmp_table_dir, "t")
    t.merge(_kv_batch(spark, 0, 50, 1))
    # stray append lands keyed rows in an unbucketed (bucket=-1) file
    stray = spark.createDataFrame(
        [("k900000", 1, 1, False)], "k string, v long, _lsn long, _tombstone boolean"
    )
    t.append(stray)
    assert any(f.bucket == -1 for f in _files(t))
    # an update for the stray key must rewrite that file, not duplicate
    t.merge(_kv_batch(spark, 900000, 900001, 5))
    rows = [r for r in t.read(spark).collect() if r["k"] == "k900000"]
    assert len(rows) == 1 and rows[0]["v"] == 900000
    assert not any(f.bucket == -1 for f in _files(t))
    # and read_keys sees exactly the merged row
    got = t.read_keys(spark, ["k900000"]).collect()
    assert len(got) == 1 and got[0]["v"] == 900000


def test_read_keys_bulk_fallback_broadcast_semi_join(spark, tmp_table_dir):
    """Beyond READ_KEYS_ISIN_MAX keys the point-lookup degrades
    gracefully: broadcast semi-join instead of a giant isin() literal."""
    t = _kv_table(tmp_table_dir, "t", buckets=4)
    t.merge(_kv_batch(spark, 0, 2000, 1))
    keys = [f"k{i:06d}" for i in range(50_000)]  # 2k present, 48k absent
    df = t.read_keys(spark, keys)
    assert df.count() == 2000
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "Broadcast" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # small lists keep the literal-pushdown point plan
    small = t.read_keys(spark, ["k000010"])
    assert small.count() == 1
    assert "LeftSemi" not in small._jdf.queryExecution().executedPlan().toString()


def test_read_keys_unkeyed_table_raises(spark, tmp_table_dir):
    t = LakeTable.create(
        os.path.join(tmp_table_dir, "nk"), KV_SCHEMA, key_col=None, bucket_count=1
    )
    with pytest.raises(ValueError, match="keyed table"):
        t.read_keys(spark, ["k000001"])


def test_legacy_key_bloom_manifest_works_as_plain_table(spark, tmp_table_dir):
    """A table written when per-file key-Bloom sidecars existed: its
    manifest carries a ``bloom`` ref per file and the ``key_bloom``
    props, and the sidecars sit under ``_meta/blooms``.  Every sidecar
    here claims NO key (all-zero words), so any code still probing one
    would carry a file the batch must rewrite and duplicate its row.
    Read, point lookups, a merge and a compaction must equal a plain
    twin's; the merge's head drops the refs; vacuum deletes the
    sidecars."""
    import json
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    twin = _kv_table(tmp_table_dir, "twin")
    twin.merge(_kv_batch(spark, 0, 400, 1))
    twin.merge(_kv_batch(spark, 400, 800, 2))
    shutil.copytree(twin.path, os.path.join(tmp_table_dir, "legacy"))
    legacy = LakeTable.load(os.path.join(tmp_table_dir, "legacy"))
    head = legacy.snapshot()
    version = head["version"] + 1
    os.makedirs(os.path.join(legacy.path, "_meta", "blooms"))
    files = []
    for i, f in enumerate(head["files"]):
        ref = os.path.join("_meta", "blooms", f"v{version:08d}-{i:016x}.bloom.parquet")
        pq.write_table(
            pa.table({
                "m": pa.array([256], pa.int64()),
                "k": pa.array([8], pa.int32()),
                "words": pa.array([[0, 0, 0, 0]], pa.list_(pa.int64())),
            }),
            os.path.join(legacy.path, ref),
        )
        files.append({**f, "bloom": {"ref": ref, "m": 256, "k": 8}})
    with open(legacy._snap_path(version), "w") as fh:
        json.dump(
            {
                **head,
                "version": version,
                "parent": head["version"],
                "files": files,
                "props": {"key_bloom": "true", "key_bloom_max_probe_mb": 512},
                "operation": "compact",
                "summary": {},
            },
            fh,
        )

    def same(read):
        assert sorted(read(legacy).collect()) == sorted(read(twin).collect())

    keys = ["k000010", "k000100", "k000700", "k0001505", "k999999"]
    same(lambda t: t.read(spark))
    same(lambda t: t.read_keys(spark, keys))
    # updates of held keys plus an insert inside a file's key range
    batch = spark.createDataFrame(
        [("k000100", -1, "upsert", 3), ("k000700", -7, "upsert", 3), ("k0001505", 5, "upsert", 3)],
        "k string, v long, op string, lsn long",
    )
    pick = ("inserted", "updated", "rewritten_files", "carried_files")
    st_legacy, st_twin = legacy.merge(batch), twin.merge(batch)
    assert [st_legacy[k] for k in pick] == [st_twin[k] for k in pick]
    assert st_legacy["updated"] == 2 and st_legacy["inserted"] == 1
    assert not any("bloom" in f for f in legacy.snapshot()["files"])
    same(lambda t: t.read(spark))
    same(lambda t: t.read_keys(spark, keys))
    for t in (legacy, twin):
        t.compact(spark)
    same(lambda t: t.read(spark))
    legacy.vacuum(keep_versions=1, min_age_seconds=0)
    assert os.listdir(os.path.join(legacy.path, "_meta", "blooms")) == []
    same(lambda t: t.read(spark))
    same(lambda t: t.read_keys(spark, keys))
