"""Clustered (sort-ordered) compaction: rewrite files hold disjoint,
key-sorted ranges per bucket, so the range pruner touches ~1 file per
point key — Iceberg's sort-ordered rewrite_data_files analogue.  State
must round-trip exactly, later merges must still converge, and the
option must compose with compact_buckets' hot-only pass."""

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from horizon_etl_spark.tables.lake import (
    BUCKET_COL,
    FileEntry,
    LakeTable,
    bucket_expr,
)

from conftest import assert_disjoint_bucket_ranges, plans_since, sql_clock_ms

SCHEMA = StructType(
    [StructField("k", StringType(), False), StructField("v", LongType(), True)]
)


def _mk_table(tmp_table_dir, name, buckets=4):
    return LakeTable.create(
        os.path.join(tmp_table_dir, name), SCHEMA, key_col="k", bucket_count=buckets
    )


def _batch(spark, ids, lsn, op="upsert"):
    return spark.createDataFrame(
        [(f"k{i:06d}", i, op, lsn) for i in ids], "k string, v long, op string, lsn long"
    )


def _files(t):
    return [FileEntry.from_json(f) for f in t.snapshot()["files"]]


def _prune(t, batch):
    snap = t.snapshot()
    src = batch.withColumn(BUCKET_COL, bucket_expr("k", snap["bucket_count"]))
    return t._prune_for_batch(src, snap)


def _interleaved(spark, t):
    """Three merges whose key sets stripe the space; copy-on-write
    coalesces the overlaps, leaving ONE fat full-range file per bucket
    — the shape where a point merge rewrites the entire bucket."""
    for stripe in range(3):
        t.merge(_batch(spark, range(stripe, 600, 3), lsn=stripe + 1))


def _blocked(spark, t):
    """Three merges over ADJACENT key blocks: no range overlap, so each
    merge's files carry forward — 3 files per bucket accumulate."""
    for block in range(3):
        t.merge(_batch(spark, range(block * 200, (block + 1) * 200), lsn=block + 1))


def test_clustered_compact_disjoint_ranges_and_point_pruning(spark, tmp_table_dir):
    t = _mk_table(tmp_table_dir, "t")
    _interleaved(spark, t)
    before = sorted(t.read(spark).collect())

    # pre-compact: one full-range file per bucket → a point key
    # rewrites the WHOLE bucket
    probe = _batch(spark, [301], lsn=99)
    rewrite_pre, _ = _prune(t, probe)
    bucket_rows = sum(f.rows for f in _files(t) if f.bucket == rewrite_pre[0].bucket)
    assert sum(f.rows for f in rewrite_pre) == bucket_rows

    t.compact(spark, cluster_by_key=True, target_file_rows=60)
    assert sorted(t.read(spark).collect()) == before  # state round-trips

    files = _files(t)
    assert_disjoint_bucket_ranges(t, require_split=True)
    # rows inside each file are key-sorted (contiguous range layout)
    ks = pq.read_table(os.path.join(t.path, files[0].path), columns=["k"])[
        "k"
    ].to_pylist()
    assert ks == sorted(ks)

    # post-compact: the range test alone isolates ONE split — the
    # point merge now rewrites a file's worth of rows, not a bucket's
    rewrite_post, _ = _prune(t, probe)
    assert len(rewrite_post) == 1
    lo, hi = rewrite_post[0].min_key, rewrite_post[0].max_key
    assert lo <= "k000301" <= hi
    assert rewrite_post[0].rows < bucket_rows


def test_exact_range_test_skips_swept_middle_files(spark, tmp_table_dir):
    """A sparse batch with two far-apart keys in ONE bucket: the
    interval [min,max] sweeps every file between them, but the exact
    range test carries the gap files — only the two files actually
    holding the keys rewrite.  This is the trickle steady
    state clustering exists for."""
    t = _mk_table(tmp_table_dir, "t")
    _interleaved(spark, t)
    t.compact(spark, cluster_by_key=True, target_file_rows=40)

    by_bucket = assert_disjoint_bucket_ranges(t)
    bucket, fs = max(by_bucket.items(), key=lambda kv: len(kv[1]))
    assert len(fs) >= 3  # first + gap file(s) + last
    probe = spark.createDataFrame(
        [(fs[0].min_key, 1, "update", 99), (fs[-1].max_key, 2, "update", 99)],
        "k string, v long, op string, lsn long",
    )
    rewrite, carry = _prune(t, probe)
    hit = [f for f in rewrite if f.bucket == bucket]
    assert {f.path for f in hit} == {fs[0].path, fs[-1].path}
    carried = {f.path for f in carry if f.bucket == bucket}
    assert carried == {f.path for f in fs[1:-1]}

    # the full merge converges to the same state a rewrite of every
    # swept file would produce
    before = {r["k"]: r["v"] for r in t.read(spark).collect()}
    t.merge(probe)
    after = {r["k"]: r["v"] for r in t.read(spark).collect()}
    before[fs[0].min_key], before[fs[-1].max_key] = 1, 2
    assert after == before


def test_merge_after_clustered_compact_converges(spark, tmp_table_dir):
    t = _mk_table(tmp_table_dir, "t")
    _interleaved(spark, t)
    t.compact(spark, cluster_by_key=True, target_file_rows=60)
    t.merge(
        spark.createDataFrame(
            [("k000301", 9999, "update", 50)], "k string, v long, op string, lsn long"
        )
    )
    t.merge(  # stale replay → ignored
        spark.createDataFrame(
            [("k000301", 1, "update", 40)], "k string, v long, op string, lsn long"
        )
    )
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert len(rows) == 600
    assert rows["k000301"] == 9999


def test_clustered_compact_buckets_touches_only_hot(spark, tmp_table_dir):
    t = _mk_table(tmp_table_dir, "t", buckets=4)
    _blocked(spark, t)  # adjacent-range merges carry → 3 files per bucket
    before = sorted(t.read(spark).collect())
    stats = t.compact_buckets(
        spark, max_files_per_bucket=2, cluster_by_key=True, target_file_rows=60
    )
    assert stats["compacted_buckets"] == 4 and stats["carried_files"] == 0
    assert sorted(t.read(spark).collect()) == before
    assert_disjoint_bucket_ranges(t)

    # a cold table (nothing over the threshold) is untouched
    stats2 = t.compact_buckets(
        spark, max_files_per_bucket=8, cluster_by_key=True, target_file_rows=60
    )
    assert stats2["compacted_buckets"] == 0


def test_range_test_carries_single_swept_file_on_gap_insert(spark, tmp_table_dir):
    """A sparse INSERT batch whose keys straddle a lone file's range
    (but all lie outside it): a batch interval would sweep the file
    in, and the exact range test must carry it — the wasted full-file
    rewrite an interval pruner cannot see."""
    t = LakeTable.create(
        os.path.join(tmp_table_dir, "t"), SCHEMA, key_col="k", bucket_count=1
    )
    t.merge(_batch(spark, range(200, 400), lsn=1))  # one file [k000200,k000399]
    probe = _batch(spark, [100, 500], lsn=2)  # new keys bracketing the range
    rewrite, carry = _prune(t, probe)
    assert rewrite == [] and len(carry) == 1
    st = t.merge(probe)
    assert st["rewritten_files"] == 0 and st["inserted"] == 2
    rows = {r["k"] for r in t.read(spark).collect()}
    assert len(rows) == 202 and {"k000100", "k000500"} <= rows


def test_cluster_advisory_fires_and_clears(spark, tmp_table_dir):
    """The merge-time clustering advisory: a sparse batch churning a
    fat full-range file (mean rewritten rows/file > 2x target, rewrite
    >> batch) stamps cluster_recommended on the summary; after a
    clustered compact the same trickle rewrites ~target-sized files and
    the advisory stops firing (amplification alone must NOT retrigger
    it — copy-on-write point merges never reach amp 1)."""
    t = LakeTable.create(
        os.path.join(tmp_table_dir, "t"),
        SCHEMA,
        key_col="k",
        bucket_count=4,
        props={"target_file_rows": 50},
    )
    t.merge(_batch(spark, range(600), lsn=1))  # bulk: nothing rewritten
    assert "cluster_recommended" not in t.snapshot()["summary"]
    t.merge(_batch(spark, [301], lsn=2))  # 1-key trickle vs 150-row file
    assert t.snapshot()["summary"].get("cluster_recommended") is True
    t.compact(spark, cluster_by_key=True)  # target from the table prop
    t.merge(_batch(spark, [302], lsn=3))  # now rewrites one ~50-row file
    assert "cluster_recommended" not in t.snapshot()["summary"]


def test_prune_soundness_randomized(spark, tmp_table_dir):
    """No false carries, ever: across two clustered-then-fragmented
    layouts (fine and coarse splits) and random sparse batches (present
    keys, gap inserts, out-of-range keys), every file that ACTUALLY
    holds a batch key must be in the rewrite set — the ground truth is
    read straight from the parquet files.  This is the safety property
    the exact range test must preserve; a false carry is silent data
    corruption (stale row survives a merge it should have joined)."""
    import random

    rnd = random.Random(7)
    for name, target_file_rows in (("fine", 20), ("coarse", 55)):
        t = _mk_table(tmp_table_dir, name, buckets=3)
        t.merge(_batch(spark, range(0, 600, 2), lsn=1))  # evens only
        t.compact(spark, cluster_by_key=True, target_file_rows=target_file_rows)
        # fragment: a few extra merges so buckets mix clustered + fresh files
        t.merge(_batch(spark, rnd.sample(range(0, 600, 2), 40), lsn=2))
        t.merge(_batch(spark, rnd.sample(range(0, 600, 2), 10), lsn=3))

        for probe_trial in range(6):
            ids = rnd.sample(range(0, 640), rnd.randint(1, 12))  # odds = absent
            batch = _batch(spark, ids, lsn=10 + probe_trial)
            rewrite, carry = _prune(t, batch)
            keys = {f"k{i:06d}" for i in ids}
            rewrite_paths = {f.path for f in rewrite}
            # the point read of the same keys scans exactly those files
            read_paths = {f.path for f in t._files_for_keys(spark, sorted(keys), t.snapshot())}
            assert read_paths == rewrite_paths
            for f in rewrite + carry:
                file_keys = set(
                    pq.read_table(os.path.join(t.path, f.path), columns=["k"])[
                        "k"
                    ].to_pylist()
                )
                if file_keys & keys:
                    assert f.path in rewrite_paths, (
                        f"{name}: false carry of {f.path} holding "
                        f"{sorted(file_keys & keys)[:3]}"
                    )


def test_cluster_by_key_requires_keyed_table(spark, tmp_table_dir):
    t = LakeTable.create(os.path.join(tmp_table_dir, "unkeyed"), SCHEMA)
    t.append(spark.createDataFrame([("a", 1)], SCHEMA))
    with pytest.raises(ValueError, match="keyed"):
        t.compact(spark, cluster_by_key=True)
    with pytest.raises(ValueError, match="positive"):
        _mk_table(tmp_table_dir, "t").compact(
            spark, cluster_by_key=True, target_file_rows=0
        )


# --------------------------------------------- exact range test soundness
@pytest.fixture(scope="module")
def evens_clustered(spark, tmp_path_factory):
    """Keys k000000..k000598 (evens only) in 4 buckets, clustered into
    ~15-row files: ~5 disjoint files per bucket with odd-key gaps
    between them.  Tests merge into copies (:func:`_copy`)."""
    t = _mk_table(str(tmp_path_factory.mktemp("evens")), "t")
    t.merge(_batch(spark, range(0, 600, 2), lsn=1))
    t.compact(spark, cluster_by_key=True, target_file_rows=15)
    return t


def _copy(t, tmp_table_dir):
    dst = os.path.join(tmp_table_dir, "copy")
    shutil.copytree(t.path, dst)
    return LakeTable.load(dst)


def _bucket_of(spark, keys, buckets=4):
    return {
        r["k"]: r["b"]
        for r in spark.createDataFrame([(k,) for k in keys], "k string")
        .select("k", bucket_expr("k", buckets).alias("b"))
        .collect()
    }


def _gap_keys(spark, t):
    """Absent (odd) keys that lie strictly between two files of their
    own bucket: inside the bucket's key span, in no file's range."""
    by_bucket = assert_disjoint_bucket_ranges(t)
    odd = [f"k{i:06d}" for i in range(1, 600, 2)]
    return [
        k
        for k, b in _bucket_of(spark, odd).items()
        if by_bucket[b][0].max_key < k < by_bucket[b][-1].min_key
        and not any(f.min_key <= k <= f.max_key for f in by_bucket[b])
    ]


def test_range_test_bounds_are_inclusive(spark, tmp_table_dir, evens_clustered):
    """A key equal to a file's min_key or max_key selects that file
    (and only it): the range test's bounds are inclusive."""
    t = _copy(evens_clustered, tmp_table_dir)
    by_bucket = assert_disjoint_bucket_ranges(t)
    bucket, fs = max(by_bucket.items(), key=lambda kv: len(kv[1]))
    assert len(fs) >= 3
    mid = fs[1]
    for edge in (mid.min_key, mid.max_key):
        rewrite, carry = _prune(t, _batch(spark, [int(edge[1:])], lsn=5))
        assert [f.path for f in rewrite] == [mid.path], edge
        assert len(carry) == len(_files(t)) - 1
    # both edges updated in one merge: one file rewritten, values land
    st = t.merge(_batch(spark, [int(mid.min_key[1:]), int(mid.max_key[1:])], lsn=5))
    assert st["rewritten_files"] == 1 and st["updated"] == 2
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert len(rows) == 300
    assert rows[mid.min_key] == int(mid.min_key[1:]) and rows[mid.max_key] == int(mid.max_key[1:])


def test_gap_only_batch_rewrites_no_file(spark, tmp_table_dir, evens_clustered):
    """Every batch key falls between two files of its bucket: each
    bucket's batch interval sweeps files in, yet none holds a batch
    key, so every file carries and the merge only inserts."""
    t = _copy(evens_clustered, tmp_table_dir)
    gaps = _gap_keys(spark, t)
    buckets = _bucket_of(spark, gaps)
    # the first and last gap key of each bucket span its inner files
    probe_keys = sorted(
        {min(k for k in gaps if buckets[k] == b) for b in set(buckets.values())}
        | {max(k for k in gaps if buckets[k] == b) for b in set(buckets.values())}
    )
    swept = [
        f
        for f in _files(t)
        if any(
            buckets[lo] == f.bucket == buckets[hi] and lo < f.min_key and f.max_key < hi
            for lo in probe_keys
            for hi in probe_keys
        )
    ]
    assert swept
    probe = _batch(spark, [int(k[1:]) for k in probe_keys], lsn=5)
    rewrite, carry = _prune(t, probe)
    assert rewrite == [] and len(carry) == len(_files(t))
    st = t.merge(probe)
    assert st["rewritten_files"] == 0 and st["inserted"] == len(probe_keys)
    assert t.read(spark).count() == 300 + len(probe_keys)


def test_non_string_key_table_never_range_carries(spark, tmp_table_dir):
    """A long-keyed table gets no footer key stats, so the range test
    never applies: every file in a touched bucket is rewritten, even
    for keys that lie in no file, and only untouched buckets carry."""
    schema = StructType(
        [StructField("id", LongType(), False), StructField("v", LongType(), True)]
    )
    t = LakeTable.create(os.path.join(tmp_table_dir, "t"), schema, key_col="id", bucket_count=4)

    def batch(ids, lsn):
        return spark.createDataFrame(
            [(i, i, "upsert", lsn) for i in ids], "id long, v long, op string, lsn long"
        )

    for block in range(3):  # adjacent blocks: 3 files per bucket
        t.merge(batch(range(block * 100, (block + 1) * 100), lsn=block + 1))
    files = _files(t)
    assert files and all(f.min_key is None and f.max_key is None for f in files)
    probe = batch([1_000_001], lsn=9)  # in no file's key span
    (b,) = {
        r["b"]
        for r in probe.select(bucket_expr("id", 4).alias("b")).collect()
    }
    snap = t.snapshot()
    rewrite, carry = t._prune_for_batch(probe.withColumn(BUCKET_COL, bucket_expr("id", 4)), snap)
    assert {f.path for f in rewrite} == {f.path for f in files if f.bucket == b}
    assert {f.path for f in carry} == {f.path for f in files if f.bucket != b}
    st = t.merge(probe)
    assert st["inserted"] == 1 and st["rewritten_files"] == len(rewrite)
    assert t.read(spark).count() == 301


def test_range_test_keeps_file_bounds_out_of_the_plan(spark, tmp_table_dir, evens_clustered):
    """The range test runs on the driver over each touched bucket's
    sorted keys, which the batch summary collects: no file's bounds
    enter the summary's plan, so the plan text the SQL status store
    keeps per merge does not grow with the table, and nothing is
    broadcast.  Files holding a batch key rewrite, all others carry."""
    t = _copy(evens_clustered, tmp_table_dir)
    files = _files(t)
    holders = files[:-1:3] + [files[-1]]
    present = [f.min_key for f in files[:-1:3]] + [files[-1].max_key]
    gaps = _gap_keys(spark, t)[:4]
    probe = _batch(spark, [int(k[1:]) for k in gaps + present], lsn=5)

    since = sql_clock_ms(spark)
    rewrite, carry = _prune(t, probe)
    # the newest batch summary's plan: the one naming its _misplaced aggregate
    plan = plans_since(spark, since, "_misplaced")[0]
    assert "BroadcastExchange" not in plan
    assert not any(f.min_key in plan or f.max_key in plan for f in files)
    assert sorted(f.path for f in rewrite) == sorted(f.path for f in holders)
    assert len(carry) == len(files) - len(holders) > 0
    st = t.merge(probe)
    assert st["rewritten_files"] == len(present) and st["updated"] == len(present)
    assert st["inserted"] == len(gaps) > 0


def test_batch_with_misplaced_bucket_column_is_retagged(spark, tmp_table_dir, evens_clustered):
    """A batch whose own ``_bucket`` column was computed for another
    bucket count (a rebucket committed after it was tagged) is
    re-tagged by the merge: every row lands in its key's bucket and
    the rows it updates are found, not duplicated."""
    t = _copy(evens_clustered, tmp_table_dir)
    keys = [f"k{i:06d}" for i in range(0, 100, 10)]
    bucket_of = _bucket_of(spark, keys)
    batch = _batch(spark, [int(k[1:]) for k in keys], lsn=5).withColumn(
        BUCKET_COL, bucket_expr("k", 8)
    )
    assert any(r[BUCKET_COL] != bucket_of[r["k"]] for r in batch.collect())
    before = {f.path for f in _files(t)}
    st = t.merge(batch.withColumn("v", F.col("v") + 1))
    assert st["updated"] == len(keys) and st["inserted"] == 0
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert len(rows) == 300 and all(rows[k] == int(k[1:]) + 1 for k in keys)
    all_keys = _bucket_of(spark, list(rows))
    for f in _files(t):
        if f.path not in before:
            ks = pq.read_table(os.path.join(t.path, f.path), columns=["k"])["k"].to_pylist()
            assert {all_keys[k] for k in ks} == {f.bucket}
