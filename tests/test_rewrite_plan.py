"""The one rewrite path behind ``overwrite``, ``compact``,
``compact_buckets`` and ``rebucket``: every non-clustered rewrite places
its rows by bucket id, so its write plan has one Exchange (the by-id
placement, never a hash of ``_bucket``) and each written bucket is one
file."""

import os
from collections import Counter

import pytest
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from horizon_etl_spark.tables.lake import FileEntry, LakeTable

from conftest import final_plan_nodes, plans_since, sql_clock_ms

SCHEMA = StructType(
    [StructField("doc_id", StringType(), False), StructField("n", IntegerType(), True)]
)


def _clustered_table(spark, root):
    """A 4-bucket table whose buckets each hold several range-split files."""
    t = LakeTable.create(os.path.join(root, "t"), SCHEMA, key_col="doc_id", bucket_count=4)
    t.overwrite(
        spark.createDataFrame(
            [(f"k{i:04d}", i, 1, i % 10 == 0) for i in range(400)],
            "doc_id string, n int, _lsn long, _tombstone boolean",
        )
    )
    t.compact(spark, drop_tombstones=False, cluster_by_key=True, target_file_rows=30)
    per_bucket = Counter(f["bucket"] for f in t.snapshot()["files"])
    assert min(per_bucket.values()) > 1, per_bucket
    return t


@pytest.mark.parametrize("op", ["overwrite", "compact", "compact_buckets", "rebucket"])
def test_rewrite_write_is_one_by_id_exchange_one_file_per_bucket(spark, tmp_path, op):
    t = _clustered_table(spark, str(tmp_path))
    before = {f["path"] for f in t.snapshot()["files"]}
    since = sql_clock_ms(spark)
    if op == "overwrite":
        t.overwrite(t.read(spark, include_meta=True))
    elif op == "compact":
        t.compact(spark)
    elif op == "compact_buckets":
        assert t.compact_buckets(spark, max_files_per_bucket=1)["compacted_buckets"] == 4
    else:
        t.rebucket(spark, 8)

    snap = t.snapshot()
    out_prefix = os.path.join(t.path, "data", f"commit-{snap['version']:08d}-")
    plans = plans_since(spark, since, out_prefix)
    assert len(plans) == 1
    exchanges = [n for n in final_plan_nodes(plans[0]) if n.startswith("Exchange")]
    assert len(exchanges) == 1, exchanges
    assert "shufflepartitionidpassthrough(direct_shuffle_partition_id(_bucket" in plans[0]
    assert "hashpartitioning(_bucket" not in plans[0]

    new = [FileEntry.from_json(f) for f in snap["files"] if f["path"] not in before]
    per_bucket = Counter(f.bucket for f in new)
    assert set(per_bucket) == set(range(snap["bucket_count"]))
    assert set(per_bucket.values()) == {1}, per_bucket
    if op == "compact_buckets":
        assert snap["summary"]["new_files"] == len(new)
