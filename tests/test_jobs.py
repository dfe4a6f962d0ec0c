"""In-process tests of the spark-submit job entrypoints (main()
functions called directly — the subprocess path is covered by
tests/test_submit.py / test_orchestrate.py).  Focus: the maintenance
job actually performing work (advisory-driven rebucket, vacuum) and
the outbox export mode, against oracle-checked state."""

import json
import os

import pytest
from pyspark.sql import functions as F

from horizon_etl_spark.cdc.apply import CdcPipeline, apply_batch
from horizon_etl_spark.cdc.generator import change_feed
from horizon_etl_spark.cdc.oracle import assert_frames_equal, expected_final
from tools import job_apply, job_export, job_maintain

from conftest import assert_disjoint_bucket_ranges


def test_job_clis_reject_non_positive_bucket_counts():
    """A bucket count below 1 is refused at argparse (exit 2), before any
    Spark session or table is touched."""
    apply_base = ["--pipeline-root", "p", "--feed", "f", "--checkpoint", "c"]
    assert job_apply.parse_args(apply_base + ["--bucket-count", "8"]).bucket_count == 8
    for argv in (
        apply_base + ["--bucket-count", "0"],
        apply_base + ["--bucket-count", "-4"],
        ["--pipeline-root", "p", "--rebucket", "0"],
        ["--pipeline-root", "p", "--rebucket", "-4"],
        ["--pipeline-root", "p", "--rebucket", "many"],
    ):
        with pytest.raises(SystemExit) as exc:
            (job_apply if "--feed" in argv else job_maintain).parse_args(argv)
        assert exc.value.code == 2, argv
    for ok in ("auto", "off", "16"):
        assert job_maintain.parse_args(["--pipeline-root", "p", "--rebucket", ok]).rebucket == ok


def test_set_props_is_metadata_only_commit(spark, tmp_table_dir):
    pipe = CdcPipeline.create(os.path.join(tmp_table_dir, "p"), bucket_count=4)
    feed = change_feed(spark, 500, 50, seed=41, num_batches=1).drop("batch")
    apply_batch(pipe, feed, batch_id=0)
    files_before = {f["path"] for f in pipe.target.snapshot()["files"]}
    v = pipe.target.set_props({"target_rows_per_bucket": 10})
    snap = pipe.target.snapshot()
    assert snap["version"] == v and snap["operation"] == "set_props"
    assert {f["path"] for f in snap["files"]} == files_before
    assert pipe.target.props["target_rows_per_bucket"] == 10
    assert_frames_equal(pipe.target.read(spark), expected_final(feed))


def test_job_maintain_advisory_rebucket_and_vacuum(spark, tmp_table_dir, capsys):
    """End-to-end maintenance: tighten the bucket policy on a live
    table, merge (advisory fires), run the maintain job — it must
    rebucket to the recommendation, sweep, vacuum old snapshots, and
    leave the data bit-identical."""
    root = os.path.join(tmp_table_dir, "p")
    pipe = CdcPipeline.create(root, bucket_count=4)
    feed = change_feed(spark, 4000, 400, seed=43, num_batches=2)
    pipe.target.set_props({"target_rows_per_bucket": 20})
    for b in (0, 1):
        apply_batch(pipe, feed.filter(F.col("batch") == b).drop("batch"), batch_id=b)
    assert pipe.target.snapshot()["summary"].get("rebucket_recommended", 0) > 4

    rc = job_maintain.main(
        [
            "--pipeline-root", root,
            "--vacuum-keep", "1",
            "--vacuum-keep-change-log", "2",
            "--vacuum-min-age", "0",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rebucket"]["from"] == 4 and out["rebucket"]["to"] > 4

    t = CdcPipeline.load(root).target
    assert t.snapshot()["bucket_count"] == out["rebucket"]["to"]
    assert_frames_equal(t.read(spark), expected_final(feed))
    # vacuum really expired history (only the latest target snapshot left)
    assert out["vacuum"]["target"]["removed_snapshots"] > 0
    assert len(t.history()) == 1

    # idempotent: a second run has nothing to do and changes nothing
    v = t.current_version()
    assert job_maintain.main(["--pipeline-root", root, "--vacuum-min-age", "0"]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["rebucket"] is None
    assert CdcPipeline.load(root).target.current_version() == v
    assert_frames_equal(CdcPipeline.load(root).target.read(spark), expected_final(feed))


def test_job_maintain_cluster_by_key(spark, tmp_table_dir, capsys):
    """--cluster-by-key routes through compact_buckets' sort-ordered
    rewrite: hot buckets end with pairwise-disjoint key ranges and the
    data round-trips bit-identical."""
    root = os.path.join(tmp_table_dir, "p")
    pipe = CdcPipeline.create(root, bucket_count=4)
    feed = change_feed(spark, 3000, 300, seed=47, num_batches=3)
    for b in (0, 1, 2):
        apply_batch(pipe, feed.filter(F.col("batch") == b).drop("batch"), batch_id=b)

    rc = job_maintain.main(
        [
            "--pipeline-root", root,
            "--rebucket", "off",
            "--max-files-per-bucket", "0",
            "--cluster-by-key", "on",
            "--target-file-rows", "40",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["compact"]["compacted_buckets"] > 0

    t = CdcPipeline.load(root).target
    assert_disjoint_bucket_ranges(t, require_split=True)
    assert_frames_equal(t.read(spark), expected_final(feed.drop("batch")))


def test_job_maintain_cluster_auto_follows_advisory(spark, tmp_table_dir, capsys):
    """Default --cluster-by-key auto: a point-key trickle against fat
    bucket files trips the merge-time cluster_recommended advisory, the
    next maintenance sweep sort-orders exactly the oversized buckets,
    and once clustered the follow-up sweep is a no-op."""
    root = os.path.join(tmp_table_dir, "p")
    pipe = CdcPipeline.create(root, bucket_count=4)
    pipe.target.set_props({"target_file_rows": 30})
    feed = change_feed(spark, 3000, 300, seed=49, num_batches=1).drop("batch")
    apply_batch(pipe, feed, batch_id=0)
    trickle = change_feed(spark, 50, 1, seed=50, num_batches=1).drop("batch")
    trickle = trickle.withColumn("lsn", F.col("lsn") + 1_000_000_000)
    apply_batch(pipe, trickle, batch_id=1)
    assert pipe.target.snapshot()["summary"].get("cluster_recommended") is True

    rc = job_maintain.main(["--pipeline-root", root, "--rebucket", "off"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["cluster_by_key"] is True and out["compact"]["compacted_buckets"] > 0

    t = CdcPipeline.load(root).target
    assert_disjoint_bucket_ranges(t, require_split=True)
    assert_frames_equal(
        t.read(spark), expected_final(feed.unionByName(trickle))
    )

    # clustered state carries no advisory → the next sweep is a no-op
    assert job_maintain.main(["--pipeline-root", root, "--rebucket", "off"]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["cluster_by_key"] is False
    assert out2["compact"]["compacted_buckets"] == 0


def test_job_maintain_combined_advisories_single_pass(spark, tmp_table_dir, capsys):
    """When rebucket_recommended AND cluster_recommended are both
    pending, the one O(table) rebucket pass must produce the clustered
    layout too — the following sweep then finds nothing fat (a plain
    rebucket would leave full-range files and trigger a SECOND
    whole-table rewrite in the same run)."""
    root = os.path.join(tmp_table_dir, "p")
    pipe = CdcPipeline.create(root, bucket_count=4)
    pipe.target.set_props({"target_rows_per_bucket": 20, "target_file_rows": 30})
    feed = change_feed(spark, 3000, 300, seed=51, num_batches=1).drop("batch")
    apply_batch(pipe, feed, batch_id=0)
    trickle = (
        change_feed(spark, 50, 1, seed=52, num_batches=1)
        .drop("batch")
        .withColumn("lsn", F.col("lsn") + 1_000_000_000)
    )
    apply_batch(pipe, trickle, batch_id=1)
    s = pipe.target.snapshot()["summary"]
    assert s.get("rebucket_recommended") and s.get("cluster_recommended")

    rc = job_maintain.main(["--pipeline-root", root, "--vacuum-min-age", "0"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rebucket"]["clustered"] is True
    assert out["compact"]["compacted_buckets"] == 0  # nothing fat remains

    t = CdcPipeline.load(root).target
    assert_disjoint_bucket_ranges(t)
    assert_frames_equal(
        t.read(spark), expected_final(feed.unionByName(trickle))
    )


def test_job_export_changes_mode(spark, tmp_table_dir, capsys):
    root = os.path.join(tmp_table_dir, "p")
    out_dir = os.path.join(tmp_table_dir, "exports")
    pipe = CdcPipeline.create(root, bucket_count=4)
    feed = change_feed(spark, 800, 80, seed=53, num_batches=1).drop("batch")
    apply_batch(pipe, feed, batch_id=0)

    assert job_export.main(
        ["--pipeline-root", root, "--out", out_dir, "--changes"]
    ) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["rows"] == pipe.change_log.read(spark).count() > 0

    # second run with no new changes: no-op cursor semantics
    assert job_export.main(
        ["--pipeline-root", root, "--out", out_dir, "--changes"]
    ) == 0
    res2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res2["rows"] == 0 and res2["from_version"] == res["to_version"]


def test_job_export_time_travel_version(spark, tmp_table_dir, capsys):
    """--version reproduces a PAST artifact even after later merges."""
    from horizon_etl_spark.exports import read_export

    root = os.path.join(tmp_table_dir, "p")
    out_dir = os.path.join(tmp_table_dir, "exports")
    pipe = CdcPipeline.create(root, bucket_count=4)
    feed = change_feed(spark, 1200, 100, seed=59, num_batches=2)
    apply_batch(pipe, feed.filter(F.col("batch") == 0).drop("batch"), batch_id=0)
    v_old = pipe.target.current_version()
    old_state = expected_final(feed.filter(F.col("batch") == 0))
    apply_batch(pipe, feed.filter(F.col("batch") == 1).drop("batch"), batch_id=1)

    assert job_export.main(
        ["--pipeline-root", root, "--out", out_dir,
         "--name", "asof", "--version", str(v_old)]
    ) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["source_version"] == v_old
    art = read_export(spark, out_dir, "asof")
    assert_frames_equal(
        art.select("doc_id", "tokens", "n_tok", "source"), old_state
    )

    # the combination that would silently mix snapshots is rejected
    assert job_export.main(
        ["--pipeline-root", root, "--out", out_dir,
         "--version", str(v_old), "--filtered-by", "source"]
    ) == 2

    # --bundle finishes with the K4 zip of everything published so far
    assert job_export.main(
        ["--pipeline-root", root, "--out", out_dir, "--name", "asof",
         "--version", str(v_old), "--bundle"]
    ) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["bundle"]["n_files"] > 0 and os.path.exists(res["bundle"]["path"])
    import zipfile

    with zipfile.ZipFile(res["bundle"]["path"]) as zf:
        assert any(m.startswith("asof/") for m in zf.namelist())


def test_job_replicate_entrypoint(spark, tmp_table_dir, capsys):
    """job_replicate creates the replica on first run and converges it
    from the outbox deltas of an attr-mode primary."""
    from horizon_etl_spark.exports import export_changes
    from tools import job_replicate

    primary_root = os.path.join(tmp_table_dir, "primary")
    out = os.path.join(tmp_table_dir, "exports")
    replica_root = os.path.join(tmp_table_dir, "replica")
    pipe = CdcPipeline.create(primary_root, bucket_count=4, attr_lww=True)
    feed = change_feed(spark, 1000, 80, seed=67, num_batches=1).drop("batch")
    feed = feed.withColumn(
        "fields",
        F.when(F.col("op") == "delete", F.lit(None).cast("array<string>"))
        .when(F.pmod(F.xxhash64("lsn"), F.lit(2)) == 0, F.array(F.lit("source")))
        .otherwise(F.lit(None).cast("array<string>")),
    )
    apply_batch(pipe, feed, batch_id=0)
    export_changes(spark, pipe.change_log, out, "target_changes")

    assert job_replicate.main(
        ["--out", out, "--name", "target_changes",
         "--replica-root", replica_root, "--bucket-count", "4"]
    ) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(res["applied_deltas"]) == 1
    assert res["replica_rows"] == pipe.target.read(spark).count()

    from horizon_etl_spark.tables.lake import LakeTable

    assert_frames_equal(
        LakeTable.load(replica_root).read(spark), pipe.target.read(spark)
    )
