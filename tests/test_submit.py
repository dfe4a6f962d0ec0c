"""Cluster deployment shape: the engine shipped as a ``--py-files`` zip
and driven by ``spark-submit tools/job_apply.py`` in a SEPARATE process
— the north rule's literal run mode.  The subprocess gets the package
ONLY from the zip (cwd is a scratch dir, PYTHONPATH scrubbed), so the
test proves the artifact is self-contained, then the parent session
reads the pipeline the job wrote and oracle-checks final state.
"""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from horizon_etl_spark.cdc.apply import CdcPipeline
from horizon_etl_spark.cdc.generator import change_feed
from horizon_etl_spark.cdc.oracle import assert_frames_equal, expected_final

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(
    os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit"
)


def _submit(argv, cwd):
    env = {
        k: v
        for k, v in os.environ.items()
        # scrub anything that could leak the repo onto the driver path
        if k not in ("PYTHONPATH",)
    }
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--conf", "spark.ui.enabled=false",
         *argv],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=560,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    # the job's single JSON evidence line is the last stdout line
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_pyfiles_bootstrap_and_tail(spark, tmp_path):
    from tools.make_pyfiles import build_zip

    scratch = str(tmp_path)
    zip_path = build_zip(REPO, os.path.join(scratch, "horizon_etl_spark.zip"))
    # deterministic artifact: rebuilding yields identical bytes
    again = build_zip(REPO, os.path.join(scratch, "again.zip"))
    with open(zip_path, "rb") as a, open(again, "rb") as b:
        assert a.read() == b.read()

    feed = change_feed(spark, 6000, 300, seed=23, num_batches=4)
    head = feed.filter(F.col("batch") <= 1)
    w = head.agg(F.max("lsn")).first()[0]
    snap_dir = os.path.join(scratch, "snapshot")
    expected_final(head).write.parquet(snap_dir)
    feed_dir = os.path.join(scratch, "feed")
    for b in (2, 3):
        feed.filter(F.col("batch") == b).drop("batch").coalesce(1).write.mode(
            "append"
        ).parquet(feed_dir)

    root = os.path.join(scratch, "pipe")
    out = _submit(
        [
            "--py-files", zip_path,
            os.path.join(REPO, "tools", "job_apply.py"),
            "--pipeline-root", root,
            "--feed", feed_dir,
            "--checkpoint", os.path.join(scratch, "ckpt"),
            "--with-rollup",
            "--bootstrap-snapshot", snap_dir,
            "--bootstrap-lsn", str(w),
        ],
        cwd=scratch,
    )
    assert out["bootstrap"]["bootstrap_lsn"] == w
    assert out["runs"] >= 2  # bootstrap row + >=1 stream batch row

    pipe = CdcPipeline.load(root)
    assert_frames_equal(pipe.target.read(spark), expected_final(feed))
    assert out["target_rows"] == pipe.target.read(spark).count()

    # resumability across processes: a second submit over the SAME
    # checkpoint with no new files must be a no-op
    before = pipe.target.current_version()
    out2 = _submit(
        [
            "--py-files", zip_path,
            os.path.join(REPO, "tools", "job_apply.py"),
            "--pipeline-root", root,
            "--feed", feed_dir,
            "--checkpoint", os.path.join(scratch, "ckpt"),
            "--with-rollup",
        ],
        cwd=scratch,
    )
    assert out2["target_version"] == before
    assert_frames_equal(CdcPipeline.load(root).target.read(spark), expected_final(feed))


def test_job_apply_has_no_plan_knobs():
    """The LWW reduce's shape is the engine's choice: job_apply takes no
    salting flag, and argparse rejects the removed ``--salted-lww``."""
    from tools.job_apply import parse_args

    base = ["--pipeline-root", "p", "--feed", "f", "--checkpoint", "c"]
    assert parse_args(base).pipeline_root == "p"
    with pytest.raises(SystemExit) as exc:
        parse_args(base + ["--salted-lww", "on"])
    assert exc.value.code == 2
