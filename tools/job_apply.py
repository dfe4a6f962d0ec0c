"""spark-submit entry job: tail a change feed and apply it to a lake
pipeline — the cluster deployment shape of the engine.

    spark-submit --master <cluster> \
        --py-files dist/horizon_etl_spark.zip \
        tools/job_apply.py \
        --pipeline-root /data/lake/docs \
        --feed /data/wal/segments --checkpoint /data/ckpt/docs

The script carries NO sys.path manipulation: the engine package must
arrive via ``--py-files`` (or an installed wheel), exactly as on a real
multi-executor cluster — executors unpack the same zip, so driver and
executor code are pinned to one artifact.  The session comes from
``SparkSession.builder.getOrCreate()`` and inherits master/conf from
spark-submit; cluster-size experiments (N vs 4N executors) are pure
``--master``/``--conf`` changes, no code edits.

First deployment of a pipeline may pass ``--bootstrap-snapshot`` (a
parquet directory of the source's consistent snapshot) plus
``--bootstrap-lsn`` (the WAL position the snapshot was taken at): the
empty target is bulk-loaded without MERGE, then the feed tail applies
only post-snapshot events (the lsn guard absorbs the overlap).

Prints exactly one JSON line of run evidence on success.
"""

from __future__ import annotations

import argparse
import json
import sys


def _bucket_count(s: str) -> int:
    n = int(s)
    if n < 1:
        raise argparse.ArgumentTypeError(f"bucket count must be >= 1, got {n}")
    return n


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pipeline-root", required=True)
    ap.add_argument("--feed", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument(
        "--feed-format", default="parquet", choices=["parquet", "json", "csv", "xlsx"]
    )
    ap.add_argument("--bucket-count", type=_bucket_count, default=16)
    ap.add_argument("--attr-lww", action="store_true")
    ap.add_argument("--with-rollup", action="store_true")
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument(
        "--vocab-size",
        type=int,
        default=None,
        help="opt-in token-range invariant: quarantine events carrying "
        "token ids outside [0, vocab) (reason token_out_of_vocab)",
    )
    ap.add_argument("--bootstrap-snapshot", default=None)
    ap.add_argument("--bootstrap-lsn", type=int, default=None)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    if (args.bootstrap_snapshot is None) != (args.bootstrap_lsn is None):
        print(
            "error: --bootstrap-snapshot and --bootstrap-lsn go together",
            file=sys.stderr,
        )
        return 2

    # imports resolve from --py-files; deliberately after arg parsing so
    # usage errors don't need a JVM
    from pyspark.sql import SparkSession

    from horizon_etl_spark.cdc.apply import CdcPipeline, bootstrap
    from horizon_etl_spark.streaming.runner import run_stream
    from horizon_etl_spark.tables.lake import LakeTable

    spark = SparkSession.builder.appName("horizon_etl_spark.job_apply").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import os

    if LakeTable.exists(os.path.join(args.pipeline_root, "target")):
        pipe = CdcPipeline.load(args.pipeline_root)
    else:
        pipe = CdcPipeline.create(
            args.pipeline_root,
            bucket_count=args.bucket_count,
            attr_lww=args.attr_lww,
        )

    boot_stats = None
    if args.bootstrap_snapshot is not None:
        snap = spark.read.parquet(args.bootstrap_snapshot)
        boot_stats = bootstrap(
            pipe,
            spark,
            snap,
            as_of_lsn=args.bootstrap_lsn,
            with_rollup=args.with_rollup,
        )

    run_stream(
        spark,
        pipe,
        args.feed,
        args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
        with_rollup=args.with_rollup,
        feed_format=args.feed_format,
        vocab_size=args.vocab_size,
    )

    from pyspark.sql import functions as F

    runs = pipe.runs.read(spark)
    totals = (
        runs.agg(
            F.count(F.lit(1)).alias("runs"),
            F.sum("input_rows").alias("input_rows"),
            F.sum("applied").alias("applied"),
            F.sum("quarantined").alias("quarantined"),
        )
        .first()
        .asDict()
    )
    out = {
        "pipeline_root": args.pipeline_root,
        "target_version": pipe.target.current_version(),
        "target_rows": pipe.target.read(spark).count(),
        "runs": int(totals["runs"] or 0),
        "input_rows": int(totals["input_rows"] or 0),
        "applied": int(totals["applied"] or 0),
        "quarantined": int(totals["quarantined"] or 0),
    }
    if boot_stats is not None:
        out["bootstrap"] = boot_stats
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
