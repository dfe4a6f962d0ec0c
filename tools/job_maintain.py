"""spark-submit entry job: lake maintenance — the third orchestrated
phase (ingest → export → maintain).

    spark-submit --master <cluster> \
        --py-files dist/horizon_etl_spark.zip \
        tools/job_maintain.py --pipeline-root /data/lake/docs \
        [--rebucket auto|off|N] [--max-files-per-bucket 8] \
        [--cluster-by-key auto|on|off] [--target-file-rows N] \
        [--vacuum-keep 4] [--vacuum-min-age 3600]

Three bounded-cost operations, in dependency order:
  1. **rebucket** (``auto``): if the last merge's snapshot summary
     carries a ``rebucket_recommended`` advisory (rows/bucket exceeded
     the policy threshold), atomically rewrite the target to the
     recommended bucket count — the advisory fires from ingest metrics,
     the rewrite runs here where it cannot stall the feed.
  2. **compact_buckets**: selective small-file compaction of hot
     buckets only (O(hot buckets), not O(table)); ``--cluster-by-key``
     additionally key-sorts the rewrite into disjoint-range file splits
     (sort-ordered compaction) so later point-key merges stay ~1 file.
  3. **vacuum**: expire old snapshots + delete unreferenced data files
     across ALL pipeline tables, with the concurrent-writer age guard.

At 100 TB these are the jobs that keep merge cost flat as the table
grows; each is a separate commit, so a crash mid-maintenance leaves a
consistent table at the last completed step (idempotent to re-run).

Prints exactly one JSON line of maintenance evidence on success.
"""

from __future__ import annotations

import argparse
import json
import sys


def _rebucket(s: str) -> str:
    if s not in ("auto", "off") and not (s.isdigit() and int(s) >= 1):
        raise argparse.ArgumentTypeError(f"expected auto, off or a bucket count >= 1, got {s!r}")
    return s


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pipeline-root", required=True)
    ap.add_argument(
        "--rebucket",
        default="auto",
        type=_rebucket,
        help="'auto' = follow the merge-time advisory; 'off'; or an explicit count",
    )
    ap.add_argument("--max-files-per-bucket", type=int, default=8)
    ap.add_argument(
        "--cluster-by-key",
        default="auto",
        choices=["auto", "on", "off"],
        help="key-sort + range-split the rewritten hot buckets into "
        "disjoint-range files (sort-ordered compaction), so point-key "
        "merges rewrite ~1 file instead of the whole bucket; 'auto' "
        "(default) follows the merge-time cluster_recommended advisory "
        "(fires when sparse batches churn files far over "
        "target_file_rows)",
    )
    ap.add_argument(
        "--target-file-rows",
        type=int,
        default=None,
        help="rows per clustered file split (default: the table's "
        "target_file_rows prop, else 4,000,000)",
    )
    ap.add_argument("--vacuum-keep", type=int, default=4)
    ap.add_argument(
        "--vacuum-keep-change-log",
        type=int,
        default=64,
        help="change_log retains more history: the incremental outbox "
        "export (export_changes) scans snapshots back to its cursor, so "
        "keep at least one export cycle's worth of versions",
    )
    ap.add_argument("--vacuum-min-age", type=float, default=3600.0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    from horizon_etl_spark.cdc.apply import CdcPipeline

    spark = SparkSession.builder.appName("horizon_etl_spark.job_maintain").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    pipe = CdcPipeline.load(args.pipeline_root)
    target = pipe.target
    out: dict = {"pipeline_root": args.pipeline_root}

    snap = target.snapshot()
    current = snap["bucket_count"]
    cluster = args.cluster_by_key == "on" or (
        args.cluster_by_key == "auto"
        and bool(snap.get("summary", {}).get("cluster_recommended"))
    )
    out["cluster_by_key"] = cluster
    if args.rebucket == "auto":
        want = snap.get("summary", {}).get("rebucket_recommended")
    elif args.rebucket == "off":
        want = None
    else:
        want = int(args.rebucket)
    if want and want != current:
        # when both layout advisories are pending, the single O(table)
        # rebucket pass produces the clustered layout too — otherwise
        # the cluster sweep below would rewrite the whole table AGAIN
        # (every post-rebucket file is full-range, hence "fat")
        target.rebucket(
            spark, want, cluster_by_key=cluster,
            target_file_rows=args.target_file_rows,
        )
        out["rebucket"] = {"from": current, "to": want, "clustered": cluster}
    else:
        out["rebucket"] = None

    out["compact"] = target.compact_buckets(
        spark,
        max_files_per_bucket=args.max_files_per_bucket,
        cluster_by_key=cluster,
        target_file_rows=args.target_file_rows,
    )

    vac = {}
    for name in ("target", "quarantine", "runs", "metrics", "change_log", "rollup"):
        keep = (
            args.vacuum_keep_change_log if name == "change_log" else args.vacuum_keep
        )
        vac[name] = getattr(pipe, name).vacuum(
            keep_versions=keep, min_age_seconds=args.vacuum_min_age
        )
    out["vacuum"] = vac
    out["target_version"] = target.current_version()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
