"""Closed-loop CDC benchmark: one client drops one batch file at a time
into a change-feed directory and drains it through the production entry
point ``streaming.runner.run_stream`` (availableNow), then point-reads
16 keys twice with ``LakeTable.read_keys``.  The next file is dropped
only after the previous call returns.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``.  The line
before it is the full report: realised workload shape, host stamp, tail
latencies with their sample counts, ``failed_frac`` and the gate result.

With ``--trace 1`` every other timed batch (and its lookup) runs with the
tracing shims installed; the untraced batches of the same run give the
end-to-end figures the tracing overhead is measured against.

Everything the run writes lives under ``perfbench/.work`` and is removed
when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import sys
import time
import traceback

import workloads as W
from spans import Patches, SparkCounters, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# every end-to-end figure the report prints; BENCHMARK.json gates the
# ones that hold steady on a shared host (see README.md)
E2E_UNITS = {
    "setup_s": "s",
    "events_per_s": "ev/s",
    "batch_p50_s": "s",
    "lookup_p50_ms": "ms",
    "write_mb_per_kevent": "MB",
    "peak_rss_mb": "MB",
    "spark_jobs_per_batch": "count",
}
# write_mb_per_kevent counts the first timed batches only: the target grows
# batch by batch, so a count that followed the window's length would
# follow the host's speed
WRITE_BATCHES = 2
LOOKUP_KEYS = 16
LOOKUPS_PER_BATCH = 2


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def median(xs: list[float]) -> float:
    """Median, or 0.0 for a window without a successful sample (such a
    run is reported as not correct)."""
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> dict:
    """Highest percentile with at least ten samples beyond it (nearest
    rank), with the sample count; null unless that percentile lies above
    the median (21 samples or more)."""
    n = len(xs)
    if n < 21:
        return {"value": None, "pct": None, "n": n}
    s = sorted(xs)
    return {"value": s[n - 11], "pct": round(100 * (n - 10) / n, 1), "n": n}


# ---------------------------------------------------------------- session
def start_session(work: str):
    """One Spark JVM at local[nproc]; every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    from horizon_etl_spark.session import build_session

    nproc = len(os.sched_getaffinity(0))
    spark = build_session(
        "perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap: peak RSS does not follow GC timing
            "spark.driver.extraJavaOptions": f"-Xms1g -XX:+AlwaysPreTouch "
                                             f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


# ---------------------------------------------------------------- one run
class Run:
    """One workload run inside an existing Spark session."""

    def __init__(self, spark, w, seed: int, work: str, trace: bool):
        from horizon_etl_spark.cdc.apply import apply_batch
        from horizon_etl_spark.cdc.schema import ATTR_CHANGE_FEED_SCHEMA, CHANGE_FEED_SCHEMA
        from horizon_etl_spark.streaming import runner

        self.spark, self.w, self.seed, self.trace = spark, w, seed, trace
        self.runner = runner
        self.stage, self.in_dir, self.ckpt, self.root = (
            os.path.join(work, d) for d in ("stage", "in", "ckpt", "pipe"))
        os.makedirs(self.in_dir)
        self.schema = ATTR_CHANGE_FEED_SCHEMA if w.attr else CHANGE_FEED_SCHEMA
        if w.change_log:
            self.apply_fn = apply_batch
        else:
            # run_stream has no change-log switch: bind it on the call
            def apply_fn(*a, **kw):
                return apply_batch(*a, with_change_log=False, **kw)
            self.apply_fn = apply_fn
        self.counters = SparkCounters(spark.sparkContext)
        self.tracer = Tracer(self.counters) if trace else None
        self.patches = None
        self.maint: dict[str, float] = {}

    def drain(self, b: int, hook=None) -> float:
        """Drop batch ``b``'s file into the input directory and drain it
        with one availableNow ``run_stream``; returns the latency."""
        t0 = time.perf_counter()
        os.link(W.batch_file(self.stage, b), os.path.join(self.in_dir, f"{b:06d}.parquet"))
        self.runner.run_stream(self.spark, self.pipe, self.in_dir, self.ckpt,
                               feed_schema=self.schema, with_rollup=self.w.rollup,
                               batch_hook=hook)
        return time.perf_counter() - t0

    def maintain(self, cluster: bool) -> None:
        t = self.pipe.target
        t0 = time.perf_counter()
        # keep the tombstones: the generator re-emits events into the next
        # batch, so an event older than a delete can still arrive, and
        # without its tombstone the deleted key would come back
        if cluster:
            t.compact(self.spark, drop_tombstones=False, cluster_by_key=True,
                      target_file_rows=self.w.cluster_rows)
        else:
            t.compact(self.spark, drop_tombstones=False)
        self.maint["compact.s"] = time.perf_counter() - t0
        self.maint["compact.files_out"] = len(t.snapshot()["files"])
        t0 = time.perf_counter()
        # one writer and nothing in flight: no age guard needed
        v = t.vacuum(keep_versions=1, min_age_seconds=0)
        self.maint["vacuum.s"] = time.perf_counter() - t0
        self.maint["vacuum.deleted_files"] = v["removed_files"]

    def execute(self, seconds: float, session_s: float) -> dict:
        try:
            self.runner_saved = self.runner.apply_batch
            self.runner.apply_batch = self.apply_fn
            return self._execute(seconds, session_s)
        finally:
            if self.patches is not None:
                self.patches.remove()
            self.runner.apply_batch = self.runner_saved

    def _execute(self, seconds: float, session_s: float) -> dict:
        from horizon_etl_spark.cdc.apply import CdcPipeline

        spark, w = self.spark, self.w
        # ---- feed generation + staging: outside every timed window
        t = time.perf_counter()
        keys_of, events_of = W.stage_feed(spark, w, self.seed, self.stage)
        feed_s = time.perf_counter() - t
        log(f"{w.name}: staged {w.num_batches} batches in {feed_s:.1f}s")

        # ---- set-up: pipeline, preload + compaction, warm-up batches
        t = time.perf_counter()
        self.pipe = CdcPipeline.create(self.root, bucket_count=W.BUCKET_COUNT,
                                       attr_lww=w.attr)
        b = 0
        phases = {"create": round(time.perf_counter() - t, 3)}
        if w.preload_batches:
            phases["preload"] = round(self.drain(0), 3)
            b = 1
        if w.cluster_rows:
            self.maintain(cluster=True)
        phases["warmup"] = []
        rng = random.Random(self.seed)
        for _ in range(w.warmup):
            phases["warmup"].append(round(self.drain(b), 3))
            # the read path warms up too
            self.lookup(rng.sample(keys_of[b], min(LOOKUP_KEYS, len(keys_of[b]))), False)
            b += 1
        setup_s = session_s + time.perf_counter() - t
        log(f"{w.name}: set-up {setup_s:.1f}s (session {session_s:.1f}s)")

        # ---- timed window: closed loop, one client
        target = self.pipe.target
        cold = sorted({k for i in range(b) for k in keys_of[i]})
        v_start = target.current_version()
        lat_b, lat_l, tr_b, tr_l, steal_b, jobs_b = [], [], [], [], [], []
        v_write = None
        stream_s = {"stream.start_s": 0.0, "stream.finish_s": 0.0}
        lookups: list[dict] = []
        ev_untraced = 0
        # attempted / failed batches and lookups
        n_b = n_l = fail_b = fail_l = 0
        if self.trace:
            self.patches = Patches(self.tracer, target.path)
        first = b
        deadline = time.perf_counter() + seconds
        while b < w.num_batches and (time.perf_counter() < deadline
                                     or b - first < WRITE_BATCHES):
            traced = self.trace and (b - first) % 2 == 1
            n_b += 1
            try:
                if traced:
                    self.runner.apply_batch = self.patches.install(self.apply_fn)
                    t_call = time.perf_counter()
                    lat = self.drain(b, hook=self.patches.hook)
                    self.patches.remove()
                    self.runner.apply_batch = self.apply_fn
                    stream_s["stream.start_s"] += self.patches.hook_t - t_call
                    stream_s["stream.finish_s"] += t_call + lat - self.patches.apply_end_t
                    tr_b.append(lat)
                else:
                    c0, (j0, _) = cpu_times(), self.counters.read()
                    lat_b.append(self.drain(b))
                    jobs_b.append(self.counters.read()[0] - j0)
                    steal_b.append(steal_share(c0))
                    ev_untraced += events_of[b]
                if b - first + 1 == WRITE_BATCHES:
                    v_write = target.current_version()
            except Exception:
                fail_b += 1
                log(traceback.format_exc())
                if self.patches is not None:
                    self.patches.remove()
                self.runner.apply_batch = self.apply_fn
            for _ in range(LOOKUPS_PER_BATCH):
                # 16-key point read: half just written, half cold
                hot = rng.sample(keys_of[b], min(LOOKUP_KEYS // 2, len(keys_of[b])))
                ks = hot + rng.sample(cold, min(LOOKUP_KEYS - len(hot), len(cold)))
                n_l += 1
                try:
                    lk = self.lookup(ks, traced)
                except Exception:
                    fail_l += 1
                    log(traceback.format_exc())
                    continue
                if traced:
                    tr_l.append(lk["s"])
                    lookups.append(lk)
                else:
                    lat_l.append(lk["s"])
            cold.extend(keys_of[b])
            b += 1
        rss = peak_rss_mb(spark)
        timed = b - first
        window_end = "time" if b < w.num_batches else "feed"
        log(f"{w.name}: {timed} timed batches, window ended by {window_end}")

        # ---- after the window: bytes written, shape, checks
        snaps = {v: target.snapshot(v) for v in range(v_start, target.current_version() + 1)}

        def added(v: int) -> list[dict]:
            before = {f["path"] for f in snaps[v - 1]["files"]}
            return [f for f in snaps[v]["files"] if f["path"] not in before]

        def size(f: dict) -> int:
            return os.path.getsize(os.path.join(target.path, f["path"]))

        v_write = v_write or max(snaps)
        write_bytes = sum(size(f) for v in range(v_start + 1, v_write + 1) for f in added(v))
        ev_write = sum(events_of[i] for i in range(first, min(b, first + WRITE_BATCHES)))
        report: dict = {
            "workload": w.name, "seed": self.seed, "seconds": seconds,
            "trace": int(self.trace), "shape": W.shape(self.stage, first, b),
            "feed_stage_s": round(feed_s, 3), "timed_batches": timed,
            "window_end": window_end,
        }
        per_layer = None
        if self.trace:
            fail_l += self.check_lookups(lookups)
            report["lookups_checked"] = len(lookups)
            per_layer = self.layer_metrics(stream_s, lookups, snaps, added, size, len(tr_b))
            if not w.cluster_rows:
                self.maintain(cluster=False)  # then the gate checks compacted state
            per_layer.update(self.maint)
            per_layer["trace.overhead_batch_p50_s"] = median(tr_b) - median(lat_b)
            per_layer["trace.overhead_lookup_p50_ms"] = 1000 * (median(tr_l) - median(lat_l))
        t = time.perf_counter()
        mismatch = W.gate(spark, w, self.pipe, self.stage, b)
        report["gate_s"] = round(time.perf_counter() - t, 3)
        report["gate"] = "oracle-equal" if mismatch is None else mismatch
        if mismatch is not None:
            # a wrong final state fails every batch of the window
            fail_b = n_b
        failed, attempted = fail_b + fail_l, n_b + n_l
        e2e = {
            "setup_s": setup_s,
            "events_per_s": ev_untraced / sum(lat_b) if lat_b else 0.0,
            "batch_p50_s": median(lat_b),
            "lookup_p50_ms": 1000 * median(lat_l),
            "write_mb_per_kevent": write_bytes / 1e6 / (ev_write / 1000),
            "peak_rss_mb": rss,
            "spark_jobs_per_batch": statistics.fmean(jobs_b) if jobs_b else 0.0,
        }
        report.update({
            "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
            "batch_latencies_s": [round(x, 3) for x in lat_b],
            "batch_steal": [round(x, 3) for x in steal_b],
            "lookup_latencies_ms": [round(1000 * x, 1) for x in lat_l],
            "setup_phases_s": phases,
            "batch_tail_s": tail(lat_b),
            "lookup_tail_ms": tail([x * 1000 for x in lat_l]),
            "failed_frac": failed / attempted,
        })
        if self.trace:
            report["per_layer"] = per_layer
        return {"report": report, "attempted": attempted, "failed": failed,
                "correct": mismatch is None and failed == 0 and bool(lat_b and lat_l),
                "metrics": per_layer if self.trace else e2e}

    def lookup(self, keys: list[str], traced: bool) -> dict:
        """One timed ``read_keys(...).collect()``; traced lookups keep what
        the after-window checks need."""
        target = self.pipe.target
        version = target.current_version()
        t0 = time.perf_counter()
        if traced:
            with self.tracer.span("read_keys"):
                df = target.read_keys(self.spark, keys)
                rows = df.collect()
        else:
            df = target.read_keys(self.spark, keys)
            rows = df.collect()
        out = {"s": time.perf_counter() - t0}
        if traced:
            out.update(version=version, keys=keys, rows=rows, files=df.inputFiles())
        return out

    def check_lookups(self, lookups: list[dict]) -> int:
        """Each lookup's rows must equal a full read of the same version
        filtered to its keys.  Returns the number that differ."""
        from pyspark.sql import functions as F

        bad = 0
        for lk in lookups:
            want = (self.pipe.target.read(self.spark, version=lk["version"])
                    .filter(F.col("doc_id").isin(lk["keys"])).collect())
            if sorted(map(tuple, want)) != sorted(map(tuple, lk["rows"])):
                bad += 1
                log(f"lookup at v{lk['version']} differs from a full read")
        return bad

    def layer_metrics(self, stream_s, lookups, snaps, added, size, n_traced) -> dict:
        """Per traced batch means of the spans, plus the merge and read
        path counts derived from the snapshots the traced calls made."""
        from pyspark.sql import functions as F

        acc, n = self.tracer.acc, max(n_traced, 1)
        out = {k: v / n for k, v in stream_s.items()}
        out["apply.self_s"] = acc["apply"]["s"] / n
        out["apply.jobs"] = acc["apply"]["jobs"] / n
        out["apply.stages"] = acc["apply"]["stages"] / n
        out["merge.s"] = acc["merge"]["s"] / n
        out["merge.jobs"] = acc["merge"]["jobs"] / n
        merges = self.patches.merges
        rows_written = sum(f["rows"] for m in merges for f in added(m["version"]))
        out["merge.rewritten_rows"] = sum(
            snaps[m["version"]]["summary"].get("rewritten_rows", 0) for m in merges) / n
        out["merge.rewritten_files"] = sum(m["rewritten_files"] for m in merges) / n
        out["merge.carried_files"] = sum(m["carried_files"] for m in merges) / n
        out["merge.write_mb"] = sum(
            size(f) for m in merges for f in added(m["version"])) / 1e6 / n
        out["merge.useful_ratio"] = sum(m["applied"] for m in merges) / max(rows_written, 1)
        out["sink.s"] = acc["sink"]["s"] / n
        out["sink.calls"] = acc["sink"]["calls"] / n
        out["sink.jobs"] = acc["sink"]["jobs"] / n
        out["manifest.reads"] = acc["manifest"]["calls"] / n
        out["manifest.s"] = acc["manifest"]["s"] / n
        nl = max(len(lookups), 1)
        out["read_keys.s"] = acc["read_keys"]["s"] / nl
        out["read_keys.jobs"] = acc["read_keys"]["jobs"] / nl
        scanned = hits = 0
        for lk in lookups:
            scanned += len(lk["files"])
            if lk["files"]:
                hits += (self.spark.read.parquet(*lk["files"])
                         .filter(F.col("doc_id").isin(lk["keys"]))
                         .select(F.input_file_name()).distinct().count())
        out["read_keys.files_scanned"] = scanned / nl
        out["read_keys.hit_ratio"] = hits / max(scanned, 1)
        return out


# ---------------------------------------------------------------- entry point
def run_one(name: str, seed: int, seconds: float, trace: bool, smoke: bool,
            spark=None, session_s: float = 0.0) -> dict:
    w = W.WORKLOADS[name]
    if smoke:
        w = W.smoke(w)
    work = os.path.join(HERE, ".work", f"{name}-{seed}-{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return Run(spark, w, seed, work, trace).execute(seconds, session_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(cpu0: list[int]) -> float:
    """Share of the CPU time this VM asked for since ``cpu0`` that the
    hypervisor gave to other tenants."""
    d = [b - a for a, b in zip(cpu0, cpu_times())]
    busy = sum(d) - d[3] - d[4] - d[7]
    return d[7] / max(busy + d[7], 1)


def host_stamp(spark, cpu0: list[int]) -> dict:
    d = [b - a for a, b in zip(cpu0, cpu_times())]
    total = max(sum(d), 1)
    return {"loadavg": [round(x, 2) for x in os.getloadavg()],
            # shares of all CPU time since the session started; a high
            # steal share means other tenants took this host's cores
            "cpu_busy_share": round((total - d[3] - d[4] - d[7]) / total, 3),
            "cpu_steal_share": round(d[7] / total, 3),
            "nproc": len(os.sched_getaffinity(0)),
            "spark_parallelism": spark.sparkContext.defaultParallelism}


def result_line(res: dict, spec: dict, trace: bool) -> dict:
    """The result JSON: the BENCHMARK.json metrics of this mode, by name
    and unit (a metric the run did not produce raises KeyError)."""
    section = spec["per_layer" if trace else "end_to_end"]
    return {
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                    for m in section},
    }


def smoke_all(spark, spec: dict) -> int:
    """Tiny runs of every workload, untraced and traced: each must pass
    the oracle gate and report every BENCHMARK.json metric with its unit."""
    bad = 0
    for name in W.WORKLOADS:
        for trace in (False, True):
            res = run_one(name, seed=1, seconds=120, trace=trace, smoke=True, spark=spark)
            try:
                line = result_line(res, spec, trace)
                ok = line["correct"] and all(
                    isinstance(m["value"], (int, float))
                    and (trace or m["unit"] == E2E_UNITS[k])
                    for k, m in line["metrics"].items())
                detail = res["report"]["gate"]
            except KeyError as e:
                ok, detail = False, f"missing metric {e}"
            bad += not ok
            log(f"smoke {name} trace={int(trace)}: {'ok' if ok else 'FAIL'} ({detail})")
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=tuple(W.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny runs of all workloads; checks metrics and the gate")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "horizon_etl_spark")):
        log(f"horizon_etl_spark not found beside {HERE}: run from a repository checkout")
        return 2
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    t0 = time.perf_counter()
    cpu0 = cpu_times()
    session_dir = os.path.join(HERE, ".work", f"session-{os.getpid()}")
    spark = start_session(session_dir)
    session_s = time.perf_counter() - t0
    try:
        if args.smoke:
            return smoke_all(spark, spec)
        res = run_one(args.workload, args.seed, args.seconds, bool(args.trace),
                      smoke=False, spark=spark, session_s=session_s)
        res["report"]["host"] = host_stamp(spark, cpu0)
    finally:
        stop_session(spark)
        shutil.rmtree(session_dir, ignore_errors=True)
    res["report"]["wall_s"] = round(time.perf_counter() - t0, 1)
    print(json.dumps(res["report"], default=str))
    print(json.dumps(result_line(res, spec, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
