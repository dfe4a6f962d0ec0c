"""Per-layer spans recorded from outside the engine.

The tracer wraps the engine's public entry points -- ``run_stream``'s
``apply_batch`` hook point, ``LakeTable`` merge / sink / manifest / read
methods -- with timing shims while it is installed, and restores the
originals when it is removed.  No engine file is edited.

Each span records wall time and the Spark jobs and stages started while
it was open (the Spark scheduler's job/stage id counters: one client, one thread,
so the ids started inside a span belong to it).  A span's *self* figures
are its own minus those of the spans nested in it, so the layers add up
to the batch without double counting.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict


class SparkCounters:
    """Next Spark job / stage id -- differences give counts per span."""

    def __init__(self, sc):
        self._dag = sc._jsc.sc().dagScheduler()

    def read(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())


class Tracer:
    """Span recorder: self time, self jobs and self stages per layer."""

    # layers whose calls never start Spark work: skip the two JVM round
    # trips per span that counting would cost
    NO_JOBS = frozenset({"manifest"})

    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.acc: dict[str, dict[str, float]] = defaultdict(
            lambda: {"s": 0.0, "jobs": 0, "stages": 0, "calls": 0}
        )
        self._stack: list[dict] = []

    def reset(self) -> None:
        self.acc.clear()

    def active(self, kind: str) -> bool:
        return any(f["kind"] == kind for f in self._stack)

    def span(self, kind: str):
        return _Span(self, kind)

    def _enter(self, kind: str) -> dict:
        count = kind not in self.NO_JOBS
        j, s = self.counters.read() if count else (0, 0)
        frame = {"kind": kind, "t0": time.perf_counter(), "j0": j, "s0": s,
                 "count": count, "child_s": 0.0, "child_j": 0, "child_st": 0}
        self._stack.append(frame)
        return frame

    def _exit(self, frame: dict) -> None:
        dur = time.perf_counter() - frame["t0"]
        if frame["count"]:
            j, s = self.counters.read()
            jobs, stages = j - frame["j0"], s - frame["s0"]
        else:
            jobs = stages = 0
        self._stack.pop()
        a = self.acc[frame["kind"]]
        a["s"] += dur - frame["child_s"]
        a["jobs"] += jobs - frame["child_j"]
        a["stages"] += stages - frame["child_st"]
        a["calls"] += 1
        if self._stack:
            parent = self._stack[-1]
            parent["child_s"] += dur
            parent["child_j"] += jobs
            parent["child_st"] += stages


class _Span:
    def __init__(self, tracer: Tracer, kind: str):
        self.tracer, self.kind, self.frame = tracer, kind, None

    def __enter__(self):
        self.frame = self.tracer._enter(self.kind)
        return self

    def __exit__(self, *exc):
        self.tracer._exit(self.frame)
        return False


class Patches:
    """Install / remove the tracing shims around the engine's calls.

    ``target_path`` tells the target table apart from the lineage tables:
    a merge on the target is the merge layer, writes to any other table
    are sinks, and an overwrite of the target happens only inside
    compaction."""

    def __init__(self, tracer: Tracer, target_path: str):
        from horizon_etl_spark.tables.lake import LakeTable

        self.tracer = tracer
        self.target_path = target_path
        self.lake = LakeTable
        self.merges: list[dict] = []  # per target merge: version, applied
        self.hook_t: float | None = None
        self.apply_end_t: float | None = None
        self._saved: list[tuple[object, str, object]] = []

    def _wrap_method(self, name: str, kind_for) -> None:
        orig = getattr(self.lake, name)
        tracer = self.tracer

        @functools.wraps(orig)
        def shim(table, *a, **kw):
            kind = kind_for(table)
            if kind is None or tracer.active(kind):
                return orig(table, *a, **kw)
            with tracer.span(kind):
                out = orig(table, *a, **kw)
            if kind == "merge":
                self.merges.append({"version": out["version"], "applied": out["applied"],
                                    "rewritten_files": out["rewritten_files"],
                                    "carried_files": out["carried_files"]})
            return out

        self._saved.append((self.lake, name, orig))
        setattr(self.lake, name, shim)

    def install(self, apply_fn):
        """Wrap the lake methods and return ``apply_fn`` wrapped as the
        cdc.apply span (the caller rebinds it into the runner)."""
        self.hook_t = self.apply_end_t = None
        is_target = lambda t: t.path == self.target_path  # noqa: E731
        for name in ("merge", "merge_attrs"):
            self._wrap_method(name, lambda t: "merge" if is_target(t) else "sink")
        for name in ("append", "append_rows"):
            self._wrap_method(name, lambda t: "sink")
        # the rollup is maintained by overwrite; an overwrite of the
        # target only happens inside compact, which has its own span
        self._wrap_method("overwrite", lambda t: None if is_target(t) else "sink")
        for name in ("snapshot", "current_version"):
            self._wrap_method(name, lambda t: "manifest")
        tracer = self.tracer

        @functools.wraps(apply_fn)
        def traced_apply(*a, **kw):
            with tracer.span("apply"):
                out = apply_fn(*a, **kw)
            self.apply_end_t = time.perf_counter()
            return out

        return traced_apply

    def hook(self, _df, _batch_id) -> None:
        if self.hook_t is None:
            self.hook_t = time.perf_counter()

    def remove(self) -> None:
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        self._saved.clear()
