"""Workload definitions, feed staging, realised shape and the oracle gate.

Every feed comes from ``cdc.generator.change_feed`` with the run's seed.
It is staged to parquet -- one file per batch, the unit the client drops
into the stream's input directory -- before any timed window.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

from pyspark.sql import functions as F

BUCKET_COUNT = 8  # target buckets: twice the 4 cores the sizes were tuned on


@dataclass(frozen=True)
class Workload:
    name: str
    batch_events: int  # events per dropped file
    keys: int  # generator key space
    max_len: int  # tokens per event: uniform in [8, max_len]
    warmup: int  # batches applied in set-up, before the timed window
    max_timed: int  # feed cap for the timed window
    preload_batches: int = 0  # leading batches folded into one preload file
    zipf_s: float = 1.2
    attr: bool = False  # per-attribute target + `fields` column
    rollup: bool = False
    change_log: bool = True
    cluster_rows: int = 0  # >0: clustered compact + vacuum after preload

    @property
    def num_batches(self) -> int:
        """Staged files: the preload (if any), warm-up and timed batches."""
        return (1 if self.preload_batches else 0) + self.warmup + self.max_timed


WORKLOADS = {
    # fixed per-batch cost dominates; reads beside writes on a clustered target
    "trickle": Workload("trickle", batch_events=200, keys=20_000, max_len=64,
                        warmup=2, max_timed=12, preload_batches=30, zipf_s=0.8,
                        cluster_rows=100),
    # per-attribute merge with field-level change log and rollup
    "partial": Workload("partial", batch_events=4_000, keys=4_000, max_len=32,
                        warmup=2, max_timed=6, attr=True, rollup=True),
    # per-event work dominates: validate, LWW shuffle, join, parquet write.
    # Not in BENCHMARK.json: its cold feed staging and set-up alone take
    # most of a ~70 s run on 4 cores; run it by name or through --smoke.
    "backfill": Workload("backfill", batch_events=20_000, keys=20_000, max_len=256,
                         warmup=2, max_timed=8, rollup=True, change_log=False),
}


def smoke(w: Workload) -> Workload:
    """A tiny variant of ``w``: same configuration, a few small batches."""
    return replace(
        w,
        batch_events=max(50, w.batch_events // 100),
        keys=max(100, w.keys // 100),
        max_len=16,
        warmup=1,
        max_timed=3,
        preload_batches=min(w.preload_batches, 4),
        cluster_rows=50 if w.cluster_rows else 0,
    )


def stage_feed(spark, w: Workload, seed: int, stage_dir: str):
    """Generate the run's feed and stage it as one parquet file per batch
    under ``stage_dir/batch=<b>``.  Returns the per-batch key lists and
    event counts (driver-side, for lookups and throughput)."""
    from horizon_etl_spark.cdc.generator import change_feed

    gen_batches = w.preload_batches + w.warmup + w.max_timed
    feed = change_feed(
        spark,
        w.batch_events * gen_batches,
        w.keys,
        seed=seed,
        zipf_s=w.zipf_s,
        max_len=w.max_len,
        num_batches=gen_batches,
    )
    if w.preload_batches:
        # the first `preload_batches` generator batches become one file
        feed = feed.withColumn(
            "batch", F.greatest(F.lit(0), F.col("batch") - (w.preload_batches - 1))
        )
    if w.attr:
        # ~2/3 of upserts assert a column subset (partial updates)
        m = F.pmod(F.xxhash64(F.lit(seed), F.col("lsn"), F.lit("fields")), F.lit(3))
        feed = feed.withColumn(
            "fields",
            F.when(F.col("op") == "delete", F.lit(None).cast("array<string>"))
            .when(m == 0, F.lit(None).cast("array<string>"))
            .when(m == 1, F.array(F.lit("tokens"), F.lit("n_tok")))
            .otherwise(F.array(F.lit("source"))),
        )
    # one shuffle partition per batch value -> exactly one file per batch
    feed.repartition("batch").write.partitionBy("batch").parquet(stage_dir)
    cols = {b: batch_columns(stage_dir, b) for b in range(w.num_batches)}
    keys = {b: sorted(set(c["doc_id"])) for b, c in cols.items()}
    events = {b: len(c["doc_id"]) for b, c in cols.items()}
    return keys, events


def batch_columns(stage_dir: str, b: int) -> dict[str, list]:
    """Key, lsn and op columns of one staged batch, read driver-side."""
    import pyarrow.parquet as pq

    return pq.read_table(batch_file(stage_dir, b), columns=["doc_id", "lsn", "op"]).to_pydict()


def batch_file(stage_dir: str, b: int) -> str:
    d = os.path.join(stage_dir, f"batch={b}")
    (name,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
    return os.path.join(d, name)


def delivered(spark, stage_dir: str, upto: int):
    """All events of batches ``0..upto-1`` (what the stream was given)."""
    return spark.read.parquet(stage_dir).filter(F.col("batch") < upto)


def shape(stage_dir: str, first: int, upto: int) -> dict:
    """Realised shape of the timed batches ``first..upto-1``: events,
    distinct keys, and the new-key, delete and duplicate shares.  A key
    is new when no earlier delivered batch carried it; an event is a
    duplicate when an earlier delivered event had the same (doc_id, lsn)."""
    seen_keys: set[str] = set()
    seen_events: set[tuple[str, int]] = set()
    keys: set[str] = set()
    new_keys: set[str] = set()
    events = deletes = dups = 0
    for b in range(upto):
        c = batch_columns(stage_dir, b)
        timed = b >= first
        for k, lsn, op in zip(c["doc_id"], c["lsn"], c["op"]):
            if timed:
                events += 1
                deletes += op == "delete"
                dups += (k, lsn) in seen_events
                keys.add(k)
                if k not in seen_keys:
                    new_keys.add(k)
            seen_events.add((k, lsn))
        seen_keys.update(c["doc_id"])
    return {
        "events": events,
        "distinct_keys": len(keys),
        "new_key_share": round(len(new_keys) / max(len(keys), 1), 4),
        "delete_share": round(deletes / max(events, 1), 4),
        "duplicate_share": round(dups / max(events, 1), 4),
    }


def gate(spark, w: Workload, pipe, stage_dir: str, upto: int) -> str | None:
    """Final target state against the oracle over every delivered event.
    Returns None when equal, else a short description of the mismatch."""
    feed = delivered(spark, stage_dir, upto)
    if w.attr:
        from horizon_etl_spark.cdc.attrs import sequential_fold_oracle

        payload = ["tokens", "n_tok", "source"]
        events = [r.asDict() for r in feed.drop("batch", "ts").collect()]
        expected = sequential_fold_oracle(events, payload)
        got = {
            r["doc_id"]: {c: r[c] for c in payload}
            for r in pipe.target.read(spark).collect()
        }
        if got == expected:
            return None
        wrong = sum(1 for k in set(got) | set(expected) if got.get(k) != expected.get(k))
        return f"{wrong} keys differ from the per-attribute fold"
    from horizon_etl_spark.cdc.oracle import assert_frames_equal, expected_final

    try:
        assert_frames_equal(pipe.target.read(spark), expected_final(feed))
    except AssertionError as e:
        return str(e)[:300]
    return None
