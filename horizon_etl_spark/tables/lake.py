"""LakeTable — a minimal ACID snapshot table format over parquet.

The sandbox ships no Iceberg/Delta runtime jars, so the Iceberg
capabilities the engine needs are implemented here from scratch,
Spark-first (no per-row Python anywhere in the data path):

  * atomic snapshot commits  — a snapshot is a JSON manifest listing
    immutable parquet data files; committing is a single hard-link
    (create-exclusive) of ``v{N}.json``, so readers see either the old
    or the new version, never a torn state.  Reference analogue: the
    atomic temp-file+fsync+rename writer
    (/root/reference/src/core/logic/atomic_io.py:16-41) and SQLite
    transactionality.
  * hash-bucket partitioning — data files are laid out by
    ``pmod(xxhash64(key), bucket_count)``; MERGE only rewrites buckets
    (and, via per-file min/max key stats, only files) touched by the
    incoming batch: copy-on-write, Iceberg-style.  Reference analogue:
    the hot-predicate indexes
    (/root/reference/src/scripts/harden_db_indices.py:8-19).
  * keyed MERGE (upsert/delete) with an ``_lsn`` monotonicity guard and
    delete tombstones, so re-applying any batch — or applying batches
    in any order — converges to the same final state (exactly-once /
    idempotent apply; reference analogue: unique-constraint dedup +
    IntegrityError swallow, /root/reference/src/tracking/recorder.py:165-178,
    and in-place upsert handlers,
    /root/reference/src/core/logic/initiative_handlers.py:54-106).
  * additive schema evolution — the snapshot carries the table schema;
    old files simply lack new columns and are read as null via an
    explicit-schema parquet scan (no footer merging job, no rewrite).
    Reference analogue: guarded ``ALTER TABLE ... ADD COLUMN``
    migrations (/root/reference/src/db/migrations.py:19-58).
  * time travel — any retained snapshot version is readable (used by
    the replay-equality audit).

Scale notes (100 TB / 1000 executors): ``bucket_count`` bounds merge
write amplification — at production scale use 2^12..2^14 buckets so a
batch touching k keys rewrites only the overlapping files, found via
per-file [min_key, max_key] pruning (keys are zero-padded, so string
order == numeric order).  All joins/reductions shuffle once on the
bucket/key column; the manifest is O(files) JSON handled driver-side,
exactly like Iceberg's metadata layer.
"""

from __future__ import annotations

import bisect
import json
import os
import shutil
import uuid
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    MapType,
    StructField,
    StructType,
)

# Internal meta columns present in every data file of a merge-managed table.
LSN_COL = "_lsn"
TOMBSTONE_COL = "_tombstone"
BUCKET_COL = "_bucket"
# clustered-compaction file sizing: ~4M rows/file ≈ 128-512 MB parquet
# at typical tokenized-sequence row widths (the cloud-object sweet spot)
DEFAULT_TARGET_FILE_ROWS = 4_000_000
# Per-attribute LWW tables additionally carry one assertion-lsn column
# per payload column plus the row's delete watermark.
DEL_LSN_COL = "_del_lsn"
ALSN_PREFIX = "_alsn_"
# The LWW reductions' per-key collapsed-event count (``with_counts``).
# A merge batch may carry it for its ``bucket_aggs``; it never evolves
# the table schema and is never written.
KEY_EVENTS_COL = "_key_events"


def alsn_col(c: str) -> str:
    return f"{ALSN_PREFIX}{c}"


@dataclass
class FileEntry:
    path: str  # relative to table root
    bucket: int
    rows: int
    min_key: str | None
    max_key: str | None

    def to_json(self) -> dict[str, Any]:
        return {
            "path": self.path,
            "bucket": self.bucket,
            "rows": self.rows,
            "min_key": self.min_key,
            "max_key": self.max_key,
        }

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> "FileEntry":
        # other fields are ignored: older manifests carry a key-bloom
        # sidecar ref per file, which nothing reads, so a commit that
        # rewrites the file list drops it
        return cls(d["path"], d["bucket"], d["rows"], d.get("min_key"), d.get("max_key"))


@dataclass
class _BucketSummary:
    """Per-bucket facts about one merge batch, all from one aggregation
    (:meth:`LakeTable._bucket_summary`)."""

    keys: dict[int, list]  # touched bucket -> its sorted batch keys ([] if no file has stats)
    aggs: dict[int, dict[str, Any]]  # bucket -> the caller's bucket_aggs values
    misplaced: bool  # some batch row's BUCKET_COL is not its key's bucket


def bucket_expr(key_col: str, bucket_count: int):
    """Deterministic hash bucket of the key (JVM-side, codegen'd)."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(bucket_count)).cast("int")


def _check_bucket_count(bucket_count: int) -> None:
    """A layout needs at least one bucket; bucket -1 is the unbucketed
    file marker, so a non-positive count would also collide with it."""
    if bucket_count < 1:
        raise ValueError(f"bucket_count must be >= 1, got {bucket_count}")


def place_by_bucket(df: DataFrame, bucket_count: int, key_col: str | None = None) -> DataFrame:
    """Place rows by bucket: bucket b goes to partition b mod
    min(buckets, shuffle partitions), not to a hash of b, which would
    put 4 of 8 buckets in one of 4 tasks.  Every bucket sits in one
    partition, so a later ``groupBy(BUCKET_COL, ...)`` over the placed
    rows needs no exchange of its own, and a write of them produces one
    file per bucket (this is the placement of every bucketed write
    except a range-clustered rewrite).  With ``key_col`` the rows are
    first tagged with the key's ``BUCKET_COL``; otherwise they carry it."""
    if key_col is not None:
        df = df.withColumn(BUCKET_COL, bucket_expr(key_col, bucket_count))
    parts = min(bucket_count, int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    return df.repartitionById(parts, F.col(BUCKET_COL))


def _split_by_keys(
    files: list[FileEntry], keys_by_bucket: dict[int, list]
) -> tuple[list[FileEntry], list[FileEntry]]:
    """The one range test of point reads and merges: ``files`` split
    into (hit, miss) for ``keys_by_bucket`` (touched bucket -> its keys,
    sorted).  An unbucketed file (no layout info) hits if any bucket is
    touched; a file of an untouched bucket misses; a file without
    ``[min_key, max_key]`` stats (only string keys get them) hits; any
    other file hits iff a key of its bucket lies in its range, bounds
    inclusive — one ``bisect_left`` per file, so on a key-clustered
    table the files BETWEEN two keys miss.  No false misses: the stats
    are true bounds and every key is tested."""
    hit: list[FileEntry] = []
    miss: list[FileEntry] = []
    for f in files:
        if f.bucket == -1:
            keep = bool(keys_by_bucket)
        elif f.bucket not in keys_by_bucket:
            keep = False
        elif f.min_key is None or f.max_key is None:
            keep = True
        else:
            ks = keys_by_bucket[f.bucket]
            i = bisect.bisect_left(ks, f.min_key)
            keep = i < len(ks) and ks[i] <= f.max_key
        (hit if keep else miss).append(f)
    return hit, miss


# Default sizing target: a bucket is one merge-write task and one unit
# of copy-on-write amplification.  ~4M rows/bucket keeps a bucket's
# file set in one executor's working memory at ~100-byte rows while
# bounding the file count; ops can override per table via the
# 'target_rows_per_bucket' prop.
DEFAULT_TARGET_ROWS_PER_BUCKET = 4_000_000


def recommended_bucket_count(
    total_rows: int, target_rows_per_bucket: int = DEFAULT_TARGET_ROWS_PER_BUCKET
) -> int:
    """Power-of-two bucket count keeping rows/bucket under target,
    clamped to [4, 2^14] (the lake.py scale prescription: 2^12-2^14 at
    production scale)."""
    import math

    need = max(1, -(-max(0, total_rows) // target_rows_per_bucket))
    return min(16384, max(4, 1 << math.ceil(math.log2(need))))


# read_keys is a POINT-lookup API; beyond this many keys the isin()
# literal list stops being the right plan, so the read degrades to a
# broadcast semi-join instead of failing or crawling
READ_KEYS_ISIN_MAX = 10_000
# Clustering advisory (merge-time, consumed by job_maintain
# --cluster-by-key auto): fires when a merge's copy-on-write rewrite
# was dominated by FAT files churned for a sparse batch — mean rows
# per rewritten file over 2× target_file_rows AND rewritten rows over
# this multiple of the batch.  A freshly clustered table stops firing
# because its rewritten files are ~target_file_rows-sized even though
# point-merge amplification never reaches 1 under copy-on-write.
CLUSTER_ADVICE_MIN_AMP = 8


def _footer_stats(path: str, key: str | None) -> tuple[int, str | None, str | None]:
    """(row_count, min_key, max_key) for one written parquet file, read
    from its footer metadata only — O(KB) driver-side, no data decode.
    Row count is exact; key min/max aggregate the row-group statistics
    and degrade to (None, None) — 'never prunable' — if the writer
    omitted or produced non-string stats."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    rows = int(md.num_rows)
    if key is None:
        return rows, None, None
    idx = None
    for i in range(len(md.schema)):
        if md.schema.column(i).name == key:
            idx = i
            break
    if idx is None:
        return rows, None, None
    mn = mx = None
    try:
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return rows, None, None
            lo, hi = st.min, st.max
            if not isinstance(lo, str) or not isinstance(hi, str):
                return rows, None, None
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
    except Exception:
        return rows, None, None
    return rows, mn, mx


# Snapshot row-stats scheme versions.  1 (pre-footer-stats):
# FileEntry.rows was the BUCKET-level count per commit, repeated on each
# file of that bucket+commit.  2: rows is the exact per-file parquet
# footer count.  Commits stamp the CURRENT version.  A manifest MISSING
# the stamp defaults to scheme 2: the stamping writer postdates the
# footer-stats writer, so every live unstamped manifest carries exact
# per-file counts — reading those with the scheme-1 dedup would keep
# one file per (commit, bucket) and UNDER-count, silencing rebucket
# advisories on overloaded tables.  Scheme-1 dedup still applies to
# manifests that explicitly declare stats_version: 1 (a hand-migrated
# pre-footer-stats snapshot); its failure mode (an advisory firing
# early → one harmless atomic rebucket) is the safer direction anyway.
STATS_FILE_ROWS = 2


def _distinct_bucket_rows(
    files: list["FileEntry"], stats_version: int = STATS_FILE_ROWS
) -> int:
    """Approximate table rows from file entries, honouring the
    manifest's declared stats scheme (see STATS_FILE_ROWS)."""
    if stats_version >= STATS_FILE_ROWS:
        return sum(f.rows for f in files if f.rows and f.rows > 0)
    # old scheme: rows repeated per file of a bucket+commit — dedup on
    # (commit dir, bucket) before summing
    seen: dict[tuple[str, int], int] = {}
    for f in files:
        seen[(os.path.dirname(f.path), f.bucket)] = f.rows
    return sum(r for r in seen.values() if r and r > 0)


def observe_counts(
    df: DataFrame, name: str, exprs: dict[str, Column]
) -> tuple[DataFrame, Callable[[], dict[str, int]]]:
    """Aggregates that ride another action instead of costing their own.

    Returns ``df`` with an Observation attached, plus a function to call
    after the first action over that frame has run: it returns each
    aggregate of ``exprs`` as an int (null → 0).  When Catalyst elided
    the CollectMetrics node (degenerate plans, e.g. provably-empty local
    batches) the function aggregates ``df`` directly instead."""
    from pyspark.sql import Observation

    obs = Observation(name)
    aliased = [e.alias(k) for k, e in exprs.items()]

    def counts() -> dict[str, int]:
        try:
            row = obs.get
        except Exception:
            row = df.agg(*aliased).collect()[0].asDict()
        return {k: int(row[k] or 0) for k in exprs}

    return df.observe(obs, *aliased), counts


class LakeTable:
    """One table rooted at a local/posix ``path`` (on a cluster: DFS path)."""

    def __init__(self, path: str):
        self.path = path

    # ------------------------------------------------------------------ meta
    @property
    def _snap_dir(self) -> str:
        return os.path.join(self.path, "_meta", "snapshots")

    def _snap_path(self, version: int) -> str:
        return os.path.join(self._snap_dir, f"v{version:08d}.json")

    def current_version(self) -> int:
        if not os.path.isdir(self._snap_dir):
            raise FileNotFoundError(f"not a LakeTable: {self.path}")
        versions = [
            int(f[1:9]) for f in os.listdir(self._snap_dir) if f.endswith(".json")
        ]
        if not versions:
            raise FileNotFoundError(f"no snapshots in {self.path}")
        return max(versions)

    def snapshot(self, version: int | None = None) -> dict[str, Any]:
        v = self.current_version() if version is None else version
        with open(self._snap_path(v)) as fh:
            return json.load(fh)

    def schema(self, version: int | None = None) -> StructType:
        return StructType.fromJson(self.snapshot(version)["schema"])

    def history(self) -> list[dict[str, Any]]:
        """Commit log of retained snapshots, oldest→newest — the
        Iceberg ``table.history()``/``snapshots`` metadata view:
        one entry per snapshot with version, parent, operation,
        summary, row/file counts.  Driver-side metadata only (reads
        the O(retained-versions) snapshot JSONs, no data scan)."""
        versions = sorted(
            int(f[1:9]) for f in os.listdir(self._snap_dir) if f.endswith(".json")
        )
        out = []
        for v in versions:
            s = self.snapshot(v)
            out.append(
                {
                    "version": s["version"],
                    "parent": s.get("parent"),
                    "operation": s.get("operation"),
                    "summary": s.get("summary", {}),
                    "files": len(s["files"]),
                    # honor the snapshot's declared stats scheme — a
                    # scheme-1 manifest repeats bucket rows per file,
                    # and a raw sum would inflate the view
                    "rows": _distinct_bucket_rows(
                        [FileEntry.from_json(f) for f in s["files"]],
                        int(s.get("stats_version", STATS_FILE_ROWS)),
                    ),
                }
            )
        return out

    @property
    def key_col(self) -> str:
        return self.snapshot()["key_col"]

    @property
    def bucket_count(self) -> int:
        return self.snapshot()["bucket_count"]

    # ---------------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        path: str,
        schema: StructType,
        key_col: str | None = None,
        bucket_count: int = 16,
        props: dict[str, Any] | None = None,
        attr_lww: bool = False,
    ) -> "LakeTable":
        _check_bucket_count(bucket_count)
        t = cls(path)
        os.makedirs(t._snap_dir, exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        if key_col is not None:
            # keyed (merge-managed) tables carry the lsn guard + delete
            # tombstone as physical meta columns; attr-LWW tables
            # additionally carry one assertion-lsn per payload column
            # and the delete watermark (field-level provenance, the
            # reference's attribute_assertion rows
            # /root/reference/src/tracking/entities/attribute_assertion.py:8-44
            # folded into the row layout)
            names = {f.name for f in schema.fields}
            extra = []
            if LSN_COL not in names:
                extra.append(StructField(LSN_COL, LongType(), True))
            if TOMBSTONE_COL not in names:
                extra.append(StructField(TOMBSTONE_COL, BooleanType(), True))
            if attr_lww:
                extra.append(StructField(DEL_LSN_COL, LongType(), True))
                extra.extend(
                    StructField(alsn_col(f.name), LongType(), True)
                    for f in schema.fields
                    if f.name != key_col
                )
            schema = StructType(list(schema.fields) + extra)
        t._commit(
            version=1,
            snapshot={
                "version": 1,
                "parent": None,
                "schema": schema.jsonValue(),
                "key_col": key_col,
                "bucket_count": bucket_count,
                "attr_lww": attr_lww,
                "files": [],
                "props": props or {},
                "operation": "create",
                "summary": {},
            },
        )
        return t

    @classmethod
    def load(cls, path: str) -> "LakeTable":
        t = cls(path)
        t.current_version()  # raises if absent
        return t

    @classmethod
    def exists(cls, path: str) -> bool:
        try:
            cls.load(path)
            return True
        except FileNotFoundError:
            return False

    def _commit(self, version: int, snapshot: dict[str, Any]) -> None:
        """Atomic, create-exclusive commit: hard-link tmp → vN.json.

        ``os.link`` fails with EEXIST if another writer committed vN
        first → optimistic-concurrency conflict surfaces as an error
        instead of silent overwrite (POSIX rename would overwrite).
        """
        # stamp the row-stats scheme for NEW snapshots; snapshots that
        # arrive pre-stamped (rollback carrying an old manifest) keep
        # their original declaration so the reader picks the right
        # row-count interpretation
        snapshot.setdefault("stats_version", STATS_FILE_ROWS)
        tmp = self._snap_path(version) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(snapshot, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, self._snap_path(version))
        finally:
            os.unlink(tmp)

    def _commit_next(
        self,
        snap: dict[str, Any],
        operation: str,
        summary: dict[str, Any],
        props: dict[str, Any] | None = None,
        **fields: Any,
    ) -> int:
        """Commit the version after ``snap``: ``snap`` with ``fields``
        replaced (``files``, ``schema``, ``bucket_count`` ...), ``props``
        merged into its props, and this commit's ``operation`` and
        ``summary``.  Every commit after ``create`` goes through here.
        Returns the new version."""
        version = snap["version"] + 1
        self._commit(
            version,
            {
                **snap,
                **fields,
                "version": version,
                "parent": snap["version"],
                "props": {**snap.get("props", {}), **(props or {})},
                "operation": operation,
                "summary": summary,
            },
        )
        return version

    # ------------------------------------------------------------------ read
    def _scan(
        self, spark: SparkSession, files: list[FileEntry], schema: StructType
    ) -> DataFrame:
        if not files:
            return spark.createDataFrame([], schema)
        paths = [os.path.join(self.path, f.path) for f in files]
        # Explicit-schema scan: files written before a schema evolution
        # lack the new columns; Spark's parquet reader fills them with
        # null by name — no mergeSchema footer job needed.
        return spark.read.schema(schema).parquet(*paths)

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        include_meta: bool = False,
    ) -> DataFrame:
        snap = self.snapshot(version)
        schema = StructType.fromJson(snap["schema"])
        files = [FileEntry.from_json(f) for f in snap["files"]]
        df = self._scan(spark, files, schema)
        if include_meta:
            return df
        return self._strip_meta(df, schema)

    @staticmethod
    def _strip_meta(df: DataFrame, schema: StructType) -> DataFrame:
        """Drop tombstoned rows and internal meta columns — the shared
        tail of read() and read_keys()."""

        def is_meta(n: str) -> bool:
            return n in (LSN_COL, TOMBSTONE_COL, DEL_LSN_COL) or n.startswith(ALSN_PREFIX)

        if TOMBSTONE_COL in df.columns:
            df = df.filter(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)))
        return df.select(*[f.name for f in schema.fields if not is_meta(f.name)])

    def _files_for_keys(
        self,
        spark: SparkSession,
        keys: list,
        snap: dict[str, Any],
        key_df: DataFrame | None = None,
    ) -> list[FileEntry]:
        """Driver-side file pruning for a point-key lookup: the keys'
        buckets, then :func:`_split_by_keys`, the range test the merge
        uses.  The only Spark work is one tiny job computing the keys'
        buckets with the TABLE's key dtype (the engine never
        re-implements the hash in Python, and hashing e.g. a long key as
        its string form would silently probe the wrong bucket)."""
        key_col = snap["key_col"]
        if key_df is None:
            key_df = spark.createDataFrame(
                [(k,) for k in keys], StructType([StructType.fromJson(snap["schema"])[key_col]])
            )
        by_bucket: dict[int, list] = {}
        for r in key_df.select(
            F.col(key_col), bucket_expr(key_col, snap["bucket_count"]).alias("_b")
        ).collect():
            by_bucket.setdefault(r["_b"], []).append(r[key_col])
        for ks in by_bucket.values():
            ks.sort()
        return _split_by_keys([FileEntry.from_json(x) for x in snap["files"]], by_bucket)[0]

    def read_keys(
        self,
        spark: SparkSession,
        keys: list,
        version: int | None = None,
        include_meta: bool = False,
    ) -> DataFrame:
        """Point-lookup read: the rows for ``keys`` — values in the
        TABLE's native key dtype (a long-keyed table takes ints, not
        their string forms) — live only, unless ``include_meta``,
        scanning ONLY the data files that can hold them: bucket +
        min/max pruning driver-side, then an explicit-schema scan of the
        surviving files with the key predicate pushed to parquet.  At
        production scale this is the difference between an entity lookup
        costing O(keys) file reads and a full-table scan; the
        reference's per-entity get paths
        (/root/reference/src/core/logic/initiative_handlers.py:54-106)
        are point reads of exactly this shape."""
        snap = self.snapshot(version)
        if snap["key_col"] is None:
            # ValueError, not assert: asserts vanish under `python -O`
            # and the failure would then surface as an opaque
            # StructType[None] error deep in the scan
            raise ValueError("read_keys requires a keyed table")
        schema = StructType.fromJson(snap["schema"])
        keys = list(keys)
        bulk = len(keys) > READ_KEYS_ISIN_MAX
        # ONE key frame serves both the pruning job and (on the bulk
        # path) the semi-join — not two identical driver serializations
        lk = spark.createDataFrame(
            [(k,) for k in keys], StructType([schema[snap["key_col"]]])
        )
        files = self._files_for_keys(spark, keys, snap, lk) if keys else []
        df = self._scan(spark, files, schema)
        if bulk:
            # point-lookup misuse guard: a giant isin() literal list
            # blows up the plan; degrade to a broadcast semi-join, which
            # is the right plan shape for bulk key sets anyway
            df = df.join(F.broadcast(lk), snap["key_col"], "semi")
        else:
            df = df.filter(F.col(snap["key_col"]).isin(keys))
        if include_meta:
            return df
        return self._strip_meta(df, schema)

    # ---------------------------------------------------------------- append
    def append(
        self, df: DataFrame, operation: str = "append", props: dict[str, Any] | None = None
    ) -> int:
        """Blind append (no key semantics) — used by lineage/metrics/log
        tables, mirroring the reference's append-only tracking tables
        (/root/reference/src/tracking/entities/entity_change_log.py:8-42).
        ``props`` entries are merged into the snapshot props (e.g. the
        change-log batch high-watermark that makes appends idempotent)."""
        snap = self.snapshot()
        schema = StructType.fromJson(snap["schema"])
        df = df.select([F.col(f.name).cast(f.dataType) for f in schema.fields])
        new_files = self._write_data(df, snap["version"] + 1)
        files = [FileEntry.from_json(f) for f in snap["files"]] + new_files
        return self._commit_next(
            snap,
            operation,
            {"appended_files": len(new_files)},
            props,
            files=[f.to_json() for f in files],
        )

    def append_rows(
        self,
        rows: list[dict[str, Any]],
        operation: str = "append_rows",
        props: dict[str, Any] | None = None,
    ) -> int:
        """Driver-side small append for control-plane tables (runs,
        metrics): :meth:`_write_rows` adds the rows as one pyarrow file —
        no Spark job — and commits exactly like :meth:`append`.  A Spark
        write of a handful of lineage rows per batch was pure fixed
        overhead (one full job each at ~0.5-1 s)."""
        return self._write_rows(rows, operation, props, replace=False)

    def overwrite_rows(
        self,
        rows: list[dict[str, Any]],
        operation: str = "overwrite_rows",
        props: dict[str, Any] | None = None,
    ) -> int:
        """Driver-side :meth:`overwrite` of a small unkeyed table (the
        per-source rollup): the rows become the table's only file, with
        no Spark job."""
        return self._write_rows(rows, operation, props, replace=True)

    def _write_rows(
        self,
        rows: list[dict[str, Any]],
        operation: str,
        props: dict[str, Any] | None,
        replace: bool,
    ) -> int:
        """The one pyarrow rows-writer behind :meth:`append_rows` and
        :meth:`overwrite_rows`: ONE parquet file in the table's own arrow
        schema, so Spark reads it back bit-identically (session + system
        tz are UTC, matching the engine's naive-UTC timestamps), then a
        commit that keeps (append) or drops (replace) the current files.
        Missing keys land as null."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        snap = self.snapshot()
        if replace and snap["key_col"] is not None:
            raise ValueError("overwrite_rows requires an unkeyed table")
        version = snap["version"] + 1
        schema = StructType.fromJson(snap["schema"])
        cols = {f.name: [r.get(f.name) for r in rows] for f in schema.fields}
        table = pa.Table.from_pydict(cols, schema=to_arrow_schema(schema))
        rel_dir = os.path.join("data", f"commit-{version:08d}-{uuid.uuid4().hex[:8]}")
        os.makedirs(os.path.join(self.path, rel_dir))
        rel_path = os.path.join(rel_dir, "part-00000.parquet")
        pq.write_table(table, os.path.join(self.path, rel_path))
        kept = [] if replace else [FileEntry.from_json(f) for f in snap["files"]]
        return self._commit_next(
            snap,
            operation,
            {} if replace else {"appended_files": 1},
            props,
            files=[f.to_json() for f in kept + [FileEntry(rel_path, -1, len(rows), None, None)]],
        )

    def read_rows(self) -> list[dict[str, Any]]:
        """Driver-side read of a small unkeyed table (pyarrow, no Spark
        job) — the counterpart of :meth:`overwrite_rows`.  Columns a
        file lacks (written before a schema evolution) read as null."""
        import pyarrow.parquet as pq

        snap = self.snapshot()
        if snap["key_col"] is not None:
            raise ValueError("read_rows requires an unkeyed table")
        names = [f.name for f in StructType.fromJson(snap["schema"]).fields]
        out: list[dict[str, Any]] = []
        for f in snap["files"]:
            for r in pq.read_table(os.path.join(self.path, f["path"])).to_pylist():
                out.append({n: r.get(n) for n in names})
        return out

    # ---------------------------------------------------- schema evolution
    @staticmethod
    def _is_widening(old_t, new_t) -> bool:
        """Iceberg's safe type-promotion set (spec §Schema Evolution):
        int→long, float→double, decimal(P,S)→decimal(P',S) with P'>P.
        All three are zero-rewrite: Spark's vectorized parquet reader
        upcasts old files on scan when given the widened read schema
        (verified on this build — illegal promotions like
        decimal→double abort the scan, so the gate below is load-bearing).
        """
        from pyspark.sql.types import (
            DecimalType,
            DoubleType,
            FloatType,
            IntegerType,
        )

        if isinstance(old_t, IntegerType) and isinstance(new_t, LongType):
            return True
        if isinstance(old_t, FloatType) and isinstance(new_t, DoubleType):
            return True
        if isinstance(old_t, DecimalType) and isinstance(new_t, DecimalType):
            return new_t.scale == old_t.scale and new_t.precision > old_t.precision
        return False

    def evolve_schema(self, new_schema: StructType, operation: str = "evolve") -> int:
        """Additive + widening schema evolution: new columns are
        appended nullable; existing columns may widen along Iceberg's
        promotion lattice (``_is_widening``); anything else is
        rejected.  Old data files are untouched — new columns read as
        null, widened columns upcast at scan time."""
        snap = self.snapshot()
        old = StructType.fromJson(snap["schema"])
        old_names = {f.name: f for f in old.fields}
        for f in old.fields:
            if f.name not in [n.name for n in new_schema.fields]:
                raise ValueError(f"schema evolution may not drop column {f.name!r}")
        new_by_name = {f.name: f for f in new_schema.fields}
        merged = []
        widened: list[str] = []
        for f in old.fields:
            nf = new_by_name[f.name]
            if str(nf.dataType) == str(f.dataType):
                merged.append(f)
            elif self._is_widening(f.dataType, nf.dataType):
                merged.append(StructField(f.name, nf.dataType, True))
                widened.append(f"{f.name}: {f.dataType.simpleString()}->{nf.dataType.simpleString()}")
            else:
                raise ValueError(
                    f"schema evolution may not change type of {f.name!r}: "
                    f"{f.dataType} -> {nf.dataType} (only int->long, "
                    f"float->double, decimal precision widening)"
                )
        for f in new_schema.fields:
            if f.name not in old_names:
                # force nullable regardless of the source field: old
                # data files lack the column and scan as null, so a
                # non-null table schema would let Catalyst's
                # null-constraint propagation fold isNotNull filters
                # to true over pre-evolution rows
                merged.append(StructField(f.name, f.dataType, True))
        return self._commit_next(
            snap,
            operation,
            {"added": [f.name for f in merged if f.name not in old_names], "widened": widened},
            schema=StructType(merged).jsonValue(),
        )

    # ------------------------------------------------------------- rollback
    def rollback(self, to_version: int) -> int:
        """Roll the table back to a prior snapshot — Iceberg's
        ``rollback_to_snapshot``.  Implemented as a NEW commit whose
        schema/files/props are copied from the target snapshot, so
        history is preserved (the bad commits stay inspectable until
        vacuumed) and ``vacuum`` keeps the rolled-back-to files alive
        because the head snapshot references them.

        Props roll back too: the CDC batch high-watermarks
        (``last_batch_id`` / change-log watermark) revert with the
        data, so re-applying the change feed from the rolled-back
        point is NOT suppressed by the idempotency guards — replay
        reconverges the table (T3)."""
        snap = self.snapshot()
        if to_version > snap["version"]:
            raise ValueError(
                f"cannot roll back to future version {to_version} "
                f"(current {snap['version']})"
            )
        target = self.snapshot(to_version)  # raises if expired
        return self._commit_next(
            {**target, "version": snap["version"]}, "rollback", {"to_version": to_version}
        )

    # --------------------------------------------------- incremental scan
    def read_appends(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Incremental append scan — Iceberg's
        ``incremental-scan`` contract: return exactly the rows added by
        ``append`` commits in ``(from_version, to_version]``, by
        scanning only the files those commits introduced (no diffing of
        row contents, no full-table read).

        Raises if any commit in the range rewrote files (merge /
        overwrite / rebucket / compact remove or replace files, so
        "rows added since v" is not file-expressible there —
        downstream consumers of merge-managed tables subscribe to the
        change-log table instead, which exists precisely for that).
        The check is on the FILE SET, not the operation label: a
        commit qualifies iff its file set is a superset of its
        parent's, so every append variant (change_log, metrics,
        run(...), quarantine appends) and metadata-only commits
        (evolve) qualify regardless of how they were labeled."""
        to_v = self.current_version() if to_version is None else to_version
        if from_version > to_v:
            raise ValueError(f"from_version {from_version} > to_version {to_v}")
        schema = StructType.fromJson(self.snapshot(to_v)["schema"])
        new_files: list[FileEntry] = []
        prev_paths = {f["path"] for f in self.snapshot(from_version)["files"]}
        for v in range(from_version + 1, to_v + 1):
            snap = self.snapshot(v)
            cur_paths = {f["path"] for f in snap["files"]}
            if not prev_paths <= cur_paths:
                raise ValueError(
                    f"incremental append scan requires append-only history; "
                    f"version {v} ({snap.get('operation')!r}) removed or "
                    f"rewrote files — consume the change-log table instead"
                )
            new_files.extend(
                FileEntry.from_json(f)
                for f in snap["files"]
                if f["path"] not in prev_paths
            )
            prev_paths = cur_paths
        return self._scan(spark, new_files, schema)

    # ----------------------------------------------------------------- write
    def _write_data(self, df: DataFrame, version: int) -> list[FileEntry]:
        """Write df, exactly as the caller placed it, to a fresh commit
        directory; return file entries.

        A df carrying BUCKET_COL is written partitioned by it, so each
        file belongs to exactly one bucket, and per-file row counts +
        min/max key are collected for pruning.  The caller places the
        rows first: the merge's co-group and :meth:`_rewrite` place them
        by bucket id (:func:`place_by_bucket`, one write task and one
        file per bucket), and a clustered rewrite range-splits them.  A
        df without BUCKET_COL (blind appends) becomes unbucketed files.
        """
        rel_dir = os.path.join("data", f"commit-{version:08d}-{uuid.uuid4().hex[:8]}")
        out_dir = os.path.join(self.path, rel_dir)
        bucketed = BUCKET_COL in df.columns
        (df.write.partitionBy(BUCKET_COL) if bucketed else df.write).mode("error").parquet(out_dir)
        key = self.key_col if bucketed else None
        # per-file pruning stats from the PARQUET FOOTERS the write
        # just produced — driver-side metadata reads, no second
        # Spark job over the merged plan (the previous per-bucket
        # groupBy cost a full extra action per merge) and no data
        # decode.  Same design as Iceberg manifests: the writer
        # already collected min/max/row-count per file.  Writer-side
        # truncation of string stats is CONSERVATIVE (min prefix ≤
        # min, incremented prefix ≥ max), so pruning stays safe;
        # missing stats degrade to None = never pruned.
        entries: list[FileEntry] = []
        for dirpath, _dirs, names in sorted(os.walk(out_dir)):
            if bucketed == (dirpath == out_dir):
                continue  # a bucketed write's files sit in its BUCKET_COL=b dirs
            sub = os.path.relpath(dirpath, self.path)
            b = int(sub.rsplit("=", 1)[1]) if bucketed else -1
            for fn in sorted(n for n in names if n.endswith(".parquet")):
                rows, mn, mx = _footer_stats(os.path.join(dirpath, fn), key)
                entries.append(FileEntry(os.path.join(sub, fn), b, rows, mn, mx))
        return entries

    # ------------------------------------------------- shared merge plumbing
    def _bucket_summary(
        self,
        src: DataFrame,
        snap: dict[str, Any],
        bucket_aggs: dict[str, Column] | None = None,
    ) -> _BucketSummary:
        """The merge's one per-bucket aggregation over a bucketed batch,
        collected as O(buckets) rows by a single ``groupBy``: per touched
        bucket its sorted batch keys (for :func:`_split_by_keys`; only
        when some file has key stats), the caller's ``bucket_aggs``
        (``apply_batch``'s bucket metrics), and whether any row's
        ``BUCKET_COL`` differs from its key's bucket."""
        key = snap["key_col"]
        names = list(bucket_aggs or {})
        ranged = any(f.get("min_key") is not None for f in snap["files"])
        touched = (
            src.groupBy(BUCKET_COL)
            .agg(
                (F.array_sort(F.collect_list(key)) if ranged else F.array()).alias("_keys"),
                F.max(F.col(BUCKET_COL) != bucket_expr(key, snap["bucket_count"]))
                .alias("_misplaced"),
                *[bucket_aggs[n].alias(n) for n in names],
            )
            .collect()
        )
        return _BucketSummary(
            keys={r[BUCKET_COL]: r["_keys"] for r in touched},
            aggs={r[BUCKET_COL]: {n: r[n] for n in names} for r in touched} if names else {},
            misplaced=any(r["_misplaced"] for r in touched),
        )

    def _prune_for_batch(
        self,
        src: DataFrame,
        snap: dict[str, Any],
        summary: _BucketSummary | None = None,
    ) -> tuple[list[FileEntry], list[FileEntry]]:
        """(rewrite, carry) for a bucketed batch: :func:`_split_by_keys`
        over its :meth:`_bucket_summary` (computed here if not given)."""
        if summary is None:
            summary = self._bucket_summary(src, snap)
        return _split_by_keys([FileEntry.from_json(j) for j in snap["files"]], summary.keys)

    def _bucket_policy_advice(
        self, snap: dict[str, Any], files: list[FileEntry], summary: dict[str, Any]
    ) -> None:
        """Merge-time bucket-count policy check: record a rebucket
        recommendation in the snapshot summary when rows/bucket exceeds
        the table's target (the operator schedules rebucket() — an
        O(table) rewrite — off the hot path)."""
        target_rpb = int(
            snap.get("props", {}).get(
                "target_rows_per_bucket", DEFAULT_TARGET_ROWS_PER_BUCKET
            )
        )
        est_rows = _distinct_bucket_rows(
            files, int(snap.get("stats_version", STATS_FILE_ROWS))
        )
        if est_rows > snap["bucket_count"] * target_rpb:
            summary["rebucket_recommended"] = recommended_bucket_count(
                est_rows, target_rpb
            )
        # clustering advisory — see CLUSTER_ADVICE_MIN_AMP.  Uses the
        # REWRITTEN side of this merge only (O(1) over already-known
        # summary numbers); job_maintain's auto mode schedules the
        # sort-ordered rewrite off the hot path, like rebucket.
        rr = summary.get("rewritten_rows", 0)
        rf = summary.get("rewritten_files", 0)
        try:
            target = self._target_file_rows(snap)
        except (TypeError, ValueError):
            # advisory is best-effort: a malformed target_file_rows
            # prop must not poison the merge that is about to commit
            # (the explicit clustered-compaction paths still raise)
            target = DEFAULT_TARGET_FILE_ROWS
        if (
            rf > 0
            and rr > CLUSTER_ADVICE_MIN_AMP * max(1, summary.get("batch_rows", 0))
            and rr / rf > 2 * target
        ):
            summary["cluster_recommended"] = True

    # ----------------------------------------------------------------- merge
    def merge(
        self,
        batch: DataFrame,
        op_col: str = "op",
        lsn_col: str = "lsn",
        delete_op: str = "delete",
        change_log_sink: "LakeTable | None" = None,
        change_log_extra: dict[str, Any] | None = None,
        persist_join: bool = False,
        bucket_aggs: dict[str, Column] | None = None,
    ) -> dict[str, Any]:
        """Copy-on-write keyed MERGE — the engine's `MERGE INTO`.

        ``batch`` must have exactly one row per key (run the LWW
        reduction first), with columns: key, payload columns (a subset
        or superset of the table payload schema — new columns trigger
        additive evolution), ``op_col`` and ``lsn_col``.

        Semantics per key (reference: create-or-update handlers
        /root/reference/src/core/logic/initiative_handlers.py:54-106 and
        member deletion /root/reference/src/core/logic/team_synchronizer.py:161-189):

          WHEN MATCHED  AND s.lsn > t._lsn AND s.op = delete → tombstone
          WHEN MATCHED  AND s.lsn > t._lsn                  → UPDATE
          WHEN MATCHED  AND s.lsn <= t._lsn                 → no-op (stale / replayed)
          WHEN NOT MATCHED AND s.op != delete               → INSERT
          WHEN NOT MATCHED AND s.op = delete                → tombstone (guards
              a later out-of-order stale update; GC'd by compaction)

        Only buckets (and files, via min/max key pruning) containing
        batch keys are rewritten; untouched files carry forward.

        Returns stats + a lazily-evaluated ``change_log`` DataFrame of
        before/after images (valid as long as the pre-merge snapshot
        files are retained).  Pruning, ``bucket_aggs``, the join, stats,
        the write, the lineage sink, ``persist_join`` and the commit are
        shared with :meth:`merge_attrs` — see :meth:`_merge_core`.
        """
        snap = self.snapshot()
        if snap.get("attr_lww"):
            # whole-row LWW would null _del_lsn and the _alsn_* columns
            raise ValueError("merge cannot write an attr_lww table: use merge_attrs")
        return self._merge_core(
            snap,
            _RowLww(batch, op_col, lsn_col, delete_op),
            change_log_sink,
            change_log_extra,
            persist_join,
            bucket_aggs,
        )

    # ----------------------------------------------------------- merge_attrs
    def merge_attrs(
        self,
        winners: DataFrame,
        change_log_sink: "LakeTable | None" = None,
        change_log_extra: dict[str, Any] | None = None,
        persist_join: bool = False,
        bucket_aggs: dict[str, Column] | None = None,
    ) -> dict[str, Any]:
        """Field-level (per-attribute) LWW MERGE for partial-update
        change events — the reference's core conflict resolution:
        latest *selected assertion* per (entity, attribute) wins
        (/root/reference/src/core/logic/canonical_exporter.py:749-753,
        first-hit fold :834-850;
        /root/reference/src/tracking/entities/attribute_assertion.py:8-44).

        ``winners`` must be the output of
        :func:`horizon_etl_spark.cdc.attrs.attr_lww_reduce` — one row
        per key with, for each payload column ``c``: the batch-winning
        value ``c`` and its assertion lsn ``_alsn_c`` (null when the
        batch never asserted ``c``), plus ``_del_lsn`` (the batch's
        highest delete lsn for the key, null if none).

        Resolution per (key, attribute) — a commutative, associative,
        idempotent fold, so batch boundaries / replay order / duplicate
        delivery cannot change the result:

          del_m   = max(table._del_lsn, batch._del_lsn)          # delete watermark
          live(x) = x.alsn is not null AND x.alsn > del_m        # survived every delete
          winner  = the live side with the higher alsn (batch wins ties:
                    a redelivered batch re-writes the identical value)
          row dead (tombstone) iff no attribute is live; the watermark
          row is kept so later out-of-order stale assertions stay dead.

        Unlike whole-row merge, a batch whose max lsn is *lower* than
        the row's — but which asserts a column never asserted before —
        correctly lands that column (the bug class whole-row LWW has
        with partial updates).

        Lineage: ``change_log_sink`` receives LONG-format per-attribute
        images (one row per (key, column) whose assertion lsn changed:
        'set' with the new value, 'unset' when a delete watermark killed
        it) — the columnar twin of the reference's per-assertion lineage
        (/root/reference/src/tracking/entities/attribute_assertion.py:8-44,
        entity_change_log.py:8-42); same last-batch idempotence guard as
        the whole-row merge.  The returned ``change_log`` is the
        ROW-level before/after image frame (same shape as
        :meth:`merge`'s) so downstream rollup maintenance is mode-
        agnostic.  Everything else is shared with :meth:`merge` — see
        :meth:`_merge_core`."""
        snap = self.snapshot()
        if not snap.get("attr_lww"):
            raise ValueError("merge_attrs requires an attr_lww table")
        return self._merge_core(
            snap,
            _AttrLww(winners),
            change_log_sink,
            change_log_extra,
            persist_join,
            bucket_aggs,
        )

    def _merge_core(
        self,
        snap: dict[str, Any],
        strategy: "_RowLww | _AttrLww",
        change_log_sink: "LakeTable | None",
        change_log_extra: dict[str, Any] | None,
        persist_join: bool,
        bucket_aggs: dict[str, Column] | None,
    ) -> dict[str, Any]:
        """The one keyed-MERGE skeleton behind :meth:`merge` and
        :meth:`merge_attrs`: evolve → batch summary → prune (the range
        test of :meth:`read_keys`, :func:`_split_by_keys`) + scan → one
        bucket-clustered co-group of table and batch rows → stats riding
        the data write → lineage sink → commit.

        The co-group is the merge's only shuffle: both sides are
        repartitioned by bucket id together and grouped per key, which
        yields the rows of a full-outer join on the key (each key has at
        most one table row and one batch row) already clustered the way
        the write needs them — one task and one key-sorted file per
        touched bucket.

        ``strategy`` is the conflict rule (:class:`_RowLww`,
        :class:`_AttrLww`).  It supplies only what differs between the
        two: the columns a batch adds to the schema and the ``_s_*`` /
        ``_t_*`` row projections; the resolution (an optional
        projection over the joined rows, then the written columns in
        file order); the six stat predicates; and the lineage frames
        (the sink frame and the row-image ``change_log``).

        Per-bucket aggregates: ``bucket_aggs`` maps names to aggregate
        columns over the batch; they ride the summary's one per-bucket
        aggregation (:meth:`_bucket_summary`) and come back
        as ``bucket_aggs`` — ``{bucket: {name: value}}`` for every
        bucket the batch touches.  The batch may carry
        ``KEY_EVENTS_COL`` for them.

        Placement: a batch that already carries ``BUCKET_COL`` (the
        winners of a batch ``apply_batch`` placed with
        :func:`place_by_bucket`) is used as it is, so the summary's ``groupBy`` keeps that
        placement and starts no exchange; a batch whose column turns
        out not to match the table's bucketing (a rebucket committed
        since it was tagged) is re-tagged and summarised again.

        Determinism: the pruner and the co-group each evaluate the
        batch, so a batch whose rows differ between evaluations could
        be pruned for one set of keys and written for another.  A batch
        whose plan Spark marks non-deterministic (``rand``, ``uuid``, a
        UDF declared ``asNondeterministic`` ...), once cached data is
        substituted, is therefore local-checkpointed first and every
        pass reads the same rows.  The checkpoint runs the batch's own shuffle stages when it
        is taken; its blocks live on the executors, so losing one before
        the write fails the merge instead of recomputing different rows,
        and they are released with the frames that reference them.
        Deterministic batches — ``apply_batch``'s persisted winners, the
        table reads of consolidation, outbox replication and the
        cdc_feed queries — are evaluated as they are.  A Python UDF is
        deterministic to Spark unless declared otherwise.

        Join cache ownership: the join is cached only when something
        re-reads it.  ``persist_join=True`` caches it for the caller,
        who evaluates the returned ``change_log`` after this call
        (rollup maintenance) and owns the cache: it comes back as
        ``persisted_join`` and the caller unpersists it after its last
        consumer (unpersisting here would recompute the join for that
        consumer).  Otherwise a change-log sink gets a cache that is
        released here, and the lineage-off path caches nothing: its data
        write is the only pass, and filling a cache nobody reads pushes
        ~2 copies of every token array through the memory bus."""
        batch = strategy.batch
        spark = batch.sparkSession
        key = snap["key_col"]
        nb = snap["bucket_count"]
        if key is None:
            # ValueError, not assert: asserts vanish under `python -O`
            raise ValueError(f"{strategy.operation} requires a keyed table")
        if not batch._jdf.queryExecution().withCachedData().deterministic():
            batch = batch.localCheckpoint(eager=False)

        # --- additive schema evolution from the batch's new columns
        table_schema = StructType.fromJson(snap["schema"])
        add = strategy.new_fields(
            {f.name for f in table_schema.fields} | {KEY_EVENTS_COL, BUCKET_COL}
        )
        if add:
            self.evolve_schema(
                StructType(list(table_schema.fields) + add),
                operation=f"evolve({strategy.operation})",
            )
            snap = self.snapshot()
            table_schema = StructType.fromJson(snap["schema"])
        strategy.bind(table_schema, key)

        retag = batch.withColumn(BUCKET_COL, bucket_expr(key, nb))
        src = batch if BUCKET_COL in batch.columns else retag
        buckets = self._bucket_summary(src, snap, bucket_aggs)
        if buckets.misplaced:
            src = retag
            buckets = self._bucket_summary(src, snap, bucket_aggs)
        rewrite_files, carry_files = self._prune_for_batch(src, snap, buckets)
        cur = self._scan(spark, rewrite_files, table_schema).withColumn(
            BUCKET_COL, bucket_expr(key, nb)
        )

        # --- one bucket-clustered co-group: table rows and batch rows
        # meet in the bucket shuffle the write needs anyway.  Each side
        # is (bucket, key, its own row struct); the union fills the
        # other side's slot with a typed null.  A key has at most one
        # row per side, so the per-key first-non-null of each slot
        # rebuilds the full-outer join row.  The rows are placed by
        # bucket id (``place_by_bucket``), which is the placement the
        # write takes as it is.  A union does not keep its
        # inputs' placement, so an already-placed batch still crosses
        # this exchange once.
        s_cols, t_cols = strategy.projections()
        s = src.select(
            BUCKET_COL, key, F.struct(F.col(key).alias("_s_key"), *s_cols).alias("_s")
        )
        t = cur.select(
            BUCKET_COL,
            key,
            F.struct(
                F.col(key).alias("_t_key"),
                F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)).alias("_t_tomb"),
                *t_cols,
            ).alias("_t"),
        )
        cogrouped = (
            place_by_bucket(t.unionByName(s, allowMissingColumns=True), nb)
            .groupBy(BUCKET_COL, key)
            .agg(
                F.first("_t", ignorenulls=True).alias("_t"),
                F.first("_s", ignorenulls=True).alias("_s"),
            )
        )
        persist = persist_join or change_log_sink is not None
        j = strategy.resolve(cogrouped.select(BUCKET_COL, key, "_t.*", "_s.*"))
        if persist:
            j = j.persist()  # consumed by merged write + change images

        version = snap["version"] + 1
        jo, counts = observe_counts(
            j,
            f"{strategy.operation}_v{version}",
            {
                k: F.sum(F.when(p, 1).otherwise(0))
                for k, p in strategy.stat_predicates().items()
            },
        )
        new_files = self._write_data(
            jo.select(BUCKET_COL, key, *strategy.written_columns()), version
        )
        files = carry_files + new_files

        extra = change_log_extra or {}
        sink_frame, change_log = strategy.lineage(j, extra)
        if change_log_sink is not None:
            # Idempotent per batch: the append precedes this merge's
            # snapshot commit, so on a crash between the two the
            # redelivered batch re-derives IDENTICAL images (the merge
            # never committed); the sink's props remember the LAST
            # appended batch id and an append for exactly that id is
            # skipped.  Only the equality case is deduped: a streaming
            # redelivery is always a retry of the most recent batch
            # (the checkpoint advances only after success), while a
            # fresh batch-mode replay of a NEW feed may legitimately
            # restart its batch numbering below the old watermark and
            # must still be logged.
            batch_id = extra.get("batch_id")
            last = change_log_sink.props.get("last_batch_id") if batch_id is not None else None
            if batch_id is None or last is None or batch_id != last:
                change_log_sink.append(
                    sink_frame,
                    operation=strategy.sink_operation,
                    props={"last_batch_id": batch_id} if batch_id is not None else None,
                )

        stats = counts()
        if persist and not persist_join:
            j.unpersist()

        summary = {
            "batch_rows": stats["batch_rows"],
            "inserted": stats["inserted"],
            "updated": stats["updated"],
            "deleted": stats["deleted"],
            "skipped_stale": stats["skipped_stale"],
            "rewritten_files": len(rewrite_files),
            "rewritten_rows": sum(int(f.rows or 0) for f in rewrite_files),
            "carried_files": len(carry_files),
        }
        self._bucket_policy_advice(snap, files, summary)
        self._commit_next(snap, strategy.operation, summary, files=[f.to_json() for f in files])
        return {
            "version": version,
            "inserted": stats["inserted"],
            "updated": stats["updated"],
            "deleted": stats["deleted"],
            "delete_noop": stats["delete_noop"],
            "skipped_stale": stats["skipped_stale"],
            "applied": stats["inserted"] + stats["updated"] + stats["deleted"],
            "rewritten_files": len(rewrite_files),
            "carried_files": len(carry_files),
            "change_log": change_log,
            # non-None iff the caller passed persist_join=True: the
            # still-cached join backing change_log
            "persisted_join": j if persist_join else None,
            "bucket_aggs": buckets.aggs,
        }

    # ------------------------------------------------------------ overwrite
    def overwrite(
        self,
        df: DataFrame,
        operation: str = "overwrite",
        props: dict[str, Any] | None = None,
    ) -> int:
        """Replace all data with ``df`` (bulk loads, bootstrap) through
        :meth:`_rewrite`.

        ``props`` entries are merged into the snapshot's props — e.g.
        derived tables record the source-table version they reflect, so
        a crash between source commit and derived commit is detectable.
        """
        return self._rewrite(df.sparkSession, self.snapshot(), operation, df, props=props)

    @property
    def props(self) -> dict[str, Any]:
        return self.snapshot().get("props", {})

    def set_props(self, props: dict[str, Any]) -> int:
        """Metadata-only commit merging ``props`` into the table props —
        the ALTER TABLE SET TBLPROPERTIES analogue (e.g. tune
        ``target_rows_per_bucket`` on a live table so the next merge's
        bucket advisory uses the new policy).  The file set is
        unchanged, so the commit qualifies for ``read_appends``."""
        return self._commit_next(self.snapshot(), "set_props", {"set": sorted(props)}, props)

    def vacuum(
        self, keep_versions: int = 2, min_age_seconds: float = 3600.0
    ) -> dict[str, int]:
        """Expire old snapshots and physically delete data files no
        retained snapshot references — the Iceberg
        expire_snapshots/remove_orphan_files analogue.  Keeps the last
        ``keep_versions`` snapshots (bounding time travel); never
        touches files any retained snapshot references.

        ``min_age_seconds`` is the concurrent-writer guard (Iceberg's
        remove_orphan_files ``older_than``): an in-flight merge writes
        its data files *before* committing its snapshot, so an
        unreferenced-but-young file may belong to a commit about to
        happen — deleting it would publish a snapshot referencing
        missing files.  Only unreferenced files whose mtime is older
        than the cutoff are removed; pass 0 only when the caller holds
        exclusive writer access.

        Safe relative to readers of retained versions only; like any
        lakehouse vacuum, concurrent readers of expired versions fail
        afterwards."""
        import time

        if keep_versions < 1:
            raise ValueError("vacuum keep_versions must be >= 1")
        cutoff = time.time() - min_age_seconds
        versions = sorted(
            int(fn[1:-5])
            for fn in os.listdir(self._snap_dir)
            if fn.startswith("v") and fn.endswith(".json")
        )
        retained = versions[-keep_versions:]
        expired = versions[: -keep_versions]
        referenced: set[str] = set()
        for v in retained:
            referenced.update(f["path"] for f in self.snapshot(v)["files"])

        removed_snapshots = 0
        for v in expired:
            os.unlink(self._snap_path(v))
            removed_snapshots += 1

        removed_files = 0
        data_root = os.path.join(self.path, "data")
        if os.path.isdir(data_root):
            for commit in sorted(os.listdir(data_root)):
                cdir = os.path.join(data_root, commit)
                refs_in_dir = False
                young_in_dir = False
                unref: list[str] = []
                for dirpath, _dirs, files in os.walk(cdir):
                    for fn in files:
                        full = os.path.join(dirpath, fn)
                        rel = os.path.relpath(full, self.path)
                        if rel in referenced:
                            refs_in_dir = True
                        elif os.path.getmtime(full) > cutoff:
                            young_in_dir = True
                        elif fn.endswith(".parquet"):
                            unref.append(full)
                if not refs_in_dir and not young_in_dir:
                    removed_files += sum(
                        len(files) for _p, _d, files in os.walk(cdir)
                    )
                    shutil.rmtree(cdir)
                else:
                    for full in unref:
                        os.unlink(full)
                        removed_files += 1
        # key-bloom sidecars written by older versions: nothing reads
        # them, so every one past the age cutoff goes
        blooms_root = os.path.join(self.path, "_meta", "blooms")
        for fn in os.listdir(blooms_root) if os.path.isdir(blooms_root) else []:
            full = os.path.join(blooms_root, fn)
            if os.path.getmtime(full) <= cutoff:
                os.unlink(full)
                removed_files += 1

        return {
            "removed_snapshots": removed_snapshots,
            "removed_files": removed_files,
            "retained_versions": retained,
        }

    def rebucket(
        self,
        spark: SparkSession,
        new_bucket_count: int,
        cluster_by_key: bool = False,
        target_file_rows: int | None = None,
    ) -> int:
        """Rewrite the table into ``new_bucket_count`` hash buckets in
        ONE atomic commit (data files + the new bucket_count land in the
        same snapshot, so per-file bucket/min-max pruning is never
        inconsistent with the layout).  This is the rebucket path the
        merge-time policy check points at; like Iceberg's
        rewrite_data_files after a partition-spec change, it's an
        O(table) job the operator schedules, never an implicit side
        effect of a merge.

        ``cluster_by_key`` sort-orders the SAME rewrite (see
        :meth:`compact`): when both layout advisories are pending the
        one O(table) pass this job already is produces the clustered
        layout too — without it, a rebucket emits one full-range file
        per bucket and a following clustered sweep would rewrite the
        whole table a second time."""
        snap = self.snapshot()
        if snap["key_col"] is None:
            raise ValueError("rebucket requires a keyed table")
        return self._rewrite(
            spark,
            snap,
            "rebucket",
            [FileEntry.from_json(f) for f in snap["files"]],
            bucket_count=new_bucket_count,
            cluster_by_key=cluster_by_key,
            target_file_rows=target_file_rows,
            summary={"from_buckets": snap["bucket_count"], "to_buckets": new_bucket_count},
        )

    def compact_buckets(
        self,
        spark: SparkSession,
        max_files_per_bucket: int = 8,
        drop_tombstones: bool = False,
        cluster_by_key: bool = False,
        target_file_rows: int | None = None,
    ) -> dict[str, int]:
        """Selective small-file compaction: rewrite ONLY buckets whose
        file count exceeds ``max_files_per_bucket`` (copy-on-write
        merges append one file set per touched bucket per commit, so a
        hot bucket accumulates files); untouched buckets carry forward.
        This is the Iceberg rewrite_data_files(bin-pack) analogue — at
        100 TB a full-table compact() is an O(table) job, while this is
        O(hot buckets) and safe to run between merges.

        ``drop_tombstones`` defaults OFF here (unlike compact()):
        per-bucket GC of tombstones is only safe under the same
        no-more-stale-events watermark contract, and a routine
        small-file pass shouldn't silently change delete semantics.

        ``cluster_by_key`` key-sorts and range-splits the REWRITTEN
        buckets into ~``target_file_rows``-row disjoint-range files
        (see :meth:`compact`) — the natural pairing, since the hot
        buckets this pass touches are exactly the ones whose file
        ranges interleave.  In cluster mode a bucket also counts as hot
        when it holds an OVERSIZED file (rows > 2× the target): those
        fat full-range files are what the clustering advisory fires on,
        and they never trip the file-count test (often 1 file/bucket) —
        so the sweep stays O(offending buckets), never O(table)."""
        snap = self.snapshot()
        if snap["key_col"] is None:
            raise ValueError("compact_buckets requires a keyed table")
        all_files = [FileEntry.from_json(f) for f in snap["files"]]
        per_bucket: dict[int, int] = {}
        for f in all_files:
            per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
        hot = {b for b, n in per_bucket.items() if n > max_files_per_bucket}
        if cluster_by_key:
            fat = 2 * self._target_file_rows(snap, target_file_rows)
            hot |= {f.bucket for f in all_files if f.bucket != -1 and (f.rows or 0) > fat}
        rewrite = [f for f in all_files if f.bucket in hot]
        carry = [f for f in all_files if f.bucket not in hot]
        stats = {
            "compacted_buckets": len(hot),
            "rewritten_files": len(rewrite),
            "carried_files": len(carry),
        }
        if hot:
            self._rewrite(
                spark,
                snap,
                "compact_buckets",
                rewrite,
                carry=carry,
                drop_tombstones=drop_tombstones,
                cluster_by_key=cluster_by_key,
                target_file_rows=target_file_rows,
                summary=stats,
            )
        return stats

    def compact(
        self,
        spark: SparkSession,
        drop_tombstones: bool = True,
        cluster_by_key: bool = False,
        target_file_rows: int | None = None,
    ) -> int:
        """Rewrite the table into one file-set per bucket; optionally GC
        tombstones (safe once no stale events older than any tombstone
        can still arrive — the stream's lsn high-watermark governs).

        ``cluster_by_key`` additionally key-sorts and range-splits the
        rewrite into ~``target_file_rows``-row files (default: the
        ``target_file_rows`` table prop, else 4,000,000) whose
        per-bucket key ranges are pairwise DISJOINT.  A 100 TB bucket
        is tens of GB — one file per bucket is both an oversized object
        and a full-bucket rewrite on every point-key merge; clustered,
        the range pruner touches ~1 file per key.
        The split count is sized driver-side from the manifest's footer
        row counts — no extra Spark job beyond repartitionByRange's
        sampling pass."""
        snap = self.snapshot()
        return self._rewrite(
            spark,
            snap,
            "compact",
            [FileEntry.from_json(f) for f in snap["files"]],
            drop_tombstones=drop_tombstones,
            cluster_by_key=cluster_by_key,
            target_file_rows=target_file_rows,
        )

    def _rewrite(
        self,
        spark: SparkSession,
        snap: dict[str, Any],
        operation: str,
        source: DataFrame | list[FileEntry],
        carry: list[FileEntry] | None = None,
        drop_tombstones: bool = False,
        bucket_count: int | None = None,
        cluster_by_key: bool = False,
        target_file_rows: int | None = None,
        props: dict[str, Any] | None = None,
        summary: dict[str, Any] | None = None,
    ) -> int:
        """The one copy-on-write rewrite behind :meth:`overwrite`,
        :meth:`compact`, :meth:`compact_buckets` and :meth:`rebucket`:
        the rows of ``source`` (a frame, or the files being replaced,
        scanned here), less tombstones if ``drop_tombstones``, are
        placed, written once and committed with the ``carry`` files in
        one snapshot whose layout is ``bucket_count`` buckets (default:
        the table's).  The commit summary records ``new_files``.

        Placement on a keyed table is by bucket id
        (:func:`place_by_bucket`: one write task and one file per
        bucket).  ``cluster_by_key`` replaces it with
        ``repartitionByRange(n, bucket, key)`` + a within-partition
        sort, ``n`` sized from the replaced files' footer row counts
        over ``target_file_rows`` — range partitioning on (bucket, key)
        is lexicographic, so the files it produces INSIDE each bucket
        hold pairwise-disjoint, key-sorted ranges.  The footer min/max
        stats then let :func:`_split_by_keys` (the files BETWEEN two keys
        carry) isolate ≤1 file per bucket per point key, for merges and
        reads alike — Iceberg's sort-ordered
        ``rewrite_data_files`` expressed as one extra exchange on the
        O(table) job that compaction already is.  The merge hot path
        keeps its one bucket exchange: a range exchange there would add
        a sampling pass per micro-batch for ranges the next merge
        immediately fragments.  Tombstoned rows inflate the split
        estimate slightly when they are dropped — harmless (marginally
        smaller files)."""
        key = snap["key_col"]
        nb = snap["bucket_count"] if bucket_count is None else bucket_count
        _check_bucket_count(nb)
        schema = StructType.fromJson(snap["schema"])
        df = source if isinstance(source, DataFrame) else self._scan(spark, source, schema)
        if drop_tombstones and TOMBSTONE_COL in df.columns:
            df = df.filter(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)))
        df = df.select([f.name for f in schema.fields])
        if cluster_by_key:
            if key is None:
                raise ValueError("cluster_by_key requires a keyed table")
            rows = sum(int(f.rows or 0) for f in source)
            splits = max(1, -(-rows // self._target_file_rows(snap, target_file_rows)))
            df = (
                df.withColumn(BUCKET_COL, bucket_expr(key, nb))
                .repartitionByRange(splits, F.col(BUCKET_COL), F.col(key))
                .sortWithinPartitions(BUCKET_COL, key)
            )
        elif key is not None:
            df = place_by_bucket(df, nb, key)
        new_files = self._write_data(df, snap["version"] + 1)
        return self._commit_next(
            snap,
            operation,
            {**(summary or {}), "new_files": len(new_files)},
            props,
            files=[f.to_json() for f in (carry or []) + new_files],
            bucket_count=nb,
        )

    @staticmethod
    def _target_file_rows(
        snap: dict[str, Any], override: int | None = None
    ) -> int:
        """Clustered-split sizing: explicit override, else the table's
        ``target_file_rows`` prop, else DEFAULT_TARGET_FILE_ROWS."""
        target = (
            int(override)
            if override is not None
            else int(
                snap.get("props", {}).get("target_file_rows", DEFAULT_TARGET_FILE_ROWS)
            )
        )
        if target <= 0:
            raise ValueError("target_file_rows must be positive")
        return target


# --------------------------------------------------------- merge strategies
# The two conflict rules LakeTable._merge_core runs; their expressions
# read its _s_key, _t_key/_t_tomb co-group columns plus their own
# _s_*/_t_* projections.


def _is_container(dt) -> bool:
    return isinstance(dt, (ArrayType, MapType, StructType))


def _greatest(cols: list[Column]) -> Column:
    return cols[0] if len(cols) == 1 else F.greatest(*cols)


class _RowLww:
    """Whole-row last-writer-wins (:meth:`LakeTable.merge`): a batch row
    with a higher lsn replaces the table row; a delete tombstones it."""

    operation = "merge"
    sink_operation = "change_log"

    def __init__(self, batch: DataFrame, op_col: str, lsn_col: str, delete_op: str):
        self.batch = batch
        self.op_col = op_col
        self.lsn_col = lsn_col
        self.delete_op = delete_op

    def new_fields(self, known: set[str]) -> list[StructField]:
        return [
            f
            for f in self.batch.schema.fields
            if f.name not in known and f.name not in (self.op_col, self.lsn_col)
        ]

    def bind(self, schema: StructType, key: str) -> None:
        self.schema = schema
        self.key = key
        self.cols = [
            f.name for f in schema.fields if f.name not in (key, LSN_COL, TOMBSTONE_COL)
        ]
        self.fresh = F.col("_s_key").isNotNull() & (
            F.col("_t_key").isNull() | (F.col("_s_lsn") > F.col("_t_lsn"))
        )
        self.is_del = F.col("_s_op") == F.lit(self.delete_op)

    def projections(self) -> tuple[list[Column], list[Column]]:
        s = [
            F.col(self.op_col).alias("_s_op"),
            F.col(self.lsn_col).cast("long").alias("_s_lsn"),
            *[
                (F.col(c) if c in self.batch.columns else F.lit(None).cast(
                    self.schema[c].dataType
                )).alias(f"_s_{c}")
                for c in self.cols
            ],
        ]
        t = [F.col(LSN_COL).alias("_t_lsn"), *[F.col(c).alias(f"_t_{c}") for c in self.cols]]
        return s, t

    def resolve(self, j: DataFrame) -> DataFrame:
        return j

    def stat_predicates(self) -> dict[str, Column]:
        fresh, is_del = self.fresh, self.is_del
        return {
            "batch_rows": F.col("_s_key").isNotNull(),
            "inserted": fresh & ~is_del & (F.col("_t_key").isNull() | F.col("_t_tomb")),
            "updated": fresh & ~is_del & F.col("_t_key").isNotNull() & ~F.col("_t_tomb"),
            "deleted": fresh & is_del & F.col("_t_key").isNotNull() & ~F.col("_t_tomb"),
            "delete_noop": fresh & is_del & (F.col("_t_key").isNull() | F.col("_t_tomb")),
            "skipped_stale": F.col("_s_key").isNotNull() & ~fresh,
        }

    def written_columns(self) -> list[Column]:
        fresh, is_del = self.fresh, self.is_del
        return [
            F.when(fresh, F.col("_s_lsn")).otherwise(F.col("_t_lsn")).alias(LSN_COL),
            F.when(fresh, is_del)
            .otherwise(F.coalesce(F.col("_t_tomb"), F.lit(False)))
            .alias(TOMBSTONE_COL),
            *[
                F.when(fresh & ~is_del, F.col(f"_s_{c}"))
                .when(fresh & is_del, F.lit(None).cast(self.schema[c].dataType))
                .otherwise(F.col(f"_t_{c}"))
                .alias(c)
                for c in self.cols
            ],
        ]

    def lineage(self, j: DataFrame, extra: dict[str, Any]) -> tuple[DataFrame, DataFrame]:
        """Before/after images per atomic payload column — both the sink
        frame and the returned change_log (reference: entity_change_log
        before/after JSON, src/tracking/entities/entity_change_log.py:8-42).
        The images carry ``BUCKET_COL``, so a consumer grouping by bucket
        keeps the co-group's placement; the sink's append projects it
        away."""
        fresh, is_del = self.fresh, self.is_del
        atomic_cols = [c for c in self.cols if not _is_container(self.schema[c].dataType)]
        change_log = j.filter(F.col("_s_key").isNotNull()).select(
            F.col("_s_key").alias(self.key),
            BUCKET_COL,
            F.col("_s_lsn").alias("lsn"),
            F.when(~fresh, F.lit("skipped_stale"))
            .when(is_del & (F.col("_t_key").isNull() | F.col("_t_tomb")), F.lit("delete_noop"))
            .when(is_del, F.lit("delete"))
            .when(F.col("_t_key").isNull() | F.col("_t_tomb"), F.lit("insert"))
            .otherwise(F.lit("update"))
            .alias("op_applied"),
            *[
                F.when(~F.col("_t_tomb"), F.col(f"_t_{c}")).alias(f"before_{c}")
                for c in atomic_cols
            ],
            *[
                F.when(fresh & ~is_del, F.col(f"_s_{c}")).alias(f"after_{c}")
                for c in atomic_cols
            ],
        )
        change_log = change_log.withColumns({k: F.lit(v) for k, v in extra.items()})
        return change_log, change_log


class _AttrLww:
    """Per-attribute last-writer-wins (:meth:`LakeTable.merge_attrs`):
    each column resolves on its own assertion lsn against the row's
    delete watermark."""

    operation = "merge_attrs"
    sink_operation = "attr_change_log"

    def __init__(self, winners: DataFrame):
        self.batch = winners

    def new_fields(self, known: set[str]) -> list[StructField]:
        # a new payload column brings its assertion-lsn column with it
        new = [
            f
            for f in self.batch.schema.fields
            if f.name not in known
            and f.name != DEL_LSN_COL
            and not f.name.startswith(ALSN_PREFIX)
        ]
        return new + [StructField(alsn_col(f.name), LongType(), True) for f in new]

    def bind(self, schema: StructType, key: str) -> None:
        self.schema = schema
        self.key = key
        self.cols = [
            f.name
            for f in schema.fields
            if f.name not in (key, LSN_COL, TOMBSTONE_COL, DEL_LSN_COL)
            and not f.name.startswith(ALSN_PREFIX)
        ]
        # resolve() projects each column's winner ONCE into _n_<c>
        # (value), _n_al_<c> (assertion lsn) and _n_del (watermark);
        # every later expression reads those plain attributes
        self.res = {c: (F.col(f"_n_{c}"), F.col(f"_n_al_{c}")) for c in self.cols}
        self.new_del = F.col("_n_del")
        alsns = [F.coalesce(self.res[c][1], F.lit(-1)) for c in self.cols]
        self.alive = _greatest(alsns) > F.lit(-1)
        self.row_lsn = _greatest([F.coalesce(self.new_del, F.lit(-1))] + alsns)
        changed = F.lit(False)
        for c in self.cols:
            changed = changed | ~self.res[c][1].eqNullSafe(F.col(f"_t_al_{c}"))
        self.changed = changed | ~self.new_del.eqNullSafe(F.col("_t_del"))
        self.t_alive_before = F.col("_t_key").isNotNull() & ~F.col("_t_tomb")
        self.in_batch = F.col("_s_key").isNotNull()

    def projections(self) -> tuple[list[Column], list[Column]]:
        w = self.batch.columns
        # batch side: null for table columns the batch does not carry
        s = [
            F.coalesce(F.col(DEL_LSN_COL), F.lit(None).cast("long")).alias("_s_del"),
            *[
                (F.col(c) if c in w else F.lit(None).cast(self.schema[c].dataType)).alias(
                    f"_s_{c}"
                )
                for c in self.cols
            ],
            *[
                (F.col(alsn_col(c)) if alsn_col(c) in w else F.lit(None).cast("long")).alias(
                    f"_s_al_{c}"
                )
                for c in self.cols
            ],
        ]
        t = [
            F.col(DEL_LSN_COL).alias("_t_del"),
            *[F.col(c).alias(f"_t_{c}") for c in self.cols],
            *[F.col(alsn_col(c)).alias(f"_t_al_{c}") for c in self.cols],
        ]
        return s, t

    def resolve(self, j: DataFrame) -> DataFrame:
        # Resolve each column's winner ONCE, ahead of the persist, so
        # every downstream consumer — data write, merge stats, field
        # lineage, row images, stats fallback — references plain
        # attributes instead of re-inlining the per-column CASE trees
        # (Catalyst's CollapseProject re-expands non-cheap expressions
        # per use site; at N payload columns × ~6 consumers that
        # multiplied analysis+codegen fixed cost per batch — measured
        # ~2× merge-time overhead vs whole-row merge on identical data
        # before this layering)
        del_m = F.greatest(
            F.coalesce(F.col("_t_del"), F.lit(-1)), F.coalesce(F.col("_s_del"), F.lit(-1))
        )

        def resolved(c):
            t_al, s_al_ = F.col(f"_t_al_{c}"), F.col(f"_s_al_{c}")
            t_live = t_al.isNotNull() & (t_al > del_m)
            s_live = s_al_.isNotNull() & (s_al_ > del_m)
            take_s = s_live & (~F.coalesce(t_live, F.lit(False)) | (s_al_ >= t_al))
            new_al = F.when(take_s, s_al_).when(t_live, t_al)
            new_v = (
                F.when(take_s, F.col(f"_s_{c}"))
                .when(t_live, F.col(f"_t_{c}"))
                .otherwise(F.lit(None).cast(self.schema[c].dataType))
            )
            return new_v, new_al

        res = {c: resolved(c) for c in self.cols}
        return j.select(
            "*",
            *[res[c][0].alias(f"_n_{c}") for c in self.cols],
            *[res[c][1].alias(f"_n_al_{c}") for c in self.cols],
            F.when(del_m >= 0, del_m).alias("_n_del"),
        )

    def stat_predicates(self) -> dict[str, Column]:
        # exhaustive + disjoint over in_batch rows: ~changed →
        # skipped_stale; changed × (alive_before, alive_after) → the
        # four outcome buckets (delete of an absent/tombstoned key that
        # advances the watermark counts as delete_noop, matching the
        # whole-row merge's semantics)
        in_batch, changed = self.in_batch, self.changed
        before, alive = self.t_alive_before, self.alive
        return {
            "batch_rows": in_batch,
            "inserted": in_batch & changed & ~before & alive,
            "updated": in_batch & changed & before & alive,
            "deleted": in_batch & changed & before & ~alive,
            "delete_noop": in_batch & changed & ~before & ~alive,
            "skipped_stale": in_batch & ~changed,
        }

    def written_columns(self) -> list[Column]:
        return [
            self.row_lsn.alias(LSN_COL),
            (~self.alive).alias(TOMBSTONE_COL),
            self.new_del.alias(DEL_LSN_COL),
            *[self.res[c][0].alias(c) for c in self.cols],
            *[self.res[c][1].alias(alsn_col(c)) for c in self.cols],
        ]

    def _log_str(self, col: Column, c: str) -> Column:
        # Atomic values cast (lossless both ways); container values are
        # JSON-encoded with to_json so EVERY container type — including
        # array<string>, whose plain cast renders unquoted elements —
        # round-trips exactly through from_json on the consumer side
        # (cdc/replicate._typed).
        if _is_container(self.schema[c].dataType):
            return F.to_json(col)
        return col.cast("string")

    def lineage(self, j: DataFrame, extra: dict[str, Any]) -> tuple[DataFrame, DataFrame]:
        """(field-level sink frame, row-level before/after images)."""
        key, res, new_del = self.key, self.res, self.new_del
        # --- field-level lineage: one LONG row per (key, column) whose
        # assertion lsn moved — 'set' (new winning assertion, its value
        # and lsn) or 'unset' (killed by the delete watermark, lsn = the
        # watermark).  Values ride as strings so heterogeneous payload
        # types share one sink, like the reference's JSON images.
        per_attr = []
        for c in self.cols:
            new_v, new_al = res[c]
            t_al = F.col(f"_t_al_{c}")
            per_attr.append(
                F.when(
                    ~new_al.eqNullSafe(t_al),
                    F.struct(
                        F.lit(c).alias("column"),
                        F.coalesce(new_al, new_del).alias("lsn"),
                        F.when(new_al.isNotNull(), F.lit("set"))
                        .otherwise(F.lit("unset"))
                        .alias("op_applied"),
                        F.when(t_al.isNotNull(), self._log_str(F.col(f"_t_{c}"), c)).alias(
                            "before_value"
                        ),
                        self._log_str(new_v, c).alias("after_value"),
                    ),
                )
            )
        attr_changes = (
            j.filter(self.in_batch)
            .select(
                F.coalesce(F.col("_t_key"), F.col("_s_key")).alias(key),
                F.explode(F.array_compact(F.array(*per_attr))).alias("_ch"),
            )
            .select(
                key,
                "_ch.column",
                "_ch.lsn",
                "_ch.op_applied",
                "_ch.before_value",
                "_ch.after_value",
            )
        )

        # --- row-level before/after images (same shape as the whole-row
        # change_log, BUCKET_COL included) so rollup maintenance is
        # mode-agnostic
        before, alive = self.t_alive_before, self.alive
        atomic_cols = [c for c in self.cols if not _is_container(self.schema[c].dataType)]
        row_op = (
            F.when(~self.changed, F.lit("skipped_stale"))
            .when(~before & alive, F.lit("insert"))
            .when(before & alive, F.lit("update"))
            .when(before & ~alive, F.lit("delete"))
            .otherwise(F.lit("delete_noop"))
        )
        row_images = j.filter(self.in_batch).select(
            F.coalesce(F.col("_t_key"), F.col("_s_key")).alias(key),
            BUCKET_COL,
            self.row_lsn.alias("lsn"),
            row_op.alias("op_applied"),
            *[F.when(before, F.col(f"_t_{c}")).alias(f"before_{c}") for c in atomic_cols],
            *[F.when(alive, res[c][0]).alias(f"after_{c}") for c in atomic_cols],
        )
        return attr_changes.withColumns({k: F.lit(v) for k, v in extra.items()}), row_images

