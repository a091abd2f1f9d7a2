"""Change detection: snapshot diff as a full-outer join.

Re-expresses the reference's ChangeDetectionEngine
(src/index.ts:384-606) — driver-memory ``Map`` diff + JSON state file —
as a distributed snapshot join with a Parquet-versioned state store:

    current FULL OUTER JOIN previous ON key
    → CASE WHEN prev IS NULL            THEN 'added'
           WHEN cur  IS NULL            THEN 'deleted'
           WHEN changed(mode)           THEN 'modified'
           ELSE 'unchanged'

Modes (reference hasObjectChanged, src/index.ts:499-522):
- ``quick``             size OR mtime differ
- ``full``              size OR etag OR mtime differ
- ``ignore_etag_on_size`` if sizes equal → mtime only, else size/mtime

Scale posture: the join hash-partitions both snapshots on ``key`` — no
driver state. With a BUCKETED state store (``n_buckets``, r13) the
previous side is already partitioned on disk and the join plans with
zero Exchange on the state side; only the fresh listing shuffles,
paid once per commit instead of once per detect. The state store is a
versioned Parquet directory (atomic pointer file), replacing the
reference's single JSON file (src/index.ts:444-459) which cannot
exceed driver memory.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rehiver_spark.sources.writer import write_bucketed

CHANGE_TYPES = ("added", "modified", "deleted", "unchanged")
MODES = ("quick", "full", "ignore_etag_on_size")


def normalize_s3_object(df: DataFrame) -> DataFrame:
    """Normalize raw SDK-shaped rows (reference fromS3Object,
    src/index.ts:484-491): strip etag quotes, default size 0,
    missing last_modified → current timestamp."""
    return df.select(
        F.col("key"),
        F.coalesce(F.col("size"), F.lit(0)).alias("size"),
        F.regexp_replace(F.col("etag"), '"', "").alias("etag"),
        F.coalesce(F.col("last_modified"), F.current_timestamp()).alias("last_modified"),
        *([F.col("content_type")] if "content_type" in df.columns else []),
    )


def changed_predicate(mode: str = "full") -> Column:
    """Mode-parameterized 'has changed' predicate over the joined row
    (columns: size/etag/last_modified vs prev_*)."""
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}")
    size_diff = ~F.col("size").eqNullSafe(F.col("prev_size"))
    mtime_diff = ~F.col("last_modified").eqNullSafe(F.col("prev_last_modified"))
    etag_diff = ~F.col("etag").eqNullSafe(F.col("prev_etag"))
    if mode == "quick":
        return size_diff | mtime_diff
    if mode == "full":
        return size_diff | etag_diff | mtime_diff
    # ignore_etag_on_size: if sizes equal, compare mtime only
    return F.when(F.col("size").eqNullSafe(F.col("prev_size")), mtime_diff).otherwise(
        size_diff | mtime_diff
    )


def detect_changes(
    current: DataFrame,
    previous: DataFrame,
    mode: str = "full",
    track_deleted: bool = True,
) -> DataFrame:
    """Snapshot diff (reference detectChanges, src/index.ts:528-571).

    Output: key, change_type, size/etag/last_modified (current; previous
    for deleted rows), prev_size/prev_etag/prev_last_modified (F2 shape).
    """
    # explicit join-side presence flags: a row whose metadata columns are
    # all legitimately NULL (e.g. etag from from_file_scan) must not be
    # misclassified — presence is a fact about the join, not the values
    cur = current.select(
        "key", "size", "etag", "last_modified", F.lit(True).alias("_in_cur")
    )
    prev = previous.select(
        F.col("key"),
        F.col("size").alias("prev_size"),
        F.col("etag").alias("prev_etag"),
        F.col("last_modified").alias("prev_last_modified"),
        F.lit(True).alias("_in_prev"),
    )
    j = cur.join(prev, "key", "full_outer")
    change_type = (
        F.when(F.col("_in_prev").isNull(), "added")
        .when(F.col("_in_cur").isNull(), "deleted")
        .when(changed_predicate(mode), "modified")
        .otherwise("unchanged")
    )
    out = j.withColumn("change_type", change_type)
    if not track_deleted:
        out = out.filter(F.col("change_type") != "deleted")
    return out.select(
        "key",
        "change_type",
        # deleted rows surface the previous version as current (reference
        # emits the previous object for deletions, src/index.ts:556-566)
        F.coalesce(F.col("size"), F.col("prev_size")).alias("size"),
        F.coalesce(F.col("etag"), F.col("prev_etag")).alias("etag"),
        F.coalesce(F.col("last_modified"), F.col("prev_last_modified")).alias("last_modified"),
        "prev_size",
        "prev_etag",
        "prev_last_modified",
    )


def filter_changes(changes: DataFrame, types: list[str]) -> DataFrame:
    """reference filterChangesByType (src/index.ts:579-584)."""
    return changes.filter(F.col("change_type").isin(types))


class SnapshotStore:
    """Versioned Parquet snapshot state (replaces the JSON state file,
    src/index.ts:412-459). Layout::

        state_dir/_latest.json        -> {"version": N, ...}
        state_dir/v{N}/*.parquet      -> snapshot N

    Writes are atomic: data lands in a new version dir first, then the
    pointer file is swapped. Works on any Hadoop-visible FS; local FS
    here.

    ``n_buckets`` (r13, the X28 bucketed-index pattern applied to
    change detection): when set, versions are written as EXTERNAL
    bucketed tables ``CLUSTERED BY (key) SORTED BY (key)`` — the diff
    join in :func:`detect_changes` then reads the previous snapshot
    pre-partitioned on the join key, so the full-outer join pays ZERO
    Exchange on the state side (plan-tested); only the fresh listing
    shuffles. At an 80M-row catalog the state-side exchange was the
    dominant cost of every detect (BASELINE.md r12: 16-22 s/query at
    sf10) and it repeats every run — bucketing moves that shuffle into
    the once-per-commit write, exactly like a production state store.
    Bucket metadata lives in the session catalog (a Spark constraint:
    plain ``.parquet(path)`` reads ignore bucket files' layout), so
    ``load`` re-registers the table from the pointer metadata when the
    session is new — the files themselves are plain Parquet either way.
    """

    def __init__(
        self, spark: SparkSession, state_dir: str, n_buckets: int | None = None
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.n_buckets = n_buckets
        os.makedirs(state_dir, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.state_dir, "_latest.json")

    def _meta(self) -> dict | None:
        try:
            with open(self._pointer) as f:
                meta = json.load(f)
            meta["version"]  # KeyError → corrupt
            return meta
        except (FileNotFoundError, json.JSONDecodeError, KeyError):
            return None  # missing/corrupt state → empty (reference :429-438)

    def latest_version(self) -> int | None:
        meta = self._meta()
        return None if meta is None else meta["version"]

    def _table_name(self, v: int) -> str:
        import hashlib

        tag = hashlib.md5(os.path.abspath(self.state_dir).encode()).hexdigest()[:10]
        return f"rehiver_snap_{tag}_v{v}"

    def load(self) -> DataFrame | None:
        """Previous snapshot, or None when no state exists. Bucketed
        versions come back through the catalog table so the scan keeps
        its ``HashPartitioning(key)`` — re-registered from the pointer
        metadata if this session has never seen it."""
        meta = self._meta()
        if meta is None:
            return None
        v = meta["version"]
        path = os.path.join(self.state_dir, f"v{v}")
        n = meta.get("n_buckets")
        if not n:
            return self.spark.read.parquet(path)
        table = meta.get("table") or self._table_name(v)
        if not self.spark.catalog.tableExists(table):
            # external bucketed table over the existing bucket files —
            # schema from the files themselves, so it can never drift
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in self.spark.read.parquet(path).schema.fields
            )
            self.spark.sql(
                f"CREATE TABLE {table} ({cols}) USING PARQUET "
                f"CLUSTERED BY (key) SORTED BY (key) INTO {n} BUCKETS "
                f"LOCATION '{path}'"
            )
        return self.spark.table(table)

    def save(self, snapshot: DataFrame) -> int:
        """Write a new snapshot version and swap the pointer (reference
        saveCurrentState, src/index.ts:444-459, made atomic/versioned)."""
        v = (self.latest_version() or 0) + 1
        path = os.path.join(self.state_dir, f"v{v}")
        meta: dict = {"version": v}
        if self.n_buckets:
            table = self._table_name(v)
            self.spark.sql(f"DROP TABLE IF EXISTS {table}")
            # one sorted file per bucket (write_bucketed repartitions
            # first): FileSourceScanExec only reports its sortBy order
            # with single-file buckets, and that ordering is what lets
            # the detect-side SMJ skip the state-side Sort entirely
            # (measured sf10: r10 17.9 -> 12.1 s)
            write_bucketed(
                snapshot, table, ["key"], self.n_buckets, sort_cols=["key"], path=path
            )
            meta.update({"n_buckets": self.n_buckets, "table": table})
        else:
            snapshot.write.mode("overwrite").parquet(path)
        tmp = self._pointer + f".tmp.{time.monotonic_ns()}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._pointer)
        return v

    def reset(self) -> None:
        """Drop state pointer (reference resetAllState, src/index.ts:597-606)."""
        try:
            os.remove(self._pointer)
        except FileNotFoundError:
            pass


class ChangeDetector:
    """Facade with reference API parity (Rehiver.changeDetector,
    src/index.ts:2265-2267): accumulate a current snapshot, diff against
    stored previous, commit current → previous."""

    #: after this many incremental adds, the accumulated union is
    #: lineage-truncated via localCheckpoint — an unbounded unionByName
    #: chain grows the logical plan linearly and analysis cost
    #: quadratically under many adds
    CHECKPOINT_EVERY = 50

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        mode: str = "full",
        n_buckets: int | None = None,
    ):
        # ``mode`` is the construction-time default compare mode —
        # reference parity (ChangeDetectionEngine's compareMode config,
        # src/index.ts:499-522, examples/change-detection.ts);
        # detect(mode=...) still overrides per call. ``n_buckets``
        # passes through to the bucketed SnapshotStore (r13).
        self.mode = mode
        self.spark = spark
        self.store = SnapshotStore(spark, state_dir, n_buckets=n_buckets)
        self._parts: list[DataFrame] = []

    def add_objects(self, df: DataFrame) -> None:
        """Upsert rows into the current snapshot (reference addObjects,
        src/index.ts:471-477; last-wins per key applied at detect time).
        Parts union lazily at detect/commit; lineage is checkpointed
        every CHECKPOINT_EVERY adds."""
        self._parts.append(df)
        if len(self._parts) >= self.CHECKPOINT_EVERY:
            self._parts = [self._union().localCheckpoint(eager=False)]

    def _union(self) -> DataFrame:
        if not self._parts:
            raise ValueError("no current snapshot; call add_objects first")
        out = self._parts[0]
        for d in self._parts[1:]:
            out = out.unionByName(d)
        return out

    def _current_dedup(self) -> DataFrame:
        from rehiver_spark.sources.catalog import dedup_catalog

        return dedup_catalog(self._union())

    def detect(self, mode: str | None = None, track_deleted: bool = True) -> DataFrame:
        prev = self.store.load()
        cur = self._current_dedup()
        if prev is None:
            prev = self.spark.createDataFrame([], cur.schema)
        return detect_changes(
            cur, prev, mode=mode or self.mode, track_deleted=track_deleted
        )

    def commit(self) -> int:
        """Promote current → previous (reference commitChanges,
        src/index.ts:589-591) by persisting a new snapshot version."""
        return self.store.save(self._current_dedup())

    def reset_current(self) -> None:
        self._parts = []
