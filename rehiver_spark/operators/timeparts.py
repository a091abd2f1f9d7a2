"""Time-partition path generation (hourly/daily/monthly/yearly).

Re-expresses the reference's TimePartitionGenerator
(src/index.ts:1799-1980) three ways:

- driver-side ``path_for``/``range_paths``/``current_path`` (API parity);
- a Column projection ``path_col(ts)`` (``date_format``/``concat_ws``,
  codegen'd) for stamping billions of rows;
- ``paths_df``/``range_filter`` for the scale path: a distributed
  ``sequence()+explode`` path series and a **pruning filter** on
  partition columns so a ranged read prunes directories instead of
  listing them (SURVEY §7 step 3).

Divergences (documented per SURVEY §7): explicit ``timezone`` param
(UTC default) instead of the reference's platform-local JS Date
(src/index.ts:1870-1875); the reference's inert ``dateFormat`` option
(never consulted, src/index.ts:1815-1821) is not reproduced.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta
from zoneinfo import ZoneInfo

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

GRANULARITIES = ("hourly", "daily", "monthly", "yearly")


@dataclass
class TimePartitioner:
    granularity: str = "daily"
    fmt: str = "hive"  # 'hive' → year=2023/month=01 ; 'path' → 2023/01
    prefix: str | None = None
    include_hour: bool = False
    include_minute: bool = False
    timezone: str = "UTC"

    def __post_init__(self):
        if self.granularity not in GRANULARITIES:
            raise ValueError(f"granularity must be one of {GRANULARITIES}")
        # coercion rules (reference ctor, src/index.ts:1834-1862):
        # hourly ⇒ includeHour; includeMinute ⇒ includeHour
        if self.granularity == "hourly" or self.include_minute:
            self.include_hour = True

    # ------------------------------------------------------------------
    def _components(self) -> list[tuple[str, str]]:
        """(key, strftime directive) pairs in path order, zero-padded
        (reference hardcoded formats, src/index.ts:1869-1936)."""
        comps = [("year", "%Y")]
        if self.granularity in ("monthly", "daily", "hourly"):
            comps.append(("month", "%m"))
        if self.granularity in ("daily", "hourly"):
            comps.append(("day", "%d"))
        if self.include_hour:
            comps.append(("hour", "%H"))
        if self.include_minute:
            comps.append(("minute", "%M"))
        return comps

    def path_for(self, dt: datetime) -> str:
        if dt.tzinfo is not None:
            dt = dt.astimezone(ZoneInfo(self.timezone))
        parts = []
        for key, fmt in self._components():
            v = dt.strftime(fmt)
            parts.append(f"{key}={v}" if self.fmt == "hive" else v)
        path = "/".join(parts)
        return f"{self.prefix}/{path}" if self.prefix else path

    def current_path(self) -> str:
        """Path for now() (reference generateCurrentPath,
        src/index.ts:1977-1979)."""
        return self.path_for(datetime.now(ZoneInfo(self.timezone)))

    def _step(self, dt: datetime) -> datetime:
        """Calendar-aware stepping (reference src/index.ts:1944-1971)."""
        if self.granularity == "hourly":
            return dt + timedelta(hours=1)
        if self.granularity == "daily":
            return dt + timedelta(days=1)
        if self.granularity == "monthly":
            y, m = dt.year + (dt.month // 12), dt.month % 12 + 1
            return dt.replace(year=y, month=m, day=1)
        return dt.replace(year=dt.year + 1, month=1, day=1)

    def _truncate(self, dt: datetime) -> datetime:
        if self.granularity == "hourly":
            return dt.replace(minute=0, second=0, microsecond=0)
        if self.granularity == "daily":
            return dt.replace(hour=0, minute=0, second=0, microsecond=0)
        if self.granularity == "monthly":
            return dt.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
        return dt.replace(month=1, day=1, hour=0, minute=0, second=0, microsecond=0)

    def range_paths(self, start: datetime, end: datetime) -> list[str]:
        """Inclusive range → one path per step
        (reference generatePathsForRange, src/index.ts:1944-1971).

        Endpoints are normalized to target-timezone wall time BEFORE
        truncating (like :meth:`paths_df`), so buckets follow the
        target zone's calendar and the range runs from
        ``path_for(start)`` to ``path_for(end)``."""
        out = []
        cur = self._truncate(self._wall(start))
        end_t = self._truncate(self._wall(end))
        while cur <= end_t:
            out.append(self.path_for(cur))
            cur = self._step(cur)
        return out

    # ------------------------- Column-side ----------------------------
    _SPARK_FMT = {"year": "yyyy", "month": "MM", "day": "dd", "hour": "HH", "minute": "mm"}

    def path_col(self, ts: Column | str, wall: bool = False) -> Column:
        """Path projection from a timestamp column — pure
        ``date_format``/``concat``; stays in whole-stage codegen.

        ``wall=True`` means the column already HOLDS target-timezone
        wall time (as :meth:`paths_df`'s generated sequence does) and
        must not be shifted again."""
        c = F.col(ts) if isinstance(ts, str) else ts
        # session tz is UTC, so the stored instant renders as UTC wall
        # time; from_utc_timestamp converts it to the target wall clock
        # (mirrors path_for's dt.astimezone).
        if not wall:
            c = F.from_utc_timestamp(c, self.timezone) if self.timezone != "UTC" else c
        parts = []
        for key, _ in self._components():
            v = F.date_format(c, self._SPARK_FMT[key])
            parts.append(F.concat(F.lit(f"{key}="), v) if self.fmt == "hive" else v)
        path = F.concat_ws("/", *parts)
        if self.prefix:
            path = F.concat(F.lit(self.prefix + "/"), path)
        return path

    def _wall(self, dt: datetime) -> datetime:
        """Normalize an endpoint to NAIVE target-timezone wall time —
        the same rule :meth:`path_for` applies (naive = already target
        wall time; aware = convert), so the driver and Column range
        APIs can never disagree by the tz offset."""
        if dt.tzinfo is not None:
            return dt.astimezone(ZoneInfo(self.timezone)).replace(tzinfo=None)
        return dt

    def paths_df(self, spark: SparkSession, start: datetime, end: datetime) -> DataFrame:
        """Distributed path series: ``sequence(start, end, interval)`` +
        ``explode`` — never materializes the range on the driver
        (SURVEY §2 R9). Columns: ``ts TIMESTAMP, path STRING``.

        The whole sequence is generated IN target-timezone wall time
        (endpoints normalized like :meth:`path_for`; no per-row
        from_utc_timestamp afterwards): a naive endpoint used to be
        read as a UTC instant and then shifted, putting every emitted
        path one tz-offset off the driver APIs, and stepping wall time
        also keeps calendar steps aligned across DST the way
        :meth:`range_paths` does."""
        interval = {
            "hourly": "interval 1 hour",
            "daily": "interval 1 day",
            "monthly": "interval 1 month",
            "yearly": "interval 1 year",
        }[self.granularity]
        df = spark.range(1).select(
            F.explode(
                F.sequence(
                    F.lit(self._truncate(self._wall(start))),
                    F.lit(self._truncate(self._wall(end))),
                    F.expr(interval),
                )
            ).alias("ts")
        )
        return df.select("ts", self.path_col("ts", wall=True).alias("path"))

    def range_filter(self, start: datetime, end: datetime) -> Column:
        """Pruning predicate on hive partition columns (year/month/...)
        for an inclusive range — Catalyst turns this into directory
        pruning on partitioned scans and Parquet row-group skipping on
        flat files. Endpoints are normalized like :meth:`range_paths`
        (aware → target-timezone wall time), so the filter selects
        exactly the partitions that method lists.

        The lexicographic tuple bounds are built in the O(k) nested form
        ``y > lo_y OR (y = lo_y AND (m > lo_m OR (m = lo_m AND ...)))``
        as ONE ``F.expr`` over ints: each Column call is a py4j
        round-trip, so an hourly window built from Columns costs
        hundreds of them (~0.1–0.2 s); the expression costs 3."""
        comps = [k for k, _ in self._components() if k != "minute"]
        lo = self._truncate(self._wall(start))
        hi = self._truncate(self._wall(end))

        def bound(dt: datetime, op: str) -> str:
            # ``op`` is the strict comparison; the last component
            # closes the range with its inclusive form (``>=``/``<=``)
            vals = [int(getattr(dt, k)) for k in comps]
            expr = f"`{comps[-1]}` {op}= {vals[-1]}"
            for k, v in zip(reversed(comps[:-1]), reversed(vals[:-1])):
                expr = f"`{k}` {op} {v} OR (`{k}` = {v} AND ({expr}))"
            return f"({expr})"

        return F.expr(f"{bound(lo, '>')} AND {bound(hi, '<')}")
