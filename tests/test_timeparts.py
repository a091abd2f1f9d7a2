"""TimePartitioner tests — mirror reference tests/index.test.ts:1048-1304."""

from datetime import datetime

from rehiver_spark.operators.timeparts import TimePartitioner


def test_daily_hive():
    tp = TimePartitioner("daily")
    assert tp.path_for(datetime(2023, 1, 1)) == "year=2023/month=01/day=01"


def test_daily_plain_prefix():
    tp = TimePartitioner("daily", fmt="path", prefix="data")
    assert tp.path_for(datetime(2023, 2, 5)) == "data/2023/02/05"


def test_hourly_implies_hour():
    tp = TimePartitioner("hourly")
    assert tp.include_hour
    assert tp.path_for(datetime(2023, 1, 1, 7)) == "year=2023/month=01/day=01/hour=07"


def test_minute_implies_hour():
    tp = TimePartitioner("daily", include_minute=True)
    assert tp.include_hour
    assert (
        tp.path_for(datetime(2023, 1, 1, 7, 30))
        == "year=2023/month=01/day=01/hour=07/minute=30"
    )


def test_monthly_yearly():
    assert TimePartitioner("monthly").path_for(datetime(2023, 12, 25)) == "year=2023/month=12"
    assert TimePartitioner("yearly").path_for(datetime(2023, 12, 25)) == "year=2023"


def test_range_daily():
    tp = TimePartitioner("daily")
    got = tp.range_paths(datetime(2023, 1, 30), datetime(2023, 2, 2))
    assert got == [
        "year=2023/month=01/day=30",
        "year=2023/month=01/day=31",
        "year=2023/month=02/day=01",
        "year=2023/month=02/day=02",
    ]


def test_range_single_day():
    tp = TimePartitioner("daily")
    got = tp.range_paths(datetime(2023, 5, 5, 3), datetime(2023, 5, 5, 22))
    assert got == ["year=2023/month=05/day=05"]


def test_range_monthly_calendar_aware():
    tp = TimePartitioner("monthly")
    got = tp.range_paths(datetime(2023, 11, 15), datetime(2024, 2, 1))
    assert got == [
        "year=2023/month=11",
        "year=2023/month=12",
        "year=2024/month=01",
        "year=2024/month=02",
    ]


def test_range_hourly():
    tp = TimePartitioner("hourly")
    got = tp.range_paths(datetime(2023, 1, 1, 22, 30), datetime(2023, 1, 2, 1))
    assert got == [
        "year=2023/month=01/day=01/hour=22",
        "year=2023/month=01/day=01/hour=23",
        "year=2023/month=01/day=02/hour=00",
        "year=2023/month=01/day=02/hour=01",
    ]


def test_path_col(spark):
    tp = TimePartitioner("hourly", prefix="events")
    df = spark.createDataFrame([(datetime(2024, 1, 15, 9, 5),)], ["ts"])
    got = df.select(tp.path_col("ts").alias("p")).first()["p"]
    assert got == "events/year=2024/month=01/day=15/hour=09"


def test_paths_df_matches_driver(spark):
    tp = TimePartitioner("daily")
    start, end = datetime(2023, 1, 30), datetime(2023, 2, 2)
    dist = [r["path"] for r in tp.paths_df(spark, start, end).orderBy("ts").collect()]
    assert dist == tp.range_paths(start, end)


def test_range_filter_prunes(spark, tmp_path):
    # write events hive-partitioned, read with range filter, verify rows
    from pyspark.sql import functions as F

    from rehiver_spark.operators.timeparts import TimePartitioner
    from rehiver_spark.session import read_events

    ev = read_events(spark, "/root/testdata/sf0.001")
    out = str(tmp_path / "ev")
    (
        ev.withColumn("year", F.year("ts"))
        .withColumn("month", F.month("ts"))
        .withColumn("day", F.dayofmonth("ts"))
        .write.partitionBy("year", "month", "day")
        .parquet(out)
    )
    tp = TimePartitioner("daily")
    start, end = datetime(2024, 1, 3), datetime(2024, 1, 5)
    got = spark.read.parquet(out).filter(tp.range_filter(start, end)).count()
    want = ev.filter((F.to_date("ts") >= "2024-01-03") & (F.to_date("ts") <= "2024-01-05")).count()
    assert got == want and got > 0
    # the filter must actually prune partitions in the plan: a
    # non-empty PartitionFilters list naming the partition columns
    # (read off the scan node — the plan string truncates it)
    df = spark.read.parquet(out).filter(tp.range_filter(start, end))
    part = _scan_node(df._jdf.queryExecution().executedPlan()).partitionFilters().toString()
    assert part != "List()", part
    assert all(k in part for k in ("year", "month", "day")), part


def _scan_node(plan):
    """The file scan under a (possibly adaptive) single-scan plan."""
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.collectLeaves().apply(0)


def test_path_col_non_utc_parity(spark):
    # round-1 audit fix: Column path must agree with driver path_for
    # for non-UTC timezones (was to_utc_timestamp — inverted direction)
    from datetime import datetime, timezone

    from rehiver_spark.operators.timeparts import TimePartitioner

    for tz in ("America/New_York", "Asia/Tokyo"):
        tp = TimePartitioner(granularity="hourly", timezone=tz)
        dts = [
            datetime(2024, 1, 15, 2, 0, tzinfo=timezone.utc),
            datetime(2024, 7, 1, 23, 30, tzinfo=timezone.utc),  # DST side
        ]
        expected = [tp.path_for(d) for d in dts]
        df = spark.createDataFrame(
            [(d.replace(tzinfo=None),) for d in dts], "ts timestamp"
        )
        got = [r[0] for r in df.select(tp.path_col("ts")).collect()]
        assert got == expected, tz


def test_paths_df_agrees_with_range_paths_non_utc(spark):
    """A NAIVE endpoint means target-timezone wall time in BOTH the
    driver and the distributed API — paths_df used to read it as a UTC
    instant and emit every path one tz-offset off range_paths."""
    from datetime import datetime, timezone

    from rehiver_spark.operators.timeparts import TimePartitioner

    tp = TimePartitioner("hourly", timezone="America/New_York")
    start, end = datetime(2024, 1, 1, 0), datetime(2024, 1, 1, 2)
    want = tp.range_paths(start, end)
    got = [r["path"] for r in tp.paths_df(spark, start, end).orderBy("ts").collect()]
    assert got == want
    assert want[0].endswith("hour=00")  # wall time, not shifted to 2023-12-31/19

    # aware endpoints convert — both APIs agree there too
    aware = datetime(2024, 1, 1, 5, tzinfo=timezone.utc)  # = midnight NY
    aware_end = datetime(2024, 1, 1, 7, tzinfo=timezone.utc)
    assert [
        r["path"] for r in tp.paths_df(spark, aware, aware_end).orderBy("ts").collect()
    ] == tp.range_paths(aware, aware_end)


# ----------------------------------------------------------------------
# range_filter ≡ pure-Python tuple range; timezone handling; pushdown
# ----------------------------------------------------------------------
_KEYS = ("year", "month", "day", "hour")


def _hour_grid(spark, start: datetime, hours: int):
    """One row per wall-clock hour: (year, month, day, hour) ints."""
    from datetime import timedelta

    rows = [
        (d.year, d.month, d.day, d.hour)
        for d in (start + timedelta(hours=i) for i in range(hours))
    ]
    return rows, spark.createDataFrame(
        rows, "year int, month int, day int, hour int"
    ).cache()


def _selected(df, conds: list) -> list[list[tuple]]:
    """Rows each predicate keeps — all predicates in one job. A
    predicate that yields NULL on a row fails the test, not the row."""
    got = df.select(*_KEYS, *[c.alias(f"c{i}") for i, c in enumerate(conds)]).collect()
    out = []
    for i in range(len(conds)):
        assert all(r[f"c{i}"] is not None for r in got)
        out.append(sorted(tuple(r[k] for k in _KEYS) for r in got if r[f"c{i}"]))
    return out


def test_range_filter_equals_tuple_range_oracle(spark):
    """Every granularity over an hourly grid that crosses a year
    boundary, month ends and Feb 29, against a lexicographic tuple
    range on the driver — including lo == hi and lo > hi (empty)."""
    import random

    rows, df = _hour_grid(spark, datetime(2023, 12, 28), 24 * 70)
    rng = random.Random(11)
    windows = [
        (datetime(2023, 12, 31, 23), datetime(2024, 1, 1, 0)),  # year edge
        (datetime(2024, 1, 31, 22, 15), datetime(2024, 2, 1, 1)),  # month end
        (datetime(2024, 2, 28, 5), datetime(2024, 3, 1, 2)),  # leap day
        (datetime(2024, 1, 15, 7, 40), datetime(2024, 1, 15, 7, 5)),  # lo == hi bucket
        (datetime(2024, 1, 15, 7), datetime(2024, 1, 15, 7)),  # lo == hi instant
        (datetime(2024, 2, 3, 4), datetime(2024, 1, 9, 6)),  # lo > hi
        (datetime(2023, 12, 1), datetime(2024, 12, 31, 23)),  # whole grid
    ]
    for _ in range(6):
        a, b = (
            datetime(2023, 12, 28) + rng.random() * (datetime(2024, 3, 8) - datetime(2023, 12, 28))
            for _ in range(2)
        )
        windows.append((a, b))
    cases, conds = [], []
    for g in ("hourly", "daily", "monthly", "yearly"):
        tp = TimePartitioner(g)
        n = len([k for k, _ in tp._components() if k != "minute"])
        for lo, hi in windows:
            lo_t = tuple(getattr(tp._truncate(lo), k) for k in _KEYS[:n])
            hi_t = tuple(getattr(tp._truncate(hi), k) for k in _KEYS[:n])
            want = sorted(r for r in rows if lo_t <= r[:n] <= hi_t)
            assert want or lo_t > hi_t  # only inverted windows are empty
            cases.append((g, lo, hi, want))
            conds.append(tp.range_filter(lo, hi))
    for (g, lo, hi, want), got in zip(cases, _selected(df, conds)):
        assert got == want, (g, lo, hi)
    df.unpersist()


def test_range_filter_honors_timezone_for_aware_endpoints(spark):
    """Aware endpoints are converted to the partitioner's zone, so the
    filter keeps exactly the partitions :meth:`range_paths` lists;
    naive endpoints are target wall time, unconverted."""
    from datetime import timezone

    rows, df = _hour_grid(spark, datetime(2024, 3, 8), 24 * 5)  # spans US DST start
    start = datetime(2024, 3, 9, 0, tzinfo=timezone.utc)
    end = datetime(2024, 3, 10, 12, tzinfo=timezone.utc)
    naive_start, naive_end = datetime(2024, 3, 9, 0), datetime(2024, 3, 10, 12)
    cases, conds = [], []
    for tz in ("Asia/Tokyo", "America/New_York"):
        for g in ("hourly", "daily"):
            tp = TimePartitioner(g, timezone=tz)
            n = len(tp._components())
            for lo, hi in ((start, end), (naive_start, naive_end)):
                paths = set(tp.range_paths(lo, hi))
                want = sorted(
                    r
                    for r in rows
                    if "/".join(f"{k}={v:02d}" for k, v in zip(_KEYS[:n], r[:n])) in paths
                )
                cases.append((tz, g, lo, want))
                conds.append(tp.range_filter(lo, hi))
    for (tz, g, lo, want), got in zip(cases, _selected(df, conds)):
        assert got == want and got, (tz, g, lo)
    # the reported case: UTC midnight is 09:00 in Tokyo
    tokyo = TimePartitioner("hourly", timezone="Asia/Tokyo")
    [hit] = _selected(df, [tokyo.range_filter(start, start)])
    assert hit == [(2024, 3, 9, 9)] and tokyo.range_paths(start, start)[0].endswith("hour=09")
    df.unpersist()


def test_range_filter_pushes_down_and_skips_row_groups(spark, tmp_path):
    """On a flat (non-partitioned) time-sorted Parquet file the
    predicate reaches the scan as PushedFilters and row-group
    statistics skip most of the file for a narrow window."""
    from datetime import timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0, n = datetime(2024, 1, 1), 40960
    ts = [t0 + timedelta(minutes=5 * i) for i in range(n)]
    table = pa.table({
        "id": list(range(n)),
        **{k: pa.array([getattr(t, k) for t in ts], pa.int32()) for k in _KEYS},
    })
    path = str(tmp_path / "flat.parquet")
    pq.write_table(table, path, row_group_size=4096)

    tp = TimePartitioner("hourly")
    lo, hi = datetime(2024, 2, 10, 3), datetime(2024, 2, 10, 5)
    df = spark.read.parquet(path).filter(tp.range_filter(lo, hi))
    assert df.count() == 3 * 12
    qe = df._jdf.queryExecution()
    pushed = _scan_node(qe.executedPlan()).toString().split("PushedFilters: ")[1]
    assert not pushed.startswith("[]") and "year" in pushed.splitlines()[0], pushed

    df.collect()
    read = _scan_node(qe.executedPlan()).metrics().apply("numOutputRows").value()
    assert 0 < read <= 2 * 4096 < n, read


def test_range_paths_aware_endpoints_bucket_in_target_zone():
    """Aware endpoints truncate in the partitioner's zone: the range
    runs from ``path_for(start)`` to ``path_for(end)``."""
    from datetime import timezone

    tp = TimePartitioner("daily", timezone="America/New_York")
    start = datetime(2024, 3, 9, 0, tzinfo=timezone.utc)  # NY 03-08 19:00
    end = datetime(2024, 3, 10, 12, tzinfo=timezone.utc)  # NY 03-10 08:00
    assert tp.range_paths(start, end) == [
        "year=2024/month=03/day=08",
        "year=2024/month=03/day=09",
        "year=2024/month=03/day=10",
    ]
