"""py4j round-trip budgets for the catalog request path.

Building a filter Column is driver work that never touches data; each
py4j call it makes is pure latency on an interactive request.
"""

from datetime import datetime, timezone

import pytest

from rehiver_spark.operators.partitions import PartitionField, PartitionSchema
from rehiver_spark.operators.timeparts import GRANULARITIES, TimePartitioner

DEBUG_FLAG = "spark.python.sql.dataFrameDebugging.enabled"


@pytest.mark.parametrize("granularity", GRANULARITIES)
def test_range_filter_budget(spark, py4j_calls, granularity):
    tp = TimePartitioner(granularity)
    start = datetime(2023, 12, 31, 22, tzinfo=timezone.utc)
    end = datetime(2024, 1, 2, 3, tzinfo=timezone.utc)
    tp.range_filter(start, end)  # first call may load JVM classes
    assert py4j_calls.calls(tp.range_filter, start, end) <= 5


def test_prune_filter_budget(spark, py4j_calls):
    keys = ("year", "month", "day", "hour")
    sch = PartitionSchema([PartitionField(k, "int") for k in keys])
    sch.prune_filter({"year": 2024})
    for n in range(1, len(keys) + 1):
        spec = {k: i + 1 for i, k in enumerate(keys[:n])}
        assert py4j_calls.calls(sch.prune_filter, spec) <= 3 * n, spec


def test_prune_filter_mixed_values_match_column_form(spark):
    """Int values go into the SQL expression; strings, floats and
    non-identifier names keep the ``col == lit`` form. Every spec,
    mixed or not, selects what the plain Column conjunction selects."""
    from functools import reduce

    from pyspark.sql import functions as F

    sch = PartitionSchema(
        [
            PartitionField("region"),
            PartitionField("year", "int"),
            PartitionField("score", "double"),
            PartitionField("odd-name"),
        ]
    )
    rows = [
        ("us-east", 2024, 0.5, "a"),
        ("o'hare", 2024, 0.5, "a"),
        ("us-east", 2023, 1.5, "b"),
        ("back\\slash", 2024, 0.5, "b"),
    ]
    df = spark.createDataFrame(rows, "region string, year int, score double, `odd-name` string")
    specs = [
        {},
        {"region": "us-east"},
        {"region": "o'hare", "year": 2024},
        {"region": "back\\slash"},
        {"year": 2024, "score": 0.5},
        {"odd-name": "b", "year": 2023},
    ]
    for spec in specs:
        want = reduce(
            lambda a, b: a & b,
            [F.col(f"`{k}`") == F.lit(v) for k, v in spec.items()],
            F.lit(True),
        )
        got = sorted(df.filter(sch.prune_filter(spec)).collect())
        assert got == sorted(df.filter(want).collect()), spec


def test_get_spark_disables_call_site_capture(spark):
    from rehiver_spark.session import get_spark

    assert get_spark().conf.get(DEBUG_FLAG) == "false"


def test_extra_conf_overrides_call_site_default(monkeypatch):
    """The flag is a static conf, so it only takes effect when
    ``get_spark`` creates the session: check the options it would
    create the session with."""
    from pyspark.sql import SparkSession

    from rehiver_spark.session import get_spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: dict(b._options))
    assert get_spark()[DEBUG_FLAG] == "false"
    assert get_spark(extra_conf={DEBUG_FLAG: "true"})[DEBUG_FLAG] == "true"
