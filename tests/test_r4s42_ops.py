"""Session-42: as-of join operator + fee-schedule entry, interval join
entry."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_asof_join_generic_semantics(spark):
    from openreviewcrawler_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 5, 100), ("a", 10, 101), ("a", 2, 102), ("b", 7, 103), ("c", 9, 104)],
        "k string, ts_ms long, payload long",
    )
    right = spark.createDataFrame(
        [("a", 3, 30), ("a", 10, 40), ("b", 1, 50), ("b", 8, 60)],
        "k string, start_ms long, v long",
    )
    out = {
        (r["k"], r["ts_ms"]): (r["asof_ts"], r["v"])
        for r in asof_join(
            left, right, ["k"], "ts_ms", ["v"], right_ts_col="start_ms"
        ).collect()
    }
    assert out[("a", 5)] == (3, 30)       # latest at-or-before
    assert out[("a", 10)] == (10, 40)     # exact tie is inclusive
    assert out[("a", 2)] == (None, None)  # before first version
    assert out[("b", 7)] == (1, 50)       # skips the later version
    assert out[("c", 9)] == (None, None)  # key with no dimension rows
    assert len(out) == 5


def test_asof_join_rejects_non_integral_ts_on_either_side(spark):
    """A timestamp-typed ts column is rejected on the left as well as the
    right: compared against integer epoch-ms it would match through an
    implicit cast instead of failing."""
    import pytest

    from openreviewcrawler_spark.operators.asof import asof_join

    ints = spark.createDataFrame([("a", 5, 1)], "k string, ts long, v long")
    stamps = spark.createDataFrame(
        [("a", 1)], "k string, v2 long"
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    with pytest.raises(ValueError, match="left ts column 'ts'"):
        asof_join(stamps, ints, ["k"], "ts", ["v"])
    with pytest.raises(ValueError, match="right ts column 'ts'"):
        asof_join(ints.drop("v"), stamps, ["k"], "ts", ["v2"])


def test_fee_join_recomputes_via_python_asof(spark):
    from openreviewcrawler_spark.catalog import (
        _FEE_EPOCHS,
        q_event_asof_fee_join,
    )
    import bisect
    import collections
    import math
    from decimal import ROUND_HALF_UP, Decimal

    rows = {
        (r["event_type"], r["fee_bps"]): r
        for r in q_event_asof_fee_join(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    ts = [int(e["ts"].timestamp() * 1000) for e in ev]
    lo, hi = min(ts), max(ts)
    starts = [lo + k * ((hi - lo) // _FEE_EPOCHS) for k in range(_FEE_EPOCHS)]
    agg = collections.defaultdict(lambda: [0, 0, 0])
    for e, t in zip(ev, ts):
        k = bisect.bisect_right(starts, t) - 1
        assert k >= 0
        cents = int(
            math.floor(
                Decimal(e["value"]).quantize(
                    Decimal("0.0001"), rounding=ROUND_HALF_UP
                )
                * 100
            )
        )
        a = agg[(e["event_type"], (k + 1) * 25)]
        a[0] += 1
        a[1] += cents
        a[2] += cents * ((k + 1) * 25) // 10000
    assert set(rows) == set(agg)
    for key, (n, vc, fc) in agg.items():
        r = rows[key]
        assert (r["n_events"], r["value_cents"], r["fee_cents"]) == (n, vc, fc)
    # all four epochs carry traffic for at least one type
    assert len({bps for _, bps in rows}) == _FEE_EPOCHS


def test_maintenance_windows_partition_their_spans(spark):
    from openreviewcrawler_spark.catalog import (
        _MAINT_WINDOWS,
        q_event_maintenance_window_impact,
    )

    rows = {r["window_id"]: r for r in q_event_maintenance_window_impact(spark, SF).collect()}
    assert set(rows) <= set(range(_MAINT_WINDOWS))
    assert rows  # some window catches traffic
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    ts = [int(e["ts"].timestamp() * 1000) for e in ev]
    lo, hi = min(ts), max(ts)
    for wid, r in rows.items():
        start = lo + wid * ((hi - lo) // _MAINT_WINDOWS)
        assert r["start_ms"] == start
        assert r["end_ms"] == start + (hi - lo) // 20
        n = sum(1 for t in ts if start <= t < r["end_ms"])
        assert r["n_events"] == n
        assert 0 < r["n_users"] <= r["n_events"]
    # ~10% duty cycle catches ~10% of traffic
    caught = sum(r["n_events"] for r in rows.values())
    assert 0 < caught < len(ts) // 2
