"""Session-16 operators: per-type value percentiles, context-length
capacity sweep."""

from __future__ import annotations

import collections
import math

SF = "/root/testdata/sf0.001"


def _p_disc(xs, p):
    xs = sorted(xs)
    return xs[max(0, math.ceil(p * len(xs)) - 1)]


def test_value_percentiles_match_order_statistics(spark):
    from openreviewcrawler_spark.catalog import q_event_value_percentiles

    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    by_type = collections.defaultdict(list)
    for r in ev:
        by_type[r["event_type"]].append(r["value"])
    got = {r["event_type"]: r for r in q_event_value_percentiles(spark, SF).collect()}
    assert set(got) == set(by_type)
    for typ, xs in by_type.items():
        r = got[typ]
        assert r["n"] == len(xs)
        assert r["p50_value"] == _p_disc(xs, 0.5)
        assert r["p90_value"] == _p_disc(xs, 0.9)
        assert r["p99_value"] == _p_disc(xs, 0.99)
        assert r["max_value"] == max(xs)
