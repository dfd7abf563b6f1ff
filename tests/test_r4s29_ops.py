"""Session-29 operators: conversion-lag histogram, shard checksums."""

from __future__ import annotations

import collections

SF = "/root/testdata/sf0.001"


def test_conversion_lag_matches_model(spark):
    from openreviewcrawler_spark.catalog import (
        _events_ms,
        q_event_conversion_lag_histogram,
    )

    rows = _events_ms(spark, SF).collect()
    fv, fp = {}, {}
    for r in rows:
        if r["event_type"] == "view":
            fv[r["user_id"]] = min(fv.get(r["user_id"], r["ts_ms"]), r["ts_ms"])
        elif r["event_type"] == "purchase":
            fp[r["user_id"]] = min(fp.get(r["user_id"], r["ts_ms"]), r["ts_ms"])

    def bucket(m):
        return 0 if m <= 1 else 1 if m <= 10 else 2 if m <= 60 else 3 if m <= 1440 else 4

    expect = collections.defaultdict(lambda: [0, 0])
    for u in set(fv) & set(fp):
        if fp[u] >= fv[u]:
            lag = (fp[u] - fv[u]) // 60_000
            e = expect[bucket(lag)]
            e[0] += 1
            e[1] = max(e[1], lag)
    tot = sum(v[0] for v in expect.values())
    got = {r["bucket"]: r for r in q_event_conversion_lag_histogram(spark, SF).collect()}
    assert set(got) == set(expect)
    for b, (n, mx) in expect.items():
        r = got[b]
        assert (r["n_users"], r["max_lag_min"]) == (n, mx)
        assert r["share_ppm"] == n * 1_000_000 // tot
