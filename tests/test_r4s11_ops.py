"""Session-11 operators: aging admission, dwell time, hourly seasonality,
dedup byte-savings. Exact Python models + plan-shape guards."""

from __future__ import annotations

import collections

BAD_ALWAYS = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ----------------------------------------------------------- crawl_aging_admit


def test_aging_admit_matches_sorted_model(spark):
    from openreviewcrawler_spark.catalog import (
        _AGE_BOOST,
        _AGE_ROUNDS,
        _PRIO_BUDGET,
        q_crawl_aging_admit,
    )

    ids = [r["doc_id"] for r in
           spark.read.parquet(f"{SF}/documents.parquet").select("doc_id").collect()]
    f = [(i, (i * 13) % 97, i % _AGE_ROUNDS) for i in ids]
    aged = sorted(
        f, key=lambda t: (-(t[1] + _AGE_BOOST * (_AGE_ROUNDS - t[2])), t[0])
    )[:_PRIO_BUDGET]
    raw = {
        t[0] for t in sorted(f, key=lambda t: (-t[1], t[0]))[:_PRIO_BUDGET]
    }
    expect = collections.defaultdict(lambda: [0, 0])
    for i, _p, d in aged:
        expect[d][0] += 1
        expect[d][1] += i not in raw
    got = {
        r["disc_round"]: [r["n_admitted"], r["n_rescued"]]
        for r in q_crawl_aging_admit(spark, SF).collect()
    }
    assert got == {d: v for d, v in expect.items()}


def test_aging_admit_rescues_old_rounds(spark):
    """Aging must actually rescue starving URLs: early discovered rounds
    gain admissions the raw policy denies."""
    from openreviewcrawler_spark.catalog import q_crawl_aging_admit

    rows = q_crawl_aging_admit(spark, SF).collect()
    assert sum(r["n_rescued"] for r in rows) > 0
    by_round = {r["disc_round"]: r["n_rescued"] for r in rows}
    # the oldest rounds (largest boost) should hold rescues
    oldest = min(by_round)
    newest = max(by_round)
    assert by_round.get(oldest, 0) >= by_round.get(newest, 0)


# ------------------------------------------------------------ event_dwell_time


def test_dwell_time_matches_python_model(spark):
    from openreviewcrawler_spark.catalog import _events_ms, q_event_dwell_time

    rows = _events_ms(spark, SF).collect()
    by_user = collections.defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append((r["ts_ms"], r["event_id"], r["event_type"]))
    dwells = collections.defaultdict(list)
    for evs in by_user.values():
        evs.sort()
        for (ts, _e, typ), (nts, _ne, _nt) in zip(evs, evs[1:]):
            d = nts - ts
            if d <= 1_800_000:
                dwells[typ].append(d)

    def med(xs):
        xs = sorted(xs)
        n = len(xs)
        return float(xs[n // 2]) if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0

    got = {r["event_type"]: r for r in q_event_dwell_time(spark, SF).collect()}
    assert set(got) == set(dwells)
    for typ, ds in dwells.items():
        r = got[typ]
        assert r["n_dwells"] == len(ds)
        assert r["median_dwell_ms"] == med(ds)
        assert r["mean_dwell_ms"] == sum(ds) // len(ds)
        assert r["max_dwell_ms"] == max(ds)


# ----------------------------------------------------- event_hourly_seasonality


def test_seasonality_marginals_and_lift(spark):
    from openreviewcrawler_spark.catalog import q_event_hourly_seasonality

    rows = q_event_hourly_seasonality(spark, SF).collect()
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert sum(r["n"] for r in rows) == n_events
    assert all(0 <= r["hour"] <= 23 for r in rows)
    # independence normalization: sum over cells of n*type*hour/total == total
    # => the n-weighted average lift is ~1e6 (integer div makes it <=)
    wavg = sum(r["n"] * r["lift_ppm"] for r in rows) / n_events
    assert 0.8e6 < wavg <= 1.2e6


def test_seasonality_plan_reads_cached_cells(spark):
    """All marginals must derive from the persisted cell rollup: the cells
    table and every marginal read InMemoryTableScan (the plan STRING
    repeats the cached child's lineage per consumer, so counting parquet
    scan text overcounts — cache hits are the real signal)."""
    from openreviewcrawler_spark.catalog import q_event_hourly_seasonality

    plan = _plan(q_event_hourly_seasonality(spark, SF))
    assert "BatchEvalPython" not in plan
    assert plan.count("InMemoryTableScan") >= 4, plan
