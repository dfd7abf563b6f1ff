"""Session-44: MAD outliers, SRM check, device batch plan."""

from __future__ import annotations

import statistics

SF = "/root/testdata/sf0.001"


def test_mad_outliers_match_python(spark):
    from openreviewcrawler_spark.catalog import q_crawl_latency_mad_outliers

    rows = {r["host"]: r for r in q_crawl_latency_mad_outliers(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    import collections

    lats = collections.defaultdict(list)
    for d in docs:
        i = d["doc_id"]
        tail = (i * 7) % 13 < (i % 20) % 4
        lat = 2500 + i % 500 if tail else 50 + (i * 97) % 900
        lats[f"{d['source']}.example"].append(lat)
    assert set(rows) == set(lats)
    for h, xs in lats.items():
        r = rows[h]
        med = statistics.median(xs)
        mad = statistics.median(abs(x - med) for x in xs)
        n_out = sum(1 for x in xs if abs(x - med) > 3 * mad)
        assert r["n_fetches"] == len(xs)
        assert r["median_decims"] == int(med * 10)
        assert r["mad_decims"] == int(mad * 10)
        assert r["n_outliers"] == n_out
        assert r["outlier_ppm"] == n_out * 1_000_000 // len(xs)
    # heavy-tail hosts yield outliers; clean hosts mostly don't
    assert any(r["n_outliers"] > 0 for r in rows.values())
    assert any(r["n_outliers"] == 0 for r in rows.values())


def test_srm_check_chi2_and_flag(spark):
    from openreviewcrawler_spark.catalog import q_event_ab_srm_check

    rows = q_event_ab_srm_check(spark, SF).collect()
    assert rows
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    import collections
    import re

    cnt = collections.defaultdict(lambda: [0, 0])
    for e in ev:
        v = int(re.search(r"([0-9]+)", e["props"]).group(1)) % 2
        cnt[e["event_type"]][v] += 1
    for r in rows:
        a, b = cnt[r["event_type"]]
        assert (r["n_a"], r["n_b"]) == (a, b)
        chi2 = (a - b) * (a - b) * 1000 // (a + b)
        assert r["chi2_milli"] == chi2
        assert r["srm_flag"] == (1 if chi2 > 3841 else 0)
    # the fixture's parity split is imperfect enough to trip at least
    # one type (signup runs ~85/114) while most types stay clean —
    # both flag states are exercised
    assert any(r["srm_flag"] == 1 for r in rows)
    assert any(r["srm_flag"] == 0 for r in rows)
