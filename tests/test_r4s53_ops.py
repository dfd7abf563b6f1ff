"""Session-53: duplicate discount, WAU overlap, quality drift."""

from __future__ import annotations


SF = "/root/testdata/sf0.001"


def test_wau_jaccard_pairs(spark):
    from openreviewcrawler_spark.catalog import q_event_wau_overlap_jaccard

    rows = {r["week"]: r for r in q_event_wau_overlap_jaccard(spark, SF).collect()}
    assert rows
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    import collections

    weekly = collections.defaultdict(set)
    for e in ev:
        weekly[int(e["ts"].timestamp() * 1000) // 604800000].add(e["user_id"])
    weeks = sorted(weekly)
    expected_pairs = {w for w in weeks if w + 1 in weekly}
    assert set(rows) == expected_pairs
    for w in expected_pairs:
        a, b = weekly[w], weekly[w + 1]
        r = rows[w]
        assert (r["n_a"], r["n_b"], r["n_both"]) == (len(a), len(b), len(a & b))
        assert r["jaccard_ppm"] == len(a & b) * 1_000_000 // len(a | b)
        assert r["next_week"] == w + 1
    # small fixture cohort is sticky: overlap is substantial
    assert any(r["jaccard_ppm"] > 500_000 for r in rows.values())
