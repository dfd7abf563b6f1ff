"""Session-38 operators: reservoir sample, phrase mining, bounce rate."""

from __future__ import annotations


SF = "/root/testdata/sf0.001"


def test_phrase_mine_matches_python_rake(spark):
    from openreviewcrawler_spark.catalog import (
        _PHRASE_STOPS,
        _PHRASE_TOPK,
        q_text_phrase_mine,
    )

    rows = q_text_phrase_mine(spark, SF).collect()
    assert 0 < len(rows) <= _PHRASE_TOPK
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    import collections

    occ = collections.Counter()
    docs_with = collections.defaultdict(set)
    stops = set(_PHRASE_STOPS)
    for d in docs:
        phrase = []
        for tok in d["text"].split(" ") + ["the"]:
            if tok in stops:
                if len(phrase) >= 2:
                    p = " ".join(phrase)
                    occ[p] += 1
                    docs_with[p].add(d["doc_id"])
                phrase = []
            else:
                phrase.append(tok)
    ranked = sorted(occ.items(), key=lambda kv: (-kv[1], kv[0]))[:_PHRASE_TOPK]
    assert [(r["phrase"], r["n_occurrences"]) for r in rows] == ranked
    for r in rows:
        assert r["n_docs"] == len(docs_with[r["phrase"]])
        assert len(r["phrase"].split(" ")) >= 2
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


def test_bounce_rate_agrees_with_sessionization(spark):
    from openreviewcrawler_spark.catalog import (
        q_event_bounce_rate,
        q_sessionization,
    )

    rows = q_event_bounce_rate(spark, SF).collect()
    assert rows
    # total sessions must match the established sessionization entry
    n_sessions = sum(
        r["n_sessions"] for r in q_sessionization(spark, SF).collect()
    )
    assert sum(r["n_sessions"] for r in rows) == n_sessions
    for r in rows:
        assert 0 <= r["n_bounces"] <= r["n_sessions"]
        assert r["bounce_ppm"] == r["n_bounces"] * 1_000_000 // r["n_sessions"]
    assert any(r["n_bounces"] for r in rows)  # 30-min gaps do strand singles
