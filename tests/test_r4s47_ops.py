"""Session-47: simhash drift, split leakage, novelty rate."""

from __future__ import annotations

import hashlib

SF = "/root/testdata/sf0.001"


def test_simhash_drift_matches_python_votes(spark):
    from openreviewcrawler_spark.catalog import q_text_simhash_drift

    rows = {r["source"]: r for r in q_text_simhash_drift(spark, SF).collect()}
    assert rows
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    import collections

    votes = collections.defaultdict(lambda: [0] * 64)
    for d in docs:
        key = (d["source"], 1 if d["doc_id"] % 40 - d["doc_id"] % 20 == 20 else 0)
        for tok in d["text"].split(" "):
            lo = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
            hi = int(hashlib.md5(f"hi|{tok}".encode()).hexdigest()[:8], 16)
            for b in range(64):
                bit = (lo >> b if b < 32 else hi >> (b - 32)) & 1
                votes[key][b] += 1 if bit else -1
    for src, r in rows.items():
        sig = {}
        for ep in (0, 1):
            sig[ep] = sum(
                1 << b for b in range(64) if votes[(src, ep)][b] > 0
            )
        ham = bin(sig[0] ^ sig[1]).count("1")
        assert r["hamming_64"] == ham
        assert r["drift_ppm"] == ham * 1_000_000 // 64
    # same word-salad distribution in both epochs => LOW drift everywhere
    assert all(r["hamming_64"] <= 24 for r in rows.values())


def test_novelty_rate_decays_over_time(spark):
    from openreviewcrawler_spark.catalog import q_event_novelty_rate

    rows = sorted(q_event_novelty_rate(spark, SF).collect(), key=lambda r: r["day"])
    assert len(rows) > 3
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    assert sum(r["n_events"] for r in rows) == len(ev)
    import collections

    first = {}
    for e in ev:
        k = (e["user_id"], e["event_type"])
        t = int(e["ts"].timestamp() * 1000)
        if k not in first or t < first[k]:
            first[k] = t
    novel_per_day = collections.Counter()
    for e in ev:
        k = (e["user_id"], e["event_type"])
        t = int(e["ts"].timestamp() * 1000)
        if t == first[k]:
            novel_per_day[t // 86400000] += 1
    for r in rows:
        assert r["n_novel"] == novel_per_day.get(r["day"], 0)
        assert r["novelty_ppm"] == r["n_novel"] * 1_000_000 // r["n_events"]
    # novelty concentrates early: the first day beats the last day
    assert rows[0]["novelty_ppm"] > rows[-1]["novelty_ppm"]
