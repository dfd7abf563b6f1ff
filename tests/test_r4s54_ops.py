"""Session-54: community cut, error cascades, ship delay."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_community_cut_consistent_with_lpa(spark):
    from openreviewcrawler_spark.catalog import (
        q_graph_community_cut_ratio,
        q_graph_label_propagation,
    )

    [row] = q_graph_community_cut_ratio(spark, SF).collect()
    labels = {r["node"]: r["label"] for r in q_graph_label_propagation(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    edges = set()
    for d in docs:
        i = d["doc_id"]
        c5, m = (i % 20) * 5, i % 3
        for s, t in [
            (c5 + m, c5 + (m + 1) % 5),
            (c5 + m, c5 + (m + 2) % 5),
            (i % 100, (i * 7 + 3) % 83),
        ]:
            if s != t:
                edges.add((s, t))
    n_cut = sum(1 for s, t in edges if labels[s] != labels[t])
    assert row["n_edges"] == len(edges)
    assert row["n_cut"] == n_cut
    assert row["n_communities"] == len(set(labels.values()))
    assert row["cut_ppm"] == n_cut * 1_000_000 // len(edges)
    # the planted cells keep most edges internal; the noise graph cuts
    assert 0 < row["n_cut"] < row["n_edges"]


def test_error_cascades_are_islands_of_hot_minutes(spark):
    from openreviewcrawler_spark.catalog import (
        _CASCADE_MIN_ERRORS,
        q_event_error_cascade_windows,
    )

    rows = sorted(
        q_event_error_cascade_windows(spark, SF).collect(),
        key=lambda r: r["start_minute"],
    )
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    import collections

    mins = collections.Counter(
        int(e["ts"].timestamp() * 1000) // 60000
        for e in ev
        if e["event_type"] == "error"
    )
    hot = sorted(m for m, n in mins.items() if n >= _CASCADE_MIN_ERRORS)
    episodes = []
    for m in hot:
        if episodes and m - episodes[-1][-1] == 1:
            episodes[-1].append(m)
        else:
            episodes.append([m])
    assert len(rows) == len(episodes)
    for r, ep in zip(rows, episodes):
        assert r["start_minute"] == ep[0]
        assert r["end_minute"] == ep[-1]
        assert r["n_minutes"] == len(ep)
        assert r["n_errors"] == sum(mins[m] for m in ep)
    if rows:
        assert all(r["n_errors"] >= _CASCADE_MIN_ERRORS * r["n_minutes"] for r in rows)
