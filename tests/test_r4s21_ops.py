"""Session-21 operators: contamination report, degree histogram, heavy-user
share."""

from __future__ import annotations

import collections

SF = "/root/testdata/sf0.001"


def test_degree_histogram_covers_all_hosts(spark):
    from openreviewcrawler_spark.catalog import q_graph_degree_histogram

    ids = [r["doc_id"] for r in
           spark.read.parquet(f"{SF}/documents.parquet").select("doc_id").collect()]
    deg = collections.Counter(f"h{i % ((i % 37) + 1)}" for i in ids)
    rows = q_graph_degree_histogram(spark, SF).collect()
    assert sum(r["n_nodes"] for r in rows) == len(deg)
    assert len(rows) >= 3, "skewed synthesis must populate several buckets"
    for r in rows:
        assert r["min_deg"] <= r["max_deg"]
    total_ppm = sum(r["share_ppm"] for r in rows)
    assert 1_000_000 - len(rows) <= total_ppm <= 1_000_000


def test_heavy_user_share_conserves_events(spark):
    from openreviewcrawler_spark.catalog import q_event_heavy_user_share

    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    n_users = (
        spark.read.parquet(f"{SF}/events.parquet").select("user_id").distinct().count()
    )
    rows = q_event_heavy_user_share(spark, SF).collect()
    assert sum(r["n_events"] for r in rows) == n_events
    assert sum(r["n_users"] for r in rows) == n_users
    # higher bands hold fewer users but more events per user
    by_band = sorted(rows, key=lambda r: r["band"])
    for a, b in zip(by_band, by_band[1:]):
        assert a["n_events"] / a["n_users"] < b["n_events"] / b["n_users"]
