"""Session-23 operators: quality threshold sweep, soft-404 detection."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_soft404_flags_planted_pages_only(spark):
    from openreviewcrawler_spark.catalog import q_url_soft404_detect

    ids = [r["doc_id"] for r in
           spark.read.parquet(f"{SF}/documents.parquet").select("doc_id").collect()]
    import collections

    expect = collections.defaultdict(lambda: [0, 0])
    for i in ids:
        e = expect[f"h{i % 7}"]
        e[0] += 1
        e[1] += i % 17 == 0
    got = {r["host"]: r for r in q_url_soft404_detect(spark, SF).collect()}
    assert set(got) == set(expect)
    for host, (n, s) in expect.items():
        r = got[host]
        assert (r["n_pages"], r["n_soft404"]) == (n, s)
        assert r["soft404_ppm"] == s * 1_000_000 // n
    # real documents (word-soup bodies) are never flagged
    assert sum(r["n_soft404"] for r in got.values()) == sum(
        1 for i in ids if i % 17 == 0
    )
