"""Session-5 operators: modularity, Jain fairness, session-param mining.

Semantic checks on planted fixtures + the plan-shape guards pinning each
operator's at-scale safety property (no nested-loop joins beyond the
constant-key single-row total attach, no Python row UDFs, no corpus-sized
broadcasts).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

BAD_ALWAYS = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_clean(plan: str, *also_banned: str):
    for op in BAD_ALWAYS + also_banned:
        assert op not in plan, f"{op} in plan:\n{plan}"


def test_modularity_two_triangles_with_bridge(spark):
    from openreviewcrawler_spark.operators.rank import modularity

    # triangle {1,2,3}, triangle {4,5,6}, bridge 3-4: m = 7
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)],
        "src long, dst long",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)],
        "node long, label long",
    )
    out = {r["label"]: r for r in modularity(edges, labels).collect()}
    assert set(out) == {1, 4}
    for lbl in (1, 4):
        r = out[lbl]
        assert r["n_nodes"] == 3 and r["e_intra"] == 3 and r["deg_sum"] == 7
        expect = math.floor((3 / 7 - (7 / 14) ** 2) * 1e6) / 1e6
        assert r["q_contrib"] == expect


def test_modularity_symmetric_duplicate_edges_collapse(spark):
    from openreviewcrawler_spark.operators.rank import modularity

    # both orientations + a self-loop: the undirected distinct set is ONE
    # edge (1,2); self-loops are dropped before m is counted
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 1)], "src long, dst long"
    )
    labels = spark.createDataFrame([(1, 1), (2, 1)], "node long, label long")
    rows = modularity(edges, labels).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["e_intra"] == 1 and r["deg_sum"] == 2 and r["n_nodes"] == 2
    # e/m - (d/2m)^2 = 1/1 - 1 = 0
    assert r["q_contrib"] == 0.0


def test_modularity_plan_no_label_broadcast_hint(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_graph_modularity

    df = q_graph_modularity(spark, sf_dir)
    plan = _plan(df)
    # the single-row total m attaches as a 1-row broadcast (the accepted
    # house shape for scalar totals, stats.py:82) — allow exactly that one
    # nested-loop and nothing else
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    _assert_clean(plan.replace("BroadcastNestedLoopJoin", "", 1))
    # no literal broadcast hint on the O(nodes) label table (AQE may still
    # pick a broadcast at tiny SF from its own size estimates)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") <= 1  # only the 1-row total


def test_jain_fairness_uniform_and_skewed(spark):
    from openreviewcrawler_spark.operators.scheduler import jain_fairness

    rows = [
        # round 0: uniform 4 hosts x 5 fetches -> J = 1
        *[(f"h{i}", 0, 5) for i in range(4)],
        # round 1: one host takes 9 of 12 -> J = 144/(4*(81+1+1+1)) = 0.428571
        ("h0", 1, 9), ("h1", 1, 1), ("h2", 1, 1), ("h3", 1, 1),
    ]
    df = spark.createDataFrame(rows, "host string, rnd long, n_fetch long")
    out = {r["rnd"]: r for r in jain_fairness(df).collect()}
    assert out[0]["jain_ppm"] == 1_000_000
    assert out[0]["total_fetches"] == 20 and out[0]["n_hosts"] == 4
    assert out[1]["jain_ppm"] == (144 * 1_000_000) // (4 * 84)


def test_jain_fairness_plan_single_rollup(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_crawl_fairness_index

    df = q_crawl_fairness_index(spark, sf_dir)
    plan = _plan(df)
    _assert_clean(plan, "Window")
    # two groupBys, no join: exactly the host-level and round-level shuffles
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_query_param_stats_session_detection(spark):
    from openreviewcrawler_spark.functions.urls import query_param_stats

    urls = [
        (f"https://a.example/p/{i}?id={i % 3}&sess=s{i:04d}",) for i in range(10)
    ] + [("https://a.example/plain/path",)]  # no query string -> ignored
    df = spark.createDataFrame(urls, "url string")
    out = {r["param_key"]: r for r in query_param_stats(df).collect()}
    assert set(out) == {"id", "sess"}
    sess = out["sess"]
    assert sess["n_urls"] == 10 and sess["n_values"] == 10
    assert sess["collapse_ppm"] == 1_000_000 and sess["session_like"]
    ident = out["id"]
    assert ident["n_values"] == 3 and not ident["session_like"]
    assert ident["collapse_ppm"] == 300_000


def test_query_param_stats_bare_key_and_threshold(spark):
    from openreviewcrawler_spark.functions.urls import query_param_stats

    # bare key (no '='): value is '' in both engines (split_part
    # out-of-range contract); below min_session_urls stays un-flagged
    urls = [(f"https://b.example/x?flag&u={i}",) for i in range(4)]
    df = spark.createDataFrame(urls, "url string")
    out = {r["param_key"]: r for r in query_param_stats(df).collect()}
    assert out["flag"]["n_values"] == 1 and not out["flag"]["session_like"]
    assert out["u"]["n_values"] == 4 and not out["u"]["session_like"]  # < 8


def test_query_param_stats_plan_jvm_only(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_url_query_param_stats

    df = q_url_query_param_stats(spark, sf_dir)
    _assert_clean(_plan(df), "Window")


def test_code_detect_planted_snippet(spark):
    from openreviewcrawler_spark.operators.textstats import code_detect_cols

    rows = [
        (1, "plain prose about a meeting and a deadline"),
        (2, "def f(x): { return x; } import os; class T { void g() { y = 2; } }"),
        (3, "a sentence that mentions return on investment"),  # 1 kw only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cols = code_detect_cols(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select("doc_id", *[c.alias(k) for k, c in cols.items()]).collect()
    }
    assert not out[1]["is_code"] and out[1]["n_braces"] == 0
    code = out[2]
    assert code["is_code"]
    assert code["n_braces"] == 6 and code["n_semis"] == 3
    # def, return, import, void, class -> 5 keyword hits
    assert code["kw_hits"] == 5
    assert code["code_score"] == 6 * 3 + 3 * 2 + 5 * 5
    assert not out[3]["is_code"] and out[3]["kw_hits"] == 1


def test_html_canonical_cluster_semantics(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_html_canonical_cluster

    out = q_html_canonical_cluster(spark, sf_dir).collect()
    shared = [r for r in out if "canon.example" in r["canonical"]]
    selfs = [r for r in out if r["n_self"] > 0]
    # shared canonical targets gather multiple pages across hosts
    assert shared and all(r["n_pages"] >= 2 for r in shared)
    assert any(r["is_cross_host"] for r in shared)
    # self-declaring pages are singleton clusters of themselves
    assert selfs and all(
        r["n_pages"] == 1 and r["n_self"] == 1 and not r["is_cross_host"]
        for r in selfs
    )
    plan = _plan(q_html_canonical_cluster(spark, sf_dir))
    _assert_clean(plan, "Window")


def test_banded_hamming_pairs_planted(spark):
    from openreviewcrawler_spark.operators.dedup import banded_hamming_pairs

    rows = [
        (1, 100, 200, 300, 400),
        (2, 101, 200, 300, 400),   # 1 bit off band 0 vs asset 1 (100^101=1 -> ham 1... actually bit_count(100^101)=1)
        (3, 100, 200, 300, 1024),  # differs from 1 only in band 3 by one bit (400^1024 has several bits)
        (4, 9999, 8888, 7777, 6666),  # unrelated
    ]
    df = spark.createDataFrame(rows, "asset_id long, b0 long, b1 long, b2 long, b3 long")
    out = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in banded_hamming_pairs(df, max_hamming=3).collect()}
    assert (1, 2) in out and out[(1, 2)] == bin(100 ^ 101).count("1")
    # (1,3) shares bands 0-2, verify hamming = popcount(400^1024)
    h13 = bin(400 ^ 1024).count("1")
    assert ((1, 3) in out) == (h13 <= 3)
    assert all(a != 4 and b != 4 for a, b in out)


def test_mm_phash_dedup_groups_of_four(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_mm_phash_dedup

    df = q_mm_phash_dedup(spark, sf_dir)
    rows = df.collect()
    assert rows, "planted groups must produce near-dup pairs"
    # every surviving pair is within the verify threshold and in-group
    for r in rows:
        assert r["hamming"] <= 3
        assert r["id_a"] // 4 == r["id_b"] // 4, "cross-group pair leaked"
    # a full group of 4 yields all 6 pairs; count pairs for group of ids 0-3
    g0 = [r for r in rows if r["id_a"] // 4 == 0]
    assert len(g0) == 6
    plan = df._jdf.queryExecution().executedPlan().toString()
    _assert_clean(plan)


def test_ivf_cell_balance_shares(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_ann_ivf_cell_balance

    df = q_ann_ivf_cell_balance(spark, sf_dir)
    rows = df.collect()
    total = sum(r["n_vectors"] for r in rows)
    n_cells = len(rows)
    assert total > 0 and n_cells >= 2
    for r in rows:
        assert r["share_ppm"] == (r["n_vectors"] * 1_000_000) // total
        assert r["is_hot"] == (r["n_vectors"] * n_cells > 2 * total)
    # shares under-sum 1e6 only by truncation
    assert 1_000_000 - n_cells <= sum(r["share_ppm"] for r in rows) <= 1_000_000
    plan = df._jdf.queryExecution().executedPlan().toString()
    # nested loops here are only the K-row centroid broadcasts (the
    # established ivf shape) + the 1-row total; never an unbroadcast product
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


def test_dns_prefetch_plan_first_seen_partition(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_crawl_dns_prefetch_plan

    rows = sorted(
        q_crawl_dns_prefetch_plan(spark, sf_dir).collect(), key=lambda r: r["rnd"]
    )
    assert rows and rows[0]["rnd"] == 0
    # every host active in round 0 is first-seen there
    assert rows[0]["n_new_hosts"] == rows[0]["n_hosts"]
    assert rows[0]["n_cached_hosts"] == 0
    for r in rows:
        assert r["n_cached_hosts"] == r["n_hosts"] - r["n_new_hosts"]
        assert r["n_urls"] >= r["n_hosts"]
    plan = _plan(q_crawl_dns_prefetch_plan(spark, sf_dir))
    _assert_clean(plan, "Window")


def test_cluster_purity_consistent(spark, sf_dir):
    from openreviewcrawler_spark.catalog import (
        q_ann_ivf_cell_balance,
        q_embedding_cluster_purity,
    )

    pur = {r["cell"]: r for r in q_embedding_cluster_purity(spark, sf_dir).collect()}
    bal = {r["cell"]: r for r in q_ann_ivf_cell_balance(spark, sf_dir).collect()}
    # same quantizer -> same cells with identical populations
    assert set(pur) == set(bal)
    for c, r in pur.items():
        assert r["n_vectors"] == bal[c]["n_vectors"]
        assert 0 < r["majority_n"] <= r["n_vectors"]
        assert r["purity_ppm"] == (r["majority_n"] * 1_000_000) // r["n_vectors"]
