"""Plan-shape guards for the late-round-4 operators.

Each assertion pins the property that makes the operator safe at corpus
scale; a refactor that silently reintroduces a global window, a nested-loop
join, or a Python row UDF fails here long before any benchmark notices.
"""

from __future__ import annotations

from pyspark.sql import functions as F

BAD_ALWAYS = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _assert_clean(plan: str, *also_banned: str):
    for op in BAD_ALWAYS + also_banned:
        assert op not in plan, f"{op} in plan:\n{plan}"


def test_dust_rules_plan_is_aggregate_only(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_crawl_dust_rules

    plan = _plan(q_crawl_dust_rules(spark, sf_dir))
    # two groupBys, no joins, no windows: the mining must stay a pure
    # aggregation cascade over the exploded params
    _assert_clean(plan, "Window", "SortMergeJoin", "BroadcastHashJoin")


def test_adaptive_delay_plan_is_single_aggregate(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_crawl_adaptive_delay

    plan = _plan(q_crawl_adaptive_delay(spark, sf_dir))
    _assert_clean(plan, "Window", "Join")
    assert plan.count("Exchange") <= 2, plan  # one shuffle (+AQE read)


def test_word_diversity_and_rate_rollup_plans(spark, sf_dir):
    from openreviewcrawler_spark.catalog import (
        q_crawl_rate_timeseries,
        q_text_word_diversity,
    )

    _assert_clean(_plan(q_text_word_diversity(spark, sf_dir)), "Window", "Join")
    _assert_clean(_plan(q_crawl_rate_timeseries(spark, sf_dir)), "Window", "Join")


def test_revisit_window_is_partitioned_by_digest(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_warc_revisit_dedup

    plan = _plan(q_warc_revisit_dedup(spark, sf_dir))
    _assert_clean(plan)
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "digest" in line, line  # never an unpartitioned window


def test_reciprocity_plan_has_no_nested_loop_or_window(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_graph_reciprocity

    plan = _plan(q_graph_reciprocity(spark, sf_dir))
    # dedup + equi self-join + groupBy only; the rate must never become a
    # window or an all-pairs comparison
    _assert_clean(plan, "Window")


def test_latency_quantile_windows_are_host_partitioned(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_crawl_latency_quantiles

    plan = _plan(q_crawl_latency_quantiles(spark, sf_dir))
    _assert_clean(plan)
    saw_window = False
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            saw_window = True
            assert "host" in line, f"unpartitioned window:\n{line}"
    assert saw_window  # the quantile ranks ARE windows — just never global


def test_skew_gini_rank_is_stamp_not_window(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_crawl_host_skew_gini

    plan = _plan(q_crawl_host_skew_gini(spark, sf_dir))
    # ascending load rank must ride the scalable stamp (mapInPandas), never
    # a global Window.orderBy funnel over the host table
    _assert_clean(plan, "Window")
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower(), plan


def test_sitemap_index_parse_is_shuffle_free(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_sitemap_index_extract

    plan = _plan(q_sitemap_index_extract(spark, sf_dir))
    _assert_clean(plan, "Window", "Join")
    assert plan.count("Exchange") == 0, plan  # map-side explode only


def test_embedding_qa_is_single_aggregate(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_embedding_qa

    plan = _plan(q_embedding_qa(spark, sf_dir))
    _assert_clean(plan, "Window", "Join")
    assert plan.count("Exchange") <= 2, plan  # one shuffle (+AQE read)


def test_retry_backoff_joins_are_equi_only(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_crawl_retry_backoff

    plan = _plan(q_crawl_retry_backoff(spark, sf_dir))
    _assert_clean(plan, "Window")


def test_semantic_dedup_pairs_are_cell_bounded(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_dedup_semantic

    plan = _plan(q_dedup_semantic(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
    # the only nested-loop join is the K-row quantizer broadcast — the
    # established IVF shape; it textually repeats once per reference to
    # the persisted assigned table (3 scans), because the pre-execution
    # plan prints the cached subtree inline. The in-cell PAIR join must
    # be a real equi join on cell.
    assert plan.count("BroadcastNestedLoopJoin") <= 3, plan
    pair_join = [
        line
        for line in plan.splitlines()
        if "Join" in line and "cell" in line and "NestedLoop" not in line
    ]
    assert pair_join, plan


def test_session3_graph_ops_plans_are_equi_join_only(spark, sf_dir):
    from openreviewcrawler_spark.catalog import (
        q_graph_assortativity,
        q_graph_clustering_coeff,
        q_graph_kcore,
    )

    # peeling / wedge / moment pipelines must stay hash equi-joins — a
    # nested-loop fallback or a forced broadcast of the corpus-sized
    # alive/degree tables is the 100x scale killer (r3 ngram lesson)
    for q in (q_graph_kcore, q_graph_assortativity, q_graph_clustering_coeff):
        _assert_clean(_plan(q(spark, sf_dir)))


def test_embedding_profile_plans_are_single_pass(spark, sf_dir):
    from openreviewcrawler_spark.catalog import (
        q_embedding_centroid_drift,
        q_embedding_dim_stats,
    )

    # dim_stats: one generate + one aggregate, no join at all
    dplan = _plan(q_embedding_dim_stats(spark, sf_dir))
    _assert_clean(dplan, "Join", "Window")
    # centroid_drift: the global centroid must derive from the per-label
    # sums — BOTH consumers of lm read the persisted relation (one
    # physical corpus scan), never re-embed the scan+aggregate per branch
    cplan = _plan(q_embedding_centroid_drift(spark, sf_dir))
    _assert_clean(cplan, "Window")
    assert cplan.count("InMemoryTableScan") == 2, cplan


def test_unicode_profile_and_host_collapse_are_shuffle_minimal(spark, sf_dir):
    from openreviewcrawler_spark.catalog import (
        q_host_graph_collapse,
        q_text_unicode_profile,
    )

    uplan = _plan(q_text_unicode_profile(spark, sf_dir))
    _assert_clean(uplan, "Join", "Window", "Exchange")  # pure projection
    hplan = _plan(q_host_graph_collapse(spark, sf_dir))
    _assert_clean(hplan, "Join", "Window")
