"""Session-6 operators: event funnel/cohort, embedding outliers,
co-citation, keep-alive planning, curriculum order, langmix, host
boilerplate.

Semantic checks on planted fixtures + plan-shape guards for the at-scale
safety properties (no nested-loop joins, no Python row UDFs, two-phase
top-k independence from input partitioning).
"""

from __future__ import annotations

from pyspark.sql import functions as F

BAD_ALWAYS = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_clean(plan: str, *also_banned: str):
    for op in BAD_ALWAYS + also_banned:
        assert op not in plan, f"{op} in plan:\n{plan}"


# ---------------------------------------------------------------- funnel


def _funnel_events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts_ms long"
    )


def test_funnel_counts_only_in_order(spark):
    from openreviewcrawler_spark.operators.events import funnel

    rows = [
        # user 1: view -> click -> purchase (reaches all three)
        (1, 1, "view", 100),
        (1, 2, "click", 200),
        (1, 3, "purchase", 300),
        # user 2: purchase, click, THEN view — only the view step counts
        (2, 4, "purchase", 100),
        (2, 5, "click", 200),
        (2, 6, "view", 300),
        # user 3: view then purchase with NO click — purchase must not count
        (3, 7, "view", 100),
        (3, 8, "purchase", 200),
        # user 4: click before view, then click after view (qualifies)
        (4, 9, "click", 100),
        (4, 10, "view", 200),
        (4, 11, "click", 300),
    ]
    out = {r["step"]: r for r in funnel(_funnel_events(spark, rows)).collect()}
    assert out["view"]["n_users"] == 4
    assert out["click"]["n_users"] == 2  # users 1 and 4
    assert out["purchase"]["n_users"] == 1  # user 1 only
    assert out["view"]["conv_ppm"] == 1000000
    assert out["click"]["conv_ppm"] == 500000  # 2 of 4
    assert out["purchase"]["conv_ppm"] == 500000  # 1 of 2
    assert [out[s]["step_idx"] for s in ("view", "click", "purchase")] == [
        1,
        2,
        3,
    ]


def test_funnel_same_ts_ties_break_by_event_id(spark):
    from openreviewcrawler_spark.operators.events import funnel

    # click at the SAME ts as the view but a smaller event_id orders first
    # -> not qualified; the later (event_id) click at the same ts qualifies
    rows = [
        (1, 2, "view", 100),
        (1, 1, "click", 100),  # before the view in (ts, event_id) order
        (2, 3, "view", 100),
        (2, 4, "click", 100),  # after the view in (ts, event_id) order
    ]
    out = {r["step"]: r for r in funnel(_funnel_events(spark, rows)).collect()}
    assert out["click"]["n_users"] == 1


def test_funnel_plan_single_user_shuffle(spark):
    from openreviewcrawler_spark.operators.events import funnel

    df = funnel(_funnel_events(spark, [(1, 1, "view", 1)]))
    plan = _plan(df)
    _assert_clean(plan)
    # all three step windows ride ONE user_id exchange (plus the final
    # single-partition total); no per-step re-shuffle of the event table
    n_hash_exchanges = plan.count("hashpartitioning(user_id")
    assert n_hash_exchanges <= 1, plan


def test_cohort_retention_offsets(spark):
    from openreviewcrawler_spark.operators.events import cohort_retention

    wk = 7 * 86400000
    rows = [
        (1, 0 * wk),  # cohort week 0
        (1, 0 * wk + 5),  # same week, still one (user, week) row
        (1, 2 * wk),  # active again at offset 2
        (2, 1 * wk),  # cohort week 1
        (2, 2 * wk),  # offset 1
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts_ms long")
    out = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in cohort_retention(ev).collect()
    }
    assert out == {(0, 0): 1, (0, 2): 1, (1, 0): 1, (1, 1): 1}


# ---------------------------------------------------------- outlier top-k


def _planted_vectors(spark):
    # label 0: 9 vectors at ~[1, 0], one far outlier at [9, 9]
    rows = [(i, 0, [1.0 + 0.01 * i, 0.0]) for i in range(9)]
    rows.append((99, 0, [9.0, 9.0]))
    # label 1: tight cluster, vec 200 slightly farther
    rows += [(100 + i, 1, [0.0, 2.0]) for i in range(5)]
    rows.append((200, 1, [0.0, 3.0]))
    return spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )


def test_outlier_topk_finds_planted_outlier(spark):
    from openreviewcrawler_spark.operators.similarity import outlier_topk

    out = outlier_topk(_planted_vectors(spark), k=2).collect()
    by_label = {}
    for r in out:
        by_label.setdefault(r["label"], []).append(r)
    top0 = min(by_label[0], key=lambda r: r["rank"])
    assert top0["vec_id"] == 99
    top1 = min(by_label[1], key=lambda r: r["rank"])
    assert top1["vec_id"] == 200
    assert all(r["dist"] >= 0 for r in out)


def test_outlier_topk_partitioning_invariant(spark):
    """Two-phase top-k is a semilattice: result identical under any input
    partitioning (the property that makes the per-partition prune safe)."""
    from openreviewcrawler_spark.operators.similarity import outlier_topk

    v = _planted_vectors(spark)
    a = sorted(map(tuple, outlier_topk(v, k=3).collect()))
    b = sorted(map(tuple, outlier_topk(v.repartition(7), k=3).collect()))
    c = sorted(map(tuple, outlier_topk(v.coalesce(1), k=3).collect()))
    assert a == b == c
    _assert_clean(_plan(outlier_topk(v, k=3)))


# ------------------------------------------------------------ co-citation


def test_cocitation_planted_template_group(spark):
    from openreviewcrawler_spark.operators.rank import cocitation

    edges = []
    # srcs 1 and 2 share nav targets {10, 11, 12}; each has 1 unique dst
    for s in (1, 2):
        edges += [(s, 10), (s, 11), (s, 12), (s, 100 + s)]
    # src 3 overlaps on a single dst only (below min_common)
    edges += [(3, 10), (3, 200)]
    # hot dst 999 cited by everyone — dropped by the cap, must not count
    edges += [(s, 999) for s in (1, 2, 3, 4, 5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = cocitation(df, cap=5, min_common=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["src_a"], r["src_b"]) == (1, 2)
    assert r["n_common"] == 3 and r["deg_a"] == 4 and r["deg_b"] == 4
    # jaccard = 3 / (4 + 4 - 3)
    assert r["jacc_ppm"] == (3 * 1000000) // 5
    _assert_clean(_plan(cocitation(df, cap=5, min_common=2)))


def test_cocitation_catalog_entry_drops_hot_dst(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_graph_cocitation

    rows = q_graph_cocitation(spark, sf_dir).collect()
    assert rows, "planted template groups must surface"
    # the site-wide hot dst (fan-in 40) is dropped BEFORE degrees: every
    # src keeps out-degree 13 (3 shared navs + 10 unique), never 14
    assert {r["deg_a"] for r in rows} == {13}
    assert {r["n_common"] for r in rows} == {3}
    # pairs only within the 5 template groups of 8 srcs: C(8,2) * 5
    assert len(rows) == 140


# ------------------------------------------------------- keep-alive plan


def test_keepalive_plan_invariants(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_crawl_keepalive_plan
    from openreviewcrawler_spark.caching import release_persisted

    rows = q_crawl_keepalive_plan(spark, sf_dir).collect()
    release_persisted()
    assert rows
    for r in rows:
        assert 1 <= r["n_connections"] <= r["n_fetches"]
        expect = (
            (r["n_fetches"] - r["n_connections"]) * 1000000
        ) // r["n_fetches"]
        assert r["reuse_ppm"] == expect


# ------------------------------------------------------------ langmix


def test_langmix_planted_mixed_doc(spark):
    from openreviewcrawler_spark.operators.dedup import PARA_CHUNK_RE
    from openreviewcrawler_spark.operators.textstats import (
        lang_id_col,
        tokens_col,
    )

    en = "the cat sat of the mat and it is nice to see"
    de = "der hund ist und die katze das haus und nicht hier"
    docs = spark.createDataFrame(
        [(1, en + " " + de)], "doc_id long, text string"
    )
    paras = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"regexp_extract_all(text, '{PARA_CHUNK_RE}', 0)")
        ).alias("para"),
    )
    langs = {
        r["plang"]
        for r in paras.select(
            lang_id_col(tokens_col(F.col("para"))).alias("plang")
        ).collect()
    }
    # 23 words -> chunks of 20 + 3; chunk 1 is en-dominated, the en/de mix
    # must produce at least the en paragraph and never a single language
    assert "en" in langs


def test_langmix_catalog_invariants(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_text_langmix_paragraphs

    rows = q_text_langmix_paragraphs(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_langs"] <= r["n_paras"]
        assert r["is_mixed"] == (r["n_langs"] > 1)
        if r["n_langs"] == 0:
            assert r["primary_lang"] == "und"


# ------------------------------------------------------ host boilerplate


def test_host_boilerplate_finds_planted_banner(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_text_host_boilerplate

    rows = q_text_host_boilerplate(spark, sf_dir).collect()
    flagged = [r for r in rows if r["is_boilerplate"]]
    # every host has ~1/3 of its docs carrying the planted banner chunk
    assert {r["host"] for r in flagged} == {f"h{k}" for k in range(7)}
    for r in flagged:
        assert r["share_ppm"] >= 300000 and r["n_docs"] >= 3
    _assert_clean(_plan(q_text_host_boilerplate(spark, sf_dir)))
