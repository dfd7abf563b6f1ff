"""Session-8 operators: DGA-suspect hostnames, outlink spam score,
churned-user detection.

Semantic checks on the deterministic derivations + plan-shape guards.
"""

from __future__ import annotations

BAD_ALWAYS = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_clean(plan: str, *also_banned: str):
    for op in BAD_ALWAYS + also_banned:
        assert op not in plan, f"{op} in plan:\n{plan}"


# ---------------------------------------------------------- url_dga_suspect


def test_dga_predicate_matches_row_fields(spark):
    from openreviewcrawler_spark.catalog import q_url_dga_suspect

    rows = q_url_dga_suspect(spark, SF).collect()
    assert rows, "expected distinct hosts"
    for r in rows:
        name = r["host"].split(".", 1)[0]
        assert r["host"].endswith(".example")
        assert r["name_len"] == len(name)
        assert r["n_digits"] == sum(c.isdigit() for c in name)
        vowel_ppm = sum(c in "aeiou" for c in name) * 1_000_000 // len(name)
        assert r["vowel_ppm"] == vowel_ppm
        expect = (
            r["name_len"] >= 10 and r["n_digits"] >= 3
            and r["vowel_ppm"] < 300_000
        )
        assert r["is_suspect"] == expect


def test_dga_flags_md5_hosts_not_clean_sources(spark):
    from openreviewcrawler_spark.catalog import q_url_dga_suspect

    rows = q_url_dga_suspect(spark, SF).collect()
    # md5-derived names are 12 hex chars; source names are short words.
    md5ish = [r for r in rows if r["name_len"] == 12 and r["n_digits"] >= 3]
    assert md5ish, "planted DGA hosts should exist"
    n_suspect = sum(r["is_suspect"] for r in rows)
    assert 0 < n_suspect < len(rows)


def test_dga_runs_on_distinct_hosts_plan_clean(spark):
    from openreviewcrawler_spark.catalog import q_url_dga_suspect

    df = q_url_dga_suspect(spark, SF)
    plan = _plan(df)
    _assert_clean(plan)
    # the detector must aggregate to the distinct host table first
    assert "HashAggregate" in plan


# ---------------------------------------------------------- link_spam_score


def test_spam_docs_concentrate_on_one_host(spark):
    from openreviewcrawler_spark.catalog import q_link_spam_score

    rows = {r["doc_id"]: r for r in q_link_spam_score(spark, SF).collect()}
    assert rows
    for doc_id, r in rows.items():
        assert r["n_links"] == 6
        if doc_id % 7 == 3:
            # all six links land on the single spam<doc_id%3> host
            assert r["n_hosts"] == 1
            assert r["is_spam"] is True
            assert r["diversity_ppm"] == 1_000_000 // 6
        else:
            # six consecutive residues mod 50 are distinct
            assert r["n_hosts"] == 6
            assert r["is_spam"] is False
            assert r["diversity_ppm"] == 1_000_000


def test_spam_score_single_explode_plan(spark):
    from openreviewcrawler_spark.catalog import q_link_spam_score

    df = q_link_spam_score(spark, SF)
    plan = _plan(df)
    _assert_clean(plan)
    # ONE explode emits all outlinks (union-embeds lesson): no Union node
    assert "Union" not in plan
    assert plan.count("Generate") == 1


# ------------------------------------------------------- event_churn_detect


def test_churn_rows_exceed_threshold_and_are_unique(spark):
    from openreviewcrawler_spark.catalog import q_event_churn_detect

    rows = q_event_churn_detect(spark, SF).collect()
    assert rows, "sf0.001 plants churned users"
    ids = [r["user_id"] for r in rows]
    assert len(ids) == len(set(ids))
    assert all(r["hours_inactive"] > 12 for r in rows)


def test_churn_matches_manual_horizon(spark):
    from pyspark.sql import functions as F

    from openreviewcrawler_spark.catalog import q_event_churn_detect

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", F.unix_millis(F.col("ts").cast("timestamp")).alias("ms")
    )
    h = ev.agg(F.max("ms")).collect()[0][0]
    last = {
        r["user_id"]: r["m"]
        for r in ev.groupBy("user_id").agg(F.max("ms").alias("m")).collect()
    }
    expect = {
        u: (h - m) // 3_600_000
        for u, m in last.items()
        if (h - m) // 3_600_000 > 12
    }
    got = {
        r["user_id"]: r["hours_inactive"]
        for r in q_event_churn_detect(spark, SF).collect()
    }
    assert got == expect


def test_churn_plan_no_python_no_cartesian(spark):
    from openreviewcrawler_spark.catalog import q_event_churn_detect

    # the 1-row horizon attach folds to BroadcastNestedLoopJoin by design
    # (accepted single-row cross join) — ban only the real scale killers.
    plan = _plan(q_event_churn_detect(spark, SF))
    for op in ("CartesianProduct", "BatchEvalPython"):
        assert op not in plan, f"{op} in plan:\n{plan}"


# -------------------------------------------------------- gap histogram


def test_gap_histogram_buckets_and_shares(spark):
    from openreviewcrawler_spark.operators.events import gap_histogram

    rows = [
        # user 1: gaps 500 (lt_1s), 1000 (boundary -> 1s_10s), 59_000
        (1, 1, 0),
        (1, 2, 500),
        (1, 3, 1_500),
        (1, 4, 60_500),
        # user 2: one gap of exactly 3_600_000 -> open bucket
        (2, 5, 0),
        (2, 6, 3_600_000),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_id long, ts_ms long")
    out = {r["bucket"]: r for r in gap_histogram(ev).collect()}
    assert out["lt_1s"]["n"] == 1 and out["lt_1s"]["min_gap_ms"] == 500
    assert out["1s_10s"]["n"] == 1 and out["1s_10s"]["min_gap_ms"] == 1000
    assert out["10s_1m"]["n"] == 1
    assert out["ge_1h"]["n"] == 1 and out["ge_1h"]["max_gap_ms"] == 3_600_000
    assert sum(r["n"] for r in out.values()) == 4
    assert all(r["share_ppm"] == 250_000 for r in out.values())


def test_gap_histogram_bounded_output(spark):
    from openreviewcrawler_spark.catalog import q_event_gap_histogram
    from openreviewcrawler_spark.operators.events import GAP_BUCKETS_MS

    rows = q_event_gap_histogram(spark, SF).collect()
    assert 0 < len(rows) <= len(GAP_BUCKETS_MS) + 1
    assert sum(r["share_ppm"] for r in rows) <= 1_000_000


# -------------------------------------------------- last-touch attribution


def test_attribution_strictly_prior_touch(spark):
    from openreviewcrawler_spark.operators.events import (
        last_touch_attribution,
    )

    rows = [
        # user 1: click(1) -> click(2) -> purchase(3): attributes to 2
        (1, 1, "click", 100),
        (1, 2, "click", 200),
        (1, 3, "purchase", 300),
        # user 2: purchase before any click -> dropped
        (2, 4, "purchase", 100),
        (2, 5, "click", 200),
        # user 3: click shares the purchase ts, lower event_id -> counts
        (3, 6, "click", 100),
        (3, 7, "purchase", 100),
        # user 4: click shares ts but HIGHER event_id -> not prior
        (4, 9, "purchase", 100),
        (4, 10, "click", 100),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts_ms long"
    )
    out = {r["convert_event_id"]: r for r in last_touch_attribution(ev).collect()}
    assert out[3]["touch_event_id"] == 2 and out[3]["gap_ms"] == 100
    assert 4 not in out
    assert out[7]["touch_event_id"] == 6 and out[7]["gap_ms"] == 0
    assert 9 not in out
    assert len(out) == 2


def test_attribution_single_shuffle_plan(spark):
    from openreviewcrawler_spark.catalog import q_event_attribution

    df = q_event_attribution(spark, SF)
    plan = _plan(df)
    _assert_clean(plan)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


# ----------------------------------------------------- path-depth stats


def test_path_depth_derivation(spark):
    from openreviewcrawler_spark.catalog import q_url_path_depth_stats

    rows = {r["host"]: r for r in q_url_path_depth_stats(spark, SF).collect()}
    assert set(rows) == {f"h{i}.example" for i in range(7)}
    # recompute from the doc_id residues
    import duckdb

    ids = [
        x[0]
        for x in duckdb.sql(
            f"select doc_id from '{SF}/documents.parquet'"
        ).fetchall()
    ]
    per = {}
    for i in ids:
        h = f"h{i % 7}.example"
        st = per.setdefault(h, [0, 0, 0, 0])  # n, sum_depth, max_depth, n_q
        st[0] += 1
        st[1] += i % 6
        st[2] = max(st[2], i % 6)
        st[3] += 1 if i % 4 == 0 else 0
    for h, (nu, sd, mx, nq) in per.items():
        r = rows[h]
        assert r["n_urls"] == nu and r["max_depth"] == mx
        assert r["mean_depth_ppm"] == sd * 1_000_000 // nu
        assert r["query_ppm"] == nq * 1_000_000 // nu


# ----------------------------------------------------------- PQ encode


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )


def test_pq_seed_vectors_encode_to_themselves(spark):
    from openreviewcrawler_spark.operators.similarity import pq_encode

    # 8-dim vectors; seeds are vec 0..3; vec 4 equals vec 1 exactly
    vecs = [
        [float(i == j) for j in range(8)] for i in range(4)
    ] + [[float(j == 1) for j in range(8)]]
    out = pq_encode(_emb(spark, vecs)).collect()
    by = {(r["vec_id"], r["sub_id"]): r for r in out}
    assert len(out) == 5 * 4
    for vid in range(4):
        for sub in range(4):
            r = by[(vid, sub)]
            assert r["err2"] == 0.0, (vid, sub, r)
    # the clone of seed 1 gets seed 1's code everywhere with zero error
    for sub in range(4):
        r = by[(4, sub)]
        assert r["err2"] == 0.0
        assert r["code"] == by[(1, sub)]["code"]


def test_pq_codes_in_range_and_plan_broadcasts_codebook(spark):
    from openreviewcrawler_spark.catalog import q_embedding_pq_encode
    from openreviewcrawler_spark.operators.similarity import PQ_K, PQ_M

    df = q_embedding_pq_encode(spark, SF)
    rows = df.collect()
    assert len(rows) == 500 * PQ_M
    assert all(0 <= r["code"] < PQ_K for r in rows)
    assert all(r["err2"] >= 0.0 for r in rows)
    plan = _plan(df)
    _assert_clean(plan)
    assert "BroadcastHashJoin" in plan  # codebook attaches map-side
