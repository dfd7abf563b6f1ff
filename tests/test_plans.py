"""Physical-plan assertions (SURVEY.md §4): the optimizations we rely on at
100 TB must actually appear in the plan — predicate pushdown to the parquet
scan, column pruning of fat payload columns, broadcast hash joins for dims,
and no Exchange where co-partitioning should be reused."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def n_exchanges(plan: str) -> int:
    import re

    return len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))


@pytest.fixture()
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def test_filter_pushdown_reaches_scan(spark, sf_dir, lineitem):
    df = lineitem.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" in plan


def test_column_pruning_drops_fat_columns(spark, sf_dir):
    """The documents scan for a 2-column projection must not read text."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = docs.select("doc_id", "lang")
    plan = plan_of(df)
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert rs and "text" not in rs[0]


def test_fetch_join_prunes_html_until_join(spark, sf_dir):
    """catalog fetch join: only url/host/lang/text are read — the projection
    reaches the scan (no full-width documents read)."""
    from openreviewcrawler_spark.catalog import q_crawl_fetch_join

    plan = plan_of(q_crawl_fetch_join(spark, sf_dir))
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert rs
    assert all("n_chars" not in ln for ln in rs)  # untouched column never read


def test_robots_is_broadcast_join(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_crawl_robots_filter

    plan = plan_of(q_crawl_robots_filter(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the candidate side must NOT be shuffled for this join
    assert "SortMergeJoin" not in plan


def test_seen_anti_join_shape(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_crawl_seen_filter

    plan = plan_of(q_crawl_seen_filter(spark, sf_dir))
    assert "LeftAnti" in plan


def test_agg_has_map_side_partial(spark, sf_dir, lineitem):
    df = lineitem.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    plan = plan_of(df)
    # partial_sum before the exchange, final after: exactly one shuffle
    assert "partial_sum" in plan
    assert n_exchanges(plan) == 1
    assert "hashpartitioning(l_returnflag" in plan


def test_canonicalize_stage_keeps_codegen(spark, sf_dir):
    """The decode UDF must not knock the surrounding stage out of
    whole-stage codegen (the 64KB-blowup regression this replaced)."""
    from openreviewcrawler_spark.catalog import q_crawl_canonicalize

    df = q_crawl_canonicalize(spark, sf_dir)
    plan = plan_of(df)
    # formatted explain marks codegen'd operators with a '*' prefix
    assert "* Project" in plan
    assert "ArrowEvalPython" in plan  # the decode UDF is Arrow, not row-Python
    assert "BatchEvalPython" not in plan  # never a row-at-a-time Python UDF


def test_simhash_plan_is_equi_join_only(spark, sf_dir):
    """Candidate generation must block on signature bands: every join in the
    simhash plan is an equi-join (hash/sort-merge on keys) — no cartesian
    product or nested-loop fallback anywhere (the r1 all-pairs-within-lang
    plan is banned)."""
    from openreviewcrawler_spark.catalog import q_dedup_simhash

    plan = plan_of(q_dedup_simhash(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_cosine_plan_is_equi_join_only(spark, sf_dir):
    """Same discipline for embedding near-dup: candidates come from an LSH
    signature-band equi-join, never label-blocked brute force."""
    from openreviewcrawler_spark.catalog import q_dedup_embedding_cosine

    plan = plan_of(q_dedup_embedding_cosine(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_lsh_topk_retrieval_is_bucket_join(spark, sf_dir):
    """The ANN answer path must retrieve candidates through the signature
    bucket join — broadcast/shuffled EQUI joins only, and no join may
    degrade to a nested-loop scan of the corpus."""
    from openreviewcrawler_spark.catalog import q_ann_lsh_topk

    plan = plan_of(q_ann_lsh_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # tiny query side broadcast


def _fetched_plan_for(spark, max_bytes: int) -> str:
    """One scheduling round over a tiny synthetic frontier with the given
    fetch-broadcast byte bound; returns the fetched-side physical plan."""
    from openreviewcrawler_spark.plans.crawl import (
        CrawlConfig,
        run_round,
        seeds_to_frontier,
    )
    from openreviewcrawler_spark.sources.bench_data import (
        synth_pages,
        synth_robots,
        synth_seeds,
        synth_seen,
    )

    n_pages, n_hosts = 600, 8
    pages = synth_pages(spark, n_pages, n_hosts)
    frontier = seeds_to_frontier(synth_seeds(spark, n_pages, n_hosts))
    seen = synth_seen(spark, n_pages, n_hosts)
    robots = synth_robots(spark, n_hosts, 8)
    cfg = CrawlConfig(max_rounds=1, default_budget=8,
                      broadcast_fetch_max_bytes=max_bytes)
    r = run_round(spark, pages, frontier, seen, robots, cfg, 1, 0)
    plan = plan_of(r["fetched"])
    for df in r["_cached"]:
        df.unpersist()
    return plan


def test_fetch_broadcast_bound_small_batch_is_map_side(spark):
    """A batch under the byte bound fetches via ONE broadcast inner join of
    the full stamped batch — the fat html column is filtered inside the scan
    stage and never shuffled, and the stamped relation is built/shipped once
    (r3: the former semi-join + attach-join shape broadcast it twice; each
    broadcast build is serial driver time in every scheduling round)."""
    plan = _fetched_plan_for(spark, 128 << 20)
    assert "BroadcastHashJoin" in plan
    # the old two-broadcast shape showed a LeftSemi probe + a second inner
    # attach join; the single-broadcast shape has no semi join anywhere
    assert "LeftSemi" not in plan
    assert "SortMergeJoin" not in plan


def test_fetch_broadcast_bound_large_batch_falls_back_to_shuffle(spark):
    """Forcing the estimated batch size over the bound (bound=0) must select
    the shuffle-join path: no plan-level broadcast HINT on the stamped batch
    (the r2 row-count threshold would happily hint hundreds of MB). With
    statistics-based auto-broadcast disabled, a hint-free plan shows a real
    shuffle join; Catalyst remains free to pick broadcast on its own
    statistics in production — that's the point of removing the hint."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _fetched_plan_for(spark, 0)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "LeftSemi" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)


def test_admit_single_shuffle_on_host(spark, sf_dir):
    """Politeness admit = one exchange on host, no extra repartition."""
    from openreviewcrawler_spark.catalog import q_crawl_politeness_admit

    plan = plan_of(q_crawl_politeness_admit(spark, sf_dir))
    assert n_exchanges(plan) == 1
    assert "hashpartitioning(host" in plan


def test_ngram_sizes_attach_without_forced_broadcast(spark, sf_dir):
    """r3 verdict #2: the per-document size table (one row per corpus doc)
    must NOT carry a broadcast hint — a forced broadcast of a corpus-sized
    relation is an OOM at the 10^10-doc design point and overrides AQE's
    size logic. The only static BroadcastExchange allowed in the ngram plan
    is the hot-shingle stop list (provably small: capped by MAX_SHINGLE_DF
    pruning); the size attaches ride the existing doc_id shuffle keys."""
    from openreviewcrawler_spark.catalog import q_dedup_ngram_jaccard

    df = q_dedup_ngram_jaccard(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the *hints* are what must be bounded: Catalyst/AQE may still choose
    # broadcast from its own size estimates at small SF (fine — that logic
    # backs off at scale); a literal F.broadcast() on a corpus-derived
    # relation cannot. Every hint in the analyzed plan must wrap the capped
    # hot-shingle stop list (its subtree filters on the __df document
    # frequency), never the per-document n_sh size aggregate.
    lines = df._jdf.queryExecution().analyzed().toString().splitlines()
    hint_idx = [i for i, ln in enumerate(lines) if "ResolvedHint" in ln]
    assert hint_idx  # the stop-list broadcast is load-bearing, keep it
    for i in hint_idx:
        sub = "\n".join(lines[i : i + 4])
        assert "__df" in sub and "n_sh" not in sub, sub


def test_no_forced_broadcast_of_scaling_relations(spark):
    """r4 audit extending r3 verdict #2 beyond ngram_jaccard: no catalog
    query may carry a literal F.broadcast() hint on a relation whose row
    count scales with the corpus/SF (here: per-note content).
    Hints on FIXED-cardinality dims (nation=25, region=5) and provably
    capped lists (hot buckets, query sets, centroids) are fine; so is AQE
    choosing broadcast from its own estimates at small SF — that logic
    backs off at scale, a hint cannot."""
    # flatten_note_revisions: the per-note parent-content attach (wide
    # content_json, one row per note) joins without a hint
    from openreviewcrawler_spark.operators.flatten import flatten_note_revisions

    def _note_like(extra: dict):
        df = spark.createDataFrame([(1, "{}")], "id long, content_json string")
        df = df.withColumns(
            {c: F.lit(None).cast("string") for c in (
                "original", "cdate", "tcdate", "tmdate", "ddate", "number",
                "forum", "referent", "invitation", "replyto",
            )}
        ).withColumn("content", F.create_map().cast("map<string,string>"))
        return df.withColumns(extra)

    notes = _note_like({})
    revs = _note_like(
        {"parent_id": F.lit(1), "reply_count": F.lit(0).cast("long")}
    )
    out = flatten_note_revisions(revs, notes)
    assert "ResolvedHint" not in out._jdf.queryExecution().analyzed().toString()


def test_round_counts_ride_observations(spark):
    """The round's stage counts are Observation side-effects of the ONE
    action that materializes the admitted batch — no union-tagged counts job
    (which re-ran the scheduling lineage once per branch). Checks: (a) the
    counts equal independently-computed ground truth, (b) the degenerate
    statically-empty frontier (optimizer collapses the plan, dropping the
    CollectMetrics nodes) still reports zeros instead of hanging/raising."""
    from openreviewcrawler_spark.operators.robots import apply_robots
    from openreviewcrawler_spark.operators.seen import anti_join_seen
    from openreviewcrawler_spark.plans.crawl import (
        FRONTIER_SCHEMA,
        SEEN_SCHEMA,
        CrawlConfig,
        run_round,
        seeds_to_frontier,
    )
    from openreviewcrawler_spark.sources.bench_data import (
        synth_pages,
        synth_robots,
        synth_seeds,
        synth_seen,
    )

    n_pages, n_hosts = 900, 11
    pages = synth_pages(spark, n_pages, n_hosts)
    frontier = seeds_to_frontier(synth_seeds(spark, n_pages, n_hosts))
    seen = synth_seen(spark, n_pages, n_hosts)
    robots = synth_robots(spark, n_hosts, 4)
    cfg = CrawlConfig(max_rounds=1, default_budget=4, seq_small_threshold=0)
    r = run_round(spark, pages, frontier, seen, robots, cfg, 1, 0)

    cand = anti_join_seen(frontier, seen)
    allowed, denied = apply_robots(cand, robots, 4, 60.0)
    assert r["n_candidates"] == cand.count()
    assert r["n_denied"] == denied.count()
    assert r["n_admitted"] == r["fetched"].count()
    for df in r["_cached"]:
        df.unpersist()

    r0 = run_round(
        spark,
        pages,
        spark.createDataFrame([], FRONTIER_SCHEMA),
        spark.createDataFrame([], SEEN_SCHEMA),
        robots,
        cfg,
        1,
        0,
    )
    assert r0 == {"n_candidates": 0}
