"""Session-7 operators: event transition matrix, 2-hop reach, embedding
diversity (pair-free), content-length anomaly, sitemap coverage, chunk
overlap.

Semantic checks on planted fixtures + plan-shape guards for the
at-scale safety properties.
"""

from __future__ import annotations

from pyspark.sql import functions as F

BAD_ALWAYS = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_clean(plan: str, *also_banned: str):
    for op in BAD_ALWAYS + also_banned:
        assert op not in plan, f"{op} in plan:\n{plan}"


# ------------------------------------------------------- transition matrix


def test_transition_matrix_counts_and_ppm(spark):
    from openreviewcrawler_spark.operators.events import transition_matrix

    rows = [
        # user 1: view -> click -> view -> purchase
        (1, 1, "view", 100),
        (1, 2, "click", 200),
        (1, 3, "view", 300),
        (1, 4, "purchase", 400),
        # user 2: view -> view (self transition)
        (2, 5, "view", 100),
        (2, 6, "view", 200),
        # user 3: single event -> contributes NO transition
        (3, 7, "click", 100),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts_ms long"
    )
    out = {
        (r["prev_type"], r["next_type"]): r
        for r in transition_matrix(ev).collect()
    }
    assert out[("view", "click")]["n"] == 1
    assert out[("view", "view")]["n"] == 1
    assert out[("view", "purchase")]["n"] == 1
    assert out[("click", "view")]["n"] == 1
    assert ("click", "purchase") not in out
    # view row: 3 outgoing transitions, each 1/3
    assert out[("view", "click")]["row_total"] == 3
    assert out[("view", "click")]["prob_ppm"] == 333333
    assert out[("click", "view")]["prob_ppm"] == 1000000
    assert len(out) == 4


def test_transition_matrix_ties_break_by_event_id(spark):
    from openreviewcrawler_spark.operators.events import transition_matrix

    # same ts: order is by event_id -> view(1) then click(2)
    rows = [(1, 2, "click", 100), (1, 1, "view", 100)]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts_ms long"
    )
    out = transition_matrix(ev).collect()
    assert len(out) == 1
    assert (out[0]["prev_type"], out[0]["next_type"]) == ("view", "click")


# ------------------------------------------------------------ 2-hop reach


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


def test_two_hop_reach_counts_distinct_and_excludes_self(spark):
    from openreviewcrawler_spark.operators.rank import two_hop_reach

    # 1 -> 2 -> {3, 4}; 1 -> 5 -> {3}; 3 only reachable once (distinct);
    # 2 -> 5 -> 3 ; and a back-edge 2 -> 6 -> 1 checks self-exclusion
    rows = [
        (1, 2),
        (2, 3),
        (2, 4),
        (1, 5),
        (5, 3),
        (2, 5),
        (2, 6),
        (6, 1),
        (6, 2),
    ]
    out = {
        r["src"]: r["n_reach"]
        for r in two_hop_reach(_edges(spark, rows), cap=10).collect()
    }
    # 1: via 2 -> {3,4,5,6}, via 5 -> {3} => {3,4,5,6}
    assert out[1] == 4
    # 2: via 3(none), via 4(none), via 5 -> {3}, via 6 -> {1, 2} minus self
    assert out[2] == 2  # {3, 1}
    # 6: via 1 -> {2,5}, via 2 -> {3,4,5,6} minus self => {2,5,3,4}
    assert out[6] == 4


def test_two_hop_reach_drops_hub_mids(spark):
    from openreviewcrawler_spark.operators.rank import two_hop_reach

    # hub 9 has out-degree 3 > cap=2 -> all 2-hop paths through 9 vanish
    rows = [(1, 9), (9, 2), (9, 3), (9, 4), (1, 8), (8, 2)]
    out = {
        r["src"]: r["n_reach"]
        for r in two_hop_reach(_edges(spark, rows), cap=2).collect()
    }
    assert out == {1: 1}  # only via mid 8 -> {2}


def test_two_hop_reach_plan_is_equi_join_only(spark):
    from openreviewcrawler_spark.operators.rank import two_hop_reach

    df = two_hop_reach(_edges(spark, [(1, 2), (2, 3)]), cap=5)
    _assert_clean(_plan(df))


# ----------------------------------------------------- embedding diversity


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")


def test_pairwise_diversity_orthogonal_identical_antipodal(spark):
    from openreviewcrawler_spark.operators.similarity import pairwise_diversity

    rows = [
        # label 0: orthogonal one-hots -> mean pairwise cos = 0
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.0, 1.0]),
        # label 1: identical directions -> mean pairwise cos ~ 1
        (3, 1, [3.0, 4.0]),
        (4, 1, [6.0, 8.0]),
        # label 2: antipodal -> mean pairwise cos = -1
        (5, 2, [1.0, 0.0]),
        (6, 2, [-1.0, 0.0]),
        # label 3: singleton -> defined as 0
        (7, 3, [5.0, 5.0]),
    ]
    out = {
        r["label"]: r for r in pairwise_diversity(_vecs(spark, rows)).collect()
    }
    assert out[0]["mean_pairwise_cos"] == 0.0
    assert 0.999998 <= out[1]["mean_pairwise_cos"] <= 1.0
    assert out[2]["mean_pairwise_cos"] == -1.0
    assert out[3]["mean_pairwise_cos"] == 0.0
    assert out[1]["n"] == 2


def test_pairwise_diversity_matches_bruteforce(spark):
    """The sum-vector identity == the O(n^2) definition on a small set."""
    import itertools
    import math

    from openreviewcrawler_spark.operators.similarity import pairwise_diversity

    vecs = [
        [1.0, 2.0, 3.0],
        [-2.0, 0.5, 1.0],
        [0.1, 0.1, 4.0],
        [3.0, -1.0, 0.0],
    ]
    rows = [(i, 0, v) for i, v in enumerate(vecs)]
    got = pairwise_diversity(_vecs(spark, rows)).collect()[0][
        "mean_pairwise_cos"
    ]

    def unit(v):
        # mirror the engine fold: float32 ingest, then double arithmetic
        import numpy as np

        v = [float(np.float32(x)) for x in v]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    us = [unit(v) for v in vecs]
    pair = [
        sum(a * b for a, b in zip(x, y))
        for x, y in itertools.combinations(us, 2)
    ]
    want = sum(pair) / len(pair)
    assert abs(got - want) < 1e-5


def test_pairwise_diversity_plan_clean(spark):
    from openreviewcrawler_spark.operators.similarity import pairwise_diversity

    df = pairwise_diversity(_vecs(spark, [(1, 0, [1.0, 0.0])]))
    _assert_clean(_plan(df))


# -------------------------------------------------------- length anomaly


def test_length_anomaly_flags_only_planted_outlier(spark):
    from openreviewcrawler_spark.operators.anomaly import length_anomaly

    rows = (
        [("a", i, 100) for i in range(10)]
        + [("a", 99, 10000)]  # the outlier
        + [("b", i, 200 + i) for i in range(20, 30)]  # tight cluster
        + [("c", 1, 777)]  # singleton host: never flags
    )
    df = spark.createDataFrame(rows, "host string, doc_id long, length long")
    out = length_anomaly(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["host"], r["doc_id"], r["length"]) == ("a", 99, 10000)
    assert r["n_host"] == 11
    assert r["mean_len"] == (10 * 100 + 10000) // 11


def test_length_anomaly_uniform_host_never_flags(spark):
    from openreviewcrawler_spark.operators.anomaly import length_anomaly

    rows = [("a", i, 500) for i in range(50)]
    df = spark.createDataFrame(rows, "host string, doc_id long, length long")
    assert length_anomaly(df).count() == 0


def test_length_anomaly_plan_has_no_forced_broadcast(spark):
    """The per-host stats table is corpus-derived — the join must not
    carry a broadcast HINT (AQE may still pick one at runtime from real
    sizes; what's banned is forcing it)."""
    from openreviewcrawler_spark.operators.anomaly import length_anomaly

    df = spark.createDataFrame(
        [("a", 1, 10)], "host string, doc_id long, length long"
    )
    plan = length_anomaly(df)._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" not in plan.lower()
    _assert_clean(_plan(length_anomaly(df)))


# ------------------------------------------------------- sitemap coverage


def test_sitemap_coverage_invariants(spark):
    from openreviewcrawler_spark.catalog import q_crawl_sitemap_coverage

    rows = q_crawl_sitemap_coverage(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["n_both"] <= min(r["n_sitemap"], r["n_fetched"])
        assert r["n_orphan"] == r["n_fetched"] - r["n_both"]
        assert 0 <= r["coverage_ppm"] <= 1000000
        assert 0 <= r["orphan_ppm"] <= 1000000
        assert r["n_stale"] <= r["n_both"]


def test_sitemap_coverage_plan_single_pass(spark):
    from openreviewcrawler_spark.catalog import q_crawl_sitemap_coverage

    df = q_crawl_sitemap_coverage(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    _assert_clean(plan)
    assert "Join" not in plan  # one scan, one groupBy — no join anywhere


# --------------------------------------------------------- daily anomaly


def test_daily_anomaly_flags_planted_spike(spark):
    from openreviewcrawler_spark.operators.events import daily_anomaly

    day = 86400000
    rows = []
    eid = 0
    # type "a": 4 quiet days of 2 events, then a 9-event spike day
    for d in range(4):
        for _ in range(2):
            rows.append((eid, "a", d * day + eid))
            eid += 1
    for _ in range(9):
        rows.append((eid, "a", 4 * day + eid))
        eid += 1
    ev = spark.createDataFrame(rows, "event_id long, event_type string, ts_ms long")
    out = {r["day"]: r for r in daily_anomaly(ev.select("event_type", "ts_ms")).collect()}
    assert out[0]["n_prior"] == 0 and out[0]["med"] == 0
    assert not out[0]["is_spike"]  # no history yet
    assert not out[3]["is_spike"]  # 2 <= 2 * 2
    spike = out[4]
    assert spike["n"] == 9 and spike["med"] == 2 and spike["n_prior"] == 4
    assert spike["is_spike"]  # 9 > 2 * 2


def test_daily_anomaly_lower_median_and_min_prior(spark):
    from openreviewcrawler_spark.operators.events import daily_anomaly

    day = 86400000
    rows = []
    eid = 0
    # counts per day: 1, 4, 100 — day 2 has only 2 prior days (< min 3)
    for d, cnt in enumerate([1, 4, 100]):
        for _ in range(cnt):
            rows.append((eid, "x", d * day + eid))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, event_type string, ts_ms long")
    out = {r["day"]: r for r in daily_anomaly(ev.select("event_type", "ts_ms")).collect()}
    assert out[2]["med"] == 1  # lower median of [1, 4]
    assert not out[2]["is_spike"]  # n_prior = 2 < min_prior


# --------------------------------------------------------- shard plan


def test_index_shard_plan_round_robin_and_imbalance(spark):
    from openreviewcrawler_spark.operators.similarity import index_shard_plan

    # 4 cells, 2 shards: sizes 10, 8, 5, 3 -> shard0 {10, 5}=15, shard1 {8, 3}=11
    cells = spark.createDataFrame(
        [(1, 10), (2, 8), (3, 5), (4, 3)], "cell long, n long"
    )
    out = {r["shard"]: r for r in index_shard_plan(cells, n_shards=2).collect()}
    assert out[0]["n_vecs"] == 15 and out[1]["n_vecs"] == 11
    assert out[0]["n_cells"] == 2 and out[1]["n_cells"] == 2
    assert out[0]["imbalance_ppm"] == (15 - 11) * 1000000 // 15


def test_index_shard_plan_ties_break_by_cell(spark):
    from openreviewcrawler_spark.operators.similarity import index_shard_plan

    cells = spark.createDataFrame(
        [(7, 5), (3, 5), (9, 5)], "cell long, n long"
    )
    out = {r["shard"]: r for r in index_shard_plan(cells, n_shards=3).collect()}
    # rank order by (n desc, cell asc): 3, 7, 9 -> shards 0, 1, 2
    assert all(out[s]["n_vecs"] == 5 for s in (0, 1, 2))


# --------------------------------------------------- drain / overlap audits


def test_drain_estimate_invariants(spark):
    from openreviewcrawler_spark.catalog import q_crawl_drain_estimate

    rows = q_crawl_drain_estimate(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["drain_ms"] == r["n_urls"] * r["delay_ms"]
        assert 100 <= r["delay_ms"] <= 1000
        assert r["backlog_rounds"] == (r["drain_ms"] + 59999) // 60000
        assert r["is_bottleneck"] == (r["drain_ms"] > 60000)


# ----------------------------------------------------------- bot detect


def test_bot_detect_flags_metronome_not_bursty(spark):
    from openreviewcrawler_spark.operators.events import bot_detect

    rows = []
    # user 1: perfect 1000 ms metronome, 15 events -> flags
    for i in range(15):
        rows.append((1, i, "view", 1000 * (i + 1)))
    # user 2: bursty (gaps 1, 1, 1, 5000, 1, 1, 5000, ...) -> cv^2 >> 0.1
    t = 0
    for i in range(15):
        t += 1 if i % 4 else 5000
        rows.append((2, 100 + i, "view", t))
    # user 3: metronome but only 5 events -> below min_events
    for i in range(5):
        rows.append((3, 200 + i, "view", 1000 * (i + 1)))
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts_ms long"
    )
    out = {r["user_id"]: r for r in bot_detect(ev, min_events=10).collect()}
    assert set(out) == {1}
    assert out[1]["gap_mean_ms"] == 1000
    assert out[1]["n_gaps"] == 14
    assert out[1]["self_ppm"] == 1000000  # all transitions are view->view


def test_bot_detect_plan_single_user_shuffle(spark):
    from openreviewcrawler_spark.operators.events import bot_detect

    ev = spark.createDataFrame(
        [(1, 1, "view", 100)],
        "user_id long, event_id long, event_type string, ts_ms long",
    )
    _assert_clean(_plan(bot_detect(ev)))


# ----------------------------------------------------------- scene cuts


def test_scene_cuts_segments_on_hash_change(spark):
    from openreviewcrawler_spark.operators.multimodal import scene_cuts

    h1, h2 = 0b1111111111111111, 0  # hamming 16 > thr
    h3 = h2 ^ 0b11  # hamming 2 <= thr from h2: same scene
    rows = [
        (1, 0, h1),
        (1, 1, h1),
        (1, 2, h2),  # cut
        (1, 3, h3),  # NOT a cut (within threshold)
        (1, 4, h1),  # cut
        (2, 0, h2),  # separate video: its own scene 1
    ]
    frames = spark.createDataFrame(rows, "video_id long, frame_idx long, phash long")
    out = {
        (r["video_id"], r["scene_seq"]): r
        for r in scene_cuts(frames, hamming_thr=8).collect()
    }
    assert out[(1, 1)]["start_frame"] == 0 and out[(1, 1)]["n_frames"] == 2
    assert out[(1, 2)]["start_frame"] == 2 and out[(1, 2)]["n_frames"] == 2
    assert out[(1, 3)]["start_frame"] == 4 and out[(1, 3)]["n_frames"] == 1
    assert out[(2, 1)]["n_frames"] == 1
    assert len(out) == 4


def test_scene_cut_catalog_scenes_partition_the_frames(spark):
    from collections import defaultdict

    from openreviewcrawler_spark.catalog import q_mm_scene_cut_plan

    rows = q_mm_scene_cut_plan(spark, "/root/testdata/sf0.001").collect()
    assert rows
    per_video = defaultdict(list)
    for r in rows:
        # hash changes only on the 4-frame grid (two adjacent scene
        # hashes CAN coincidentally land within the hamming threshold
        # and merge, so lengths are multiples of 4 up to the tail)
        assert r["start_frame"] % 4 == 0
        per_video[r["video_id"]].append(r)
    for vid, scenes in per_video.items():
        scenes.sort(key=lambda r: r["scene_seq"])
        assert scenes[0]["start_frame"] == 0
        total = sum(r["n_frames"] for r in scenes)
        assert total == 12 + vid % 9  # scenes partition the frame range


# ------------------------------------------------------ replay locality


def test_warc_replay_locality_invariants(spark):
    from openreviewcrawler_spark.catalog import q_warc_replay_locality

    rows = q_warc_replay_locality(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 4
    for r in rows:
        assert r["seek_bytes"] >= 0
        assert (
            r["locality_ppm"]
            == r["total_bytes"]
            * 1000000
            // (r["total_bytes"] + r["seek_bytes"])
        )
    # random arrival order must pay real seeking somewhere
    assert any(r["seek_bytes"] > 0 for r in rows)
