"""Session-10 operators: PQ ADC search, DAU/WAU stickiness, session
concurrency peak, classifier calibration, BPE merge mining, WARC
compaction planning.

Semantic checks against exact Python models + plan-shape guards.
"""

from __future__ import annotations

import collections

BAD_ALWAYS = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")

SF = "/root/testdata/sf0.001"

DAY_MS = 86_400_000


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_clean(plan: str, *also_banned: str):
    for op in BAD_ALWAYS + also_banned:
        assert op not in plan, f"{op} in plan:\n{plan}"


def _events_ms_rows(spark):
    from openreviewcrawler_spark.catalog import _events_ms

    return _events_ms(spark, SF).collect()


def _sessions(rows):
    """30-min-gap sessionization mirror: [(user, sess, st, en)]."""
    by_user = collections.defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append((r["ts_ms"], r["event_id"]))
    out = []
    for u, evs in by_user.items():
        evs.sort()
        sess, st, prev = 0, None, None
        for ts, _eid in evs:
            if prev is None or ts - prev > 1_800_000:
                if st is not None:
                    out.append((u, sess, st, prev))
                sess += 1
                st = ts
            prev = ts
        out.append((u, sess, st, prev))
    return out


# ----------------------------------------------------------- ann_pq_adc_topk


def _seq_sq_l2(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def _adc_model(vecs, m=4, k_codes=4, q_mod=50, k=3):
    """Exact mirror: sequential index-order folds, fixed-order subspace sum,
    ties by code asc / cand_id asc."""
    ids = sorted(vecs)
    seeds = ids[:k_codes]
    d = len(vecs[ids[0]])
    step = d // m
    sub = lambda e, j: e[j * step : (j + 1) * step]  # noqa: E731
    cb = {
        (code, j): sub(vecs[sid], j)
        for code, sid in enumerate(seeds)
        for j in range(m)
    }
    codes = {}
    for vid in ids:
        for j in range(m):
            best = min(
                range(k_codes),
                key=lambda c: (_seq_sq_l2(sub(vecs[vid], j), cb[(c, j)]), c),
            )
            codes[(vid, j)] = best
    out = {}
    for q in ids:
        if q % q_mod:
            continue
        lut = {
            (j, c): _seq_sq_l2(sub(vecs[q], j), cb[(c, j)])
            for j in range(m)
            for c in range(k_codes)
        }
        scored = []
        for vid in ids:
            if vid == q:
                continue
            adc = 0.0
            for j in range(m):
                adc = adc + lut[(j, codes[(vid, j)])]
            scored.append((adc, vid))
        scored.sort()
        out[q] = [
            (rank + 1, vid, int(adc * 1_000_000) / 1_000_000.0)
            for rank, (adc, vid) in enumerate(scored[:k])
        ]
    return out


def test_pq_adc_matches_exact_model(spark):
    from openreviewcrawler_spark.catalog import q_ann_pq_adc_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb}
    model = _adc_model(vecs)
    got = collections.defaultdict(list)
    for r in q_ann_pq_adc_topk(spark, SF).collect():
        got[r["query_id"]].append((r["rank"], r["cand_id"], r["adc"]))
    for q in got:
        got[q].sort()
    assert set(got) == set(model)
    for q, expect in model.items():
        assert got[q] == expect, f"query {q}: {got[q]} != {expect}"


def test_pq_adc_partitioning_invariant(spark):
    """Top-k is a semilattice: the two-phase per-partition prune must give
    identical output under any input partitioning."""
    from openreviewcrawler_spark.operators.similarity import pq_adc_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = sorted(map(tuple, pq_adc_topk(emb.repartition(3)).collect()))
    b = sorted(map(tuple, pq_adc_topk(emb.repartition(17, "vec_id")).collect()))
    assert a == b


def test_pq_adc_plan_broadcasts_lut_no_nlj(spark):
    from openreviewcrawler_spark.catalog import q_ann_pq_adc_topk

    plan = _plan(q_ann_pq_adc_topk(spark, SF))
    _assert_clean(plan)
    assert "BroadcastHashJoin" in plan, "LUT should attach by broadcast"


# ---------------------------------------------------------- event_stickiness


def test_stickiness_matches_python_model(spark):
    from openreviewcrawler_spark.catalog import q_event_stickiness

    rows = _events_ms_rows(spark)
    ud = {(r["user_id"], r["ts_ms"] // DAY_MS) for r in rows}
    days = sorted({d for _, d in ud})
    expect = {}
    for d in days:
        dau = sum(1 for _, dd in ud if dd == d)
        wau = len({u for u, dd in ud if d - 6 <= dd <= d})
        expect[d] = (dau, wau, dau * 1_000_000 // wau)
    got = {
        r["day"]: (r["dau"], r["wau"], r["stickiness_ppm"])
        for r in q_event_stickiness(spark, SF).collect()
    }
    assert got == expect


def test_stickiness_bounds(spark):
    from openreviewcrawler_spark.catalog import q_event_stickiness

    for r in q_event_stickiness(spark, SF).collect():
        assert 1 <= r["dau"] <= r["wau"]
        assert 0 < r["stickiness_ppm"] <= 1_000_000


# ----------------------------------------------------- event_concurrency_peak


def test_concurrency_peak_matches_sweep_model(spark):
    from openreviewcrawler_spark.catalog import q_event_concurrency_peak

    sessions = _sessions(_events_ms_rows(spark))
    deltas = collections.defaultdict(list)
    for u, s, st, en in sessions:
        for day in range(st // DAY_MS, en // DAY_MS + 1):
            deltas[day].append((max(st, day * DAY_MS), -1, u, s, +1))
            deltas[day].append(
                (min(en, day * DAY_MS + DAY_MS - 1) + 1, +1, u, s, -1)
            )
    expect = {}
    for day, dl in deltas.items():
        dl.sort()  # (ts, -delta, user, sess): +1 before -1 at equal ts
        run = peak = n = 0
        for _ts, _nd, _u, _s, delta in dl:
            run += delta
            peak = max(peak, run)
            n += delta == 1
        expect[day] = (n, peak)
    got = {
        r["day"]: (r["n_sessions"], r["peak"])
        for r in q_event_concurrency_peak(spark, SF).collect()
    }
    assert got == expect


def test_concurrency_peak_bounds(spark):
    from openreviewcrawler_spark.catalog import q_event_concurrency_peak

    for r in q_event_concurrency_peak(spark, SF).collect():
        assert 1 <= r["peak"] <= r["n_sessions"]


# ------------------------------------------------------ vocab_bpe_merge_topk


def test_bpe_merge_matches_counter(spark):
    from openreviewcrawler_spark.catalog import BPE_TOP_K, q_vocab_bpe_merge_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("text").collect()
    cnt = collections.Counter()
    for r in docs:
        arr = r["text"].split(" ")
        for a, b in zip(arr, arr[1:]):
            cnt[a + " " + b] += 1
    expect = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP_K]
    got = sorted(
        q_vocab_bpe_merge_topk(spark, SF).collect(), key=lambda r: r["rank"]
    )
    assert [(r["pair"], r["cnt"]) for r in got] == expect
    assert [r["rank"] for r in got] == list(range(1, len(expect) + 1))


# ------------------------------------------------------ warc_compaction_plan


def test_warc_compaction_conserves_bytes_and_records(spark):
    from openreviewcrawler_spark.catalog import (
        WARC_COMPACT_TARGET,
        WARC_HEADER_BYTES,
        q_warc_compaction_plan,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    total = sum(r["n_chars"] + WARC_HEADER_BYTES for r in docs)
    max_rec = max(r["n_chars"] + WARC_HEADER_BYTES for r in docs)
    rows = sorted(
        q_warc_compaction_plan(spark, SF).collect(), key=lambda r: r["archive_id"]
    )
    assert sum(r["n_records"] for r in rows) == len(docs)
    assert sum(r["total_bytes"] for r in rows) == total
    # contiguous archive ids; every archive bounded by target + one record
    assert [r["archive_id"] for r in rows] == list(range(len(rows)))
    for r in rows:
        assert r["total_bytes"] <= WARC_COMPACT_TARGET + max_rec
        assert 1 <= r["n_hosts"] <= 7


def test_warc_compaction_locality(spark):
    """(host, doc) layout keeps host spans contiguous: total host switches
    across archives can exceed 7 only by the number of boundary cuts."""
    from openreviewcrawler_spark.catalog import q_warc_compaction_plan

    rows = q_warc_compaction_plan(spark, SF).collect()
    assert sum(r["n_hosts"] for r in rows) <= 7 + len(rows) - 1
