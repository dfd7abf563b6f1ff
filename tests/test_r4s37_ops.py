"""Session-37 operators: compression clusters, stationary type mix,
shuffle audit."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_stationary_mix_is_a_near_distribution_and_converges(spark):
    from openreviewcrawler_spark.catalog import q_event_type_stationary_mix

    rows = {r["event_type"]: r["stationary_ppm"] for r in q_event_type_stationary_mix(spark, SF).collect()}
    assert len(rows) >= 3
    total = sum(rows.values())
    # mass leaks only through per-user final events and ppm floors:
    # still close to a distribution
    assert 900_000 < total <= 1_000_000
    # python reference: same chain, same fold semantics (double precision
    # differences only below the ppm floor)
    ev = sorted(
        spark.read.parquet(f"{SF}/events.parquet").collect(),
        key=lambda e: (e["user_id"], e["ts"], e["event_id"]),
    )
    import collections

    trans = collections.Counter()
    for a, b in zip(ev, ev[1:]):
        if a["user_id"] == b["user_id"]:
            trans[(a["event_type"], b["event_type"])] += 1
    row_tot = collections.Counter()
    for (p_, _c), n in trans.items():
        row_tot[p_] += n
    types = sorted({e["event_type"] for e in ev})
    v = {t: 1.0 / len(types) for t in types}
    for _ in range(3):
        nv = collections.defaultdict(float)
        for (p_, c), n in trans.items():
            nv[c] += v.get(p_, 0.0) * (n / row_tot[p_])
        v = dict(nv)
    for t, ppm in rows.items():
        assert abs(ppm - int(v.get(t, 0.0) * 1_000_000)) <= 2
