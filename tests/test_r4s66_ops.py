"""Session-66: mixture HHI, power-user migration."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_power_user_migration_matrix(spark):
    from openreviewcrawler_spark.catalog import q_event_power_user_migration

    rows = {(r["band_a"], r["band_b"]): r["n_users"] for r in q_event_power_user_migration(spark, SF).collect()}
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    ts = [int(e["ts"].timestamp() * 1000) for e in ev]
    lo, hi = min(ts), max(ts)
    import collections

    per = collections.defaultdict(lambda: [0, 0])
    for e, t in zip(ev, ts):
        per[e["user_id"]][0 if t * 2 < lo + hi else 1] += 1

    def band(n: int) -> int:
        if n == 0:
            return -1
        if n == 1:
            return 0
        for i, cap in enumerate((3, 7, 15, 31, 63)):
            if n <= cap:
                return i + 1
        return 6

    exp = collections.Counter(
        (band(a), band(b)) for a, b in per.values()
    )
    assert rows == dict(exp)
    # both halves carry every tracked user at this fixture density:
    # the -1 column may be empty, but diagonal mass must dominate
    diag = sum(n for (a, b), n in rows.items() if a == b)
    assert diag * 2 >= sum(rows.values())
