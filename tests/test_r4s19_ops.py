"""Session-19 operators: mixture rebalance plan, robots rules diff."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_robots_diff_matches_planted_changes(spark):
    from openreviewcrawler_spark.catalog import q_robots_rules_diff

    rows = q_robots_rules_diff(spark, SF).collect()
    assert len(rows) == 500
    for r in rows:
        i = int(r["host"][1:])
        if i % 3 == 0:  # /a dropped
            assert (r["n_added"], r["n_removed"]) == (0, 1)
            assert r["delay_changed"] == 0
        elif i % 3 == 1:  # /q added
            assert (r["n_added"], r["n_removed"]) == (1, 0)
            assert r["delay_changed"] == 0
        else:  # delay bumped
            assert (r["n_added"], r["n_removed"]) == (0, 0)
            assert r["delay_changed"] == 1
            assert r["delay_new"] == r["delay_old"] + 1
        assert r["n_rules_old"] == 2
