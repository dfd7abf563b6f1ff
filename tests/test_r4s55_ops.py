"""Session-55: supplier nation revenue, typosquat detection."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_typosquat_pairs_and_asymmetry_gate(spark):
    from openreviewcrawler_spark.catalog import q_url_typosquat_detect

    rows = q_url_typosquat_detect(spark, SF).collect()
    assert rows
    # every emitted pair really is distance-1 and ordered
    def lev1(a: str, b: str) -> bool:
        if a == b:
            return False
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return False
        # substitution
        if la == lb:
            return sum(x != y for x, y in zip(a, b)) == 1
        s, l_ = (a, b) if la < lb else (b, a)
        for i in range(len(l_)):
            if l_[:i] + l_[i + 1 :] == s:
                return True
        return False

    for r in rows:
        assert r["host_a"] < r["host_b"]
        assert lev1(r["host_a"], r["host_b"])
        expect = 1 if (r["n_a"] > 3 * r["n_b"] or r["n_b"] > 3 * r["n_a"]) else 0
        assert r["squat_suspect"] == expect
    # the planted srx hosts pair with their src twins and trip the gate
    squats = [r for r in rows if r["squat_suspect"]]
    assert squats
    assert any(
        r["host_a"].startswith("src") and r["host_b"].startswith("srx")
        for r in squats
    )
