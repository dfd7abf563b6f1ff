"""Session-31 operators: temperature sweep, numeric density, shingle DF
profile, event value pareto."""

from __future__ import annotations

import math

SF = "/root/testdata/sf0.001"


def test_numeric_density_matches_python_recount(spark):
    import re

    from openreviewcrawler_spark.catalog import q_text_numeric_density

    rows = {r["source"]: r for r in q_text_numeric_density(spark, SF).collect()}
    assert rows
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    agg: dict[str, list[int]] = {}
    for d in docs:
        body = f"{d['text']} {d['doc_id'] * 7} items rev {d['doc_id'] % 100}"
        toks = body.split(" ")
        a = agg.setdefault(d["source"], [0, 0, 0, 0, 0])
        a[0] += 1
        a[1] += len(toks)
        a[2] += sum(1 for t in toks if re.fullmatch(r"[0-9]+", t))
        a[3] += sum(1 for c in body if c.isdigit())
        a[4] += len(body)
    assert set(rows) == set(agg)
    for s, (nd, nt, nn, ndig, nch) in agg.items():
        r = rows[s]
        assert (r["n_docs"], r["n_tokens"]) == (nd, nt)
        assert r["numeric_token_ppm"] == nn * 1_000_000 // nt
        assert r["digit_char_ppm"] == ndig * 1_000_000 // nch
        assert 0 < r["numeric_token_ppm"] < 1_000_000


def test_shingle_df_profile_accounts_every_posting(spark):
    from openreviewcrawler_spark.catalog import (
        _corpus,
        q_dedup_shingle_df_profile,
    )
    from openreviewcrawler_spark.operators import dedup

    rows = q_dedup_shingle_df_profile(spark, SF).collect()
    assert rows
    n_postings_direct = dedup.shingles_df(_corpus(spark, SF)).count()
    assert sum(r["n_postings"] for r in rows) == n_postings_direct
    # df >= 1 always, and band 0 (df=1 singletons) must exist in any corpus
    bands = {r["band"] for r in rows}
    assert 0 in bands and bands <= set(range(7))
    # the duplicated corpus slices guarantee a df>=2 band too
    assert bands - {0}
    assert sum(r["posting_share_ppm"] for r in rows) <= 1_000_000
    for r in rows:
        assert r["n_shingles"] <= r["n_postings"]


def test_value_pareto_bands_are_exact_log10(spark):
    from openreviewcrawler_spark.catalog import q_event_value_pareto

    rows = q_event_value_pareto(spark, SF).collect()
    assert len(rows) > 2  # the value distribution spans magnitudes
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    from decimal import ROUND_HALF_UP, Decimal

    def cents(v: float) -> int:
        d = Decimal(v).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        return int(math.floor(d * 100))

    total = sum(cents(e["value"]) for e in ev)
    assert sum(r["value_cents"] for r in rows) == total
    assert sum(r["n_events"] for r in rows) == len(ev)
    for r in rows:
        # band k holds cents in [10^(k-1), 10^k)
        lo, hi = 10 ** (r["band"] - 1), 10 ** r["band"]
        assert r["value_cents"] >= r["n_events"] * (lo if r["band"] > 1 else 0)
        assert r["value_cents"] < r["n_events"] * hi
        assert r["n_users"] <= r["n_events"]
    # bigger-ticket bands carry more revenue per event by construction
    per_ev = sorted(
        (r["band"], r["value_cents"] / r["n_events"]) for r in rows
    )
    assert all(a[1] < b[1] for a, b in zip(per_ev, per_ev[1:]))
