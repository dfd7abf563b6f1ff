"""Driver-red prevention by construction (r5 verdict tasks 2 + 8).

Three rounds in a row the repr()-based local gate passed an entry the
driver's TYPED hash rejected: float repr (r1), array columns (r3), and
integer width (r4: DuckDB windowed sum(BIGINT) -> HUGEINT passthrough in
crawl_bandwidth_admit). These tests pin the two gate upgrades that make
that class impossible:

1. ``scripts/check_oracle.type_mismatches`` — a width-aware dtype compare
   (DuckDB DESCRIBE vs Spark dtypes) that now runs inside the gate; the
   exact r4 failure shape (uncast windowed sum) must FAIL it and the
   cast version must pass.
2. A full-catalog DESCRIBE sweep asserting every oracle output column is
   a scalar <= 64-bit type in DuckDB (no HUGEINT/DECIMAL/LIST/STRUCT
   passthrough anywhere). The Spark side of the same invariant is
   enforced cross-engine by the gate itself (check_oracle compares every
   entry's Spark dtypes against DESCRIBE and bans nested Spark outputs),
   which runs at both SFs before each commit per CLAUDE.md.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from check_oracle import norm_duck_type, norm_spark_type, type_mismatches  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")
    return c


def test_hugeint_never_matches_any_spark_type():
    duck_tokens = {norm_duck_type(t) for t in ("HUGEINT", "UHUGEINT", "UBIGINT")}
    spark_tokens = {
        norm_spark_type(t)
        for t in ("bigint", "long", "int", "double", "float", "string", "decimal(38,0)")
    }
    assert not (duck_tokens & spark_tokens)


def test_uncast_windowed_sum_fails_the_gate(con):
    """The exact crawl_bandwidth_admit r4 shape: sum(BIGINT) OVER -> HUGEINT."""
    uncast = """
    with u as (select (doc_id % 100)::BIGINT as b, doc_id from documents)
    select doc_id, sum(b) over (order by doc_id) as cum from u
    """
    spark_dtypes = [("doc_id", "bigint"), ("cum", "bigint")]
    mis = type_mismatches(spark_dtypes, con.execute("describe " + uncast).fetchall())
    assert mis == ["cum: spark=i64 duckdb=i128"]

    cast = """
    with u as (select (doc_id % 100)::BIGINT as b, doc_id from documents)
    select doc_id, (sum(b) over (order by doc_id))::BIGINT as cum from u
    """
    assert type_mismatches(spark_dtypes, con.execute("describe " + cast).fetchall()) == []


def test_plain_aggregate_sum_also_flagged(con):
    """Non-windowed sum(BIGINT) is HUGEINT too — same trap, no window."""
    sql = "select sum(doc_id) as s from documents"
    mis = type_mismatches([("s", "bigint")], con.execute("describe " + sql).fetchall())
    assert mis == ["s: spark=i64 duckdb=i128"]


def test_duplicate_output_column_fails_the_gate(con):
    """A by-name compare sees one copy of a duplicated column, so a dtype
    mismatch on the other copy (here the HUGEINT sum) would pass unseen;
    the gate rejects duplicate output names outright."""
    sql = "select sum(doc_id) as n, count(*)::BIGINT as n from documents"
    mis = type_mismatches(
        [("n", "bigint"), ("n", "bigint")], con.execute("describe " + sql).fetchall()
    )
    assert mis == [
        "n: duplicate output column in spark",
        "n: duplicate output column in duckdb",
    ]


SCALAR_OK = {"i64", "i32", "i16", "i8", "f64", "f32", "str", "bool", "date", "ts", "bytes"}


def test_all_catalog_oracles_emit_scalar_64bit_columns(con):
    """Task-8 sweep: DESCRIBE every oracle; ban >64-bit ints, decimals,
    lists/structs/maps in the OUTPUT schema (intermediate decimal math is
    fine and required by the float-parity recipes)."""
    from openreviewcrawler_spark.catalog import CATALOG

    offenders = []
    for name, qd in CATALOG.items():
        if qd.sql is None:
            continue
        try:
            desc = con.execute("describe " + qd.sql).fetchall()
        except Exception as e:  # a non-describable oracle is itself a defect
            offenders.append((name, f"DESCRIBE-ERR {str(e)[:120]}"))
            continue
        for col, typ, *_ in desc:
            if norm_duck_type(typ) not in SCALAR_OK:
                offenders.append((name, f"{col}: {typ}"))
    assert offenders == []
