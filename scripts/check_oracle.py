"""Local replica of the driver's Spark-vs-DuckDB correctness gate.

Runs every catalog query at the given sf dir on both engines, compares
row count + sorted-by-name columns + order-insensitive value multiset.
Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    if isinstance(v, float):
        # Full round-trip precision: STRICTER than the driver's value hash, so
        # local green predicts driver green (r1's %.6g masked the q3_shipping
        # partial-agg-order mismatch). Engines must produce bit-identical
        # doubles; only -0.0/NaN representation noise is normalized.
        if v != v:
            return "nan"
        if v == 0.0:
            return "0.0"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def df_multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def norm_spark_type(t: str) -> str:
    """Collapse a Spark simpleString dtype to a width-aware token."""
    t = t.lower()
    simple = {
        "bigint": "i64", "long": "i64", "int": "i32", "integer": "i32",
        "smallint": "i16", "tinyint": "i8", "double": "f64", "float": "f32",
        "string": "str", "boolean": "bool", "date": "date", "binary": "bytes",
    }
    if t in simple:
        return simple[t]
    if t.startswith("timestamp"):
        return "ts"
    if t.startswith("decimal"):
        return "dec" + t[len("decimal"):].replace(" ", "")
    return t  # arrays/maps/structs pass through (banned separately by tests)


def norm_duck_type(t: str) -> str:
    """Collapse a DuckDB DESCRIBE type to the same token space.

    HUGEINT/UHUGEINT deliberately normalize to 128-bit tokens that can
    NEVER equal a Spark type: the driver's typed hash diverges on integer
    width even when repr() of the values agrees (crawl_bandwidth_admit,
    round 4) — so width mismatches must fail locally.
    """
    t = t.upper()
    simple = {
        "BIGINT": "i64", "INTEGER": "i32", "INT": "i32", "SMALLINT": "i16",
        "TINYINT": "i8", "HUGEINT": "i128", "UHUGEINT": "u128",
        "UBIGINT": "u64", "UINTEGER": "u32", "DOUBLE": "f64", "FLOAT": "f32",
        "REAL": "f32", "VARCHAR": "str", "BOOLEAN": "bool", "DATE": "date",
        "BLOB": "bytes",
    }
    if t in simple:
        return simple[t]
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t.startswith("DECIMAL"):
        return "dec" + t[len("DECIMAL"):].replace(" ", "")
    return t.lower()


def type_mismatches(spark_dtypes, duck_desc):
    """Column-by-column dtype comparison (case-insensitive names).

    Returns a list of 'col: spark=<tok> duckdb=<tok>' strings for every
    column whose normalized types differ. This is the local stand-in for
    the driver's TYPED value hash (r1 float repr, r3 arrays, r4 integer
    width were all classes the value-only compare could not see).

    A name that occurs twice in either output is itself reported: a
    by-name compare would see only one of the copies, so a dtype mismatch
    on the other would pass unseen.
    """
    s = [(n.lower(), norm_spark_type(t)) for n, t in spark_dtypes]
    d = [(r[0].lower(), norm_duck_type(r[1])) for r in duck_desc]
    out = []
    for engine, cols in (("spark", s), ("duckdb", d)):
        names = [n for n, _ in cols]
        for col in sorted({n for n in names if names.count(n) > 1}):
            out.append(f"{col}: duplicate output column in {engine}")
    if out:
        return out
    s, d = dict(s), dict(d)
    for col in sorted(set(s) & set(d)):
        if s[col] != d[col]:
            out.append(f"{col}: spark={s[col]} duckdb={d[col]}")
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from openreviewcrawler_spark.caching import release_persisted
    from openreviewcrawler_spark.catalog import CATALOG
    from openreviewcrawler_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8, extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")

    failures = []
    for name, qd in CATALOG.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = qd.build(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            release_persisted()  # drop builder-tracked caches between entries
        except Exception as e:
            failures.append((name, f"SPARK ERROR {type(e).__name__}: {str(e)[:300]}"))
            print(f"FAIL  {name:28s} spark-error")
            continue
        if qd.sql is None:
            print(f"ok    {name:28s} rows={len(srows)} (rows-only, no oracle) {time.time()-t0:.1f}s")
            continue
        try:
            res = con.execute(qd.sql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR {type(e).__name__}: {str(e)[:300]}"))
            print(f"FAIL  {name:28s} duckdb-error")
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            problems.append(f"schema spark={sorted(scols)} duckdb={sorted(dcols)}")
        try:
            tmis = type_mismatches(sdf.dtypes, con.execute("describe " + qd.sql).fetchall())
        except Exception as e:  # describe failure is itself a gate failure
            tmis = [f"describe-error {type(e).__name__}: {str(e)[:200]}"]
        if tmis:
            problems.append("dtype " + "; ".join(tmis))
        nested = [f"{n}:{t}" for n, t in sdf.dtypes
                  if t.startswith(("array", "map", "struct"))]
        if nested:  # r3's robots_parse class: driver hash can't take arrays
            problems.append("nested-output " + "; ".join(nested))
        if not problems:
            sm, dm = df_multiset(srows, scols), df_multiset(drows, dcols)
            if sm != dm:
                diff = [(a, b) for a, b in zip(sm, dm) if a != b][:3]
                extra_s = [r for r in sm if r not in set(map(tuple, dm))][:2]
                extra_d = [r for r in dm if r not in set(map(tuple, sm))][:2]
                problems.append(f"values diff first={diff} onlyspark={extra_s} onlyduck={extra_d}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name:28s} {problems[0][:160]}")
        else:
            print(f"ok    {name:28s} rows={len(srows)} {time.time()-t0:.1f}s")

    print(f"\n{len(failures)} failures")
    for n, p in failures:
        print(f"  {n}: {p[:500]}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
