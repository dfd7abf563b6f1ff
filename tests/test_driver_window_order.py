"""Driver contract: ``queries()`` and ``oracle_sql()`` follow CATALOG
insertion order, and a wrong ``sf_dir`` fails loudly."""

from __future__ import annotations

from openreviewcrawler_spark.catalog import CATALOG, oracle_sql, queries


def test_oracle_sql_alignment():
    q = list(queries())
    assert q == list(CATALOG)
    o = oracle_sql()
    assert list(o) == [n for n in q if CATALOG[n].sql is not None]
    assert all(isinstance(s, str) and s.strip() for s in o.values())


def test_bogus_sf_dir_raises_not_empty(spark):
    """Driver-contract robustness: a wrong sf_dir must fail loudly
    (PATH_NOT_FOUND), never return an empty-but-schema-valid result the
    harness would record as 0-row 'success'."""
    import pytest
    from pyspark.errors import AnalysisException

    from openreviewcrawler_spark.catalog import q_crawl_canonicalize

    with pytest.raises(AnalysisException):
        q_crawl_canonicalize(spark, "/root/testdata/sf9.9").collect()
