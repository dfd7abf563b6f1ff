"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship crawl-scheduling-round query; ``queries`` /
``oracle_sql`` expose the operator catalog (one entry per crawl, web, WARC,
graph, text, dedup, core, event-analytics or embedding/multimodal operator),
built in the ``openreviewcrawler_spark/catalog/`` package and returned in
CATALOG insertion order. Entries whose output has no SQL formulation simply
have no ``oracle_sql`` key.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from openreviewcrawler_spark.catalog import oracle_sql as _oracle_sql
from openreviewcrawler_spark.catalog import q_crawl_round
from openreviewcrawler_spark.catalog import queries as _queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one full crawl scheduling round (canonicalize -> seen
    anti-join -> robots budgets -> per-host priority admit -> deterministic
    fetch_seq -> fetch join) over sf0.001."""
    return q_crawl_round(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _queries()


def oracle_sql() -> dict[str, str]:
    return _oracle_sql()
