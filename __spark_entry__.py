"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship web-KG query (HTML pages → Arrow extraction →
CSVW triple kernel) on sf0.001; ``queries``/``oracle_sql`` expose the full
operator inventory (SURVEY.md §2) with DuckDB-checkable ANSI-SQL oracles.
Implementation lives in ``rdf_tabular_spark/queries.py``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rdf_tabular_spark import queries as _q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: synth pages from documents → triples (stages 1+2)."""
    return _q.queries()["kg_pages_triples"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    return _q.oracle_sql()
