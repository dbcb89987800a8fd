"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline on sf0.001;
``queries()`` / ``oracle_sql()`` expose the 40-query catalog — the ``kg_*``
product path (extraction in every format, the formatter round-trips,
assembly, linking, canonicalization, error statistics, the pipeline's
per-group body and its streaming forms) plus the document-level dedup and
similarity ops over the same inputs — each with a DuckDB oracle (see
rio_spark/plans/catalog.py for the catalog and its determinism conventions).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents -> synthesized transcript turns -> salted document
    assembly -> vectorized N-Triples extraction -> canonical triples."""
    from rio_spark.plans.catalog import q_kg_extract_nt

    return q_kg_extract_nt(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from rio_spark.plans.catalog import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from rio_spark.plans.catalog import ORACLES

    return dict(ORACLES)
