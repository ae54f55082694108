"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship CASPR featurization pipeline at
sf0.001. ``queries()`` maps every query name to its Spark builder and
``oracle_sql()`` maps every oracle-bearing one to its DuckDB SQL; both
derive from ``contract.registry.REGISTRY``, where each query is
declared once. The builders and their SQL live in the per-domain
modules of ``contract/``, with column names and value arithmetic kept
identical between the Spark and SQL sides so the driver's sorted
value-hash comparison passes.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from contract.featurize import q_pipeline_events
from contract.registry import REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full CASPR featurization of the sf0.001 events table."""
    return q_pipeline_events(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every query's builder, in registry order. The driver's
    correctness gate certifies the first 50 entries; the registry keeps
    them ordered by certification recency (``tools/gen_window.py``)."""
    return {s.name: s.build for s in REGISTRY}


def oracle_sql() -> dict[str, str]:
    """The DuckDB SQL of every oracle-bearing query."""
    return {s.name: s.oracle for s in REGISTRY if s.oracle is not None}
