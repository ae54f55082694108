"""caspr_spark — a PySpark-native rebuild of microsoft/CASPR's data engine.

A DataFrame-first feature-engineering engine that turns per-entity event
logs into fixed-length sequence feature matrices (the CASPR featurization
pipeline), plus the large-scale training-data operators (dedup, similarity
search, text analysis, multimodal plumbing) a 100 TB pipeline needs.

Everything is expressed through the PySpark DataFrame API so Catalyst can
optimize (predicate pushdown, broadcast joins, whole-stage codegen); no
row-at-a-time Python UDFs exist anywhere in the hot path.

Reference parity: /root/reference (microsoft/CASPR), primarily
caspr/utils/spark/preprocess.py — cited per-function in docstrings.
"""

from pyspark import TaskContext

from caspr_spark.cache import (cache_scope, register_cache,
                               strict_scope_active)
from caspr_spark.roles import ColumnRoles, generate_col_lists
from caspr_spark.session import get_spark
from caspr_spark.sources import load_tables, read_parquet_table
from caspr_spark.pipeline import SequenceFeaturizer, SequenceFeaturizerModel

# A Python worker unpickling a task: every function the engine ships to
# workers is marked with ``workers.shipped``, so unpickling it imports
# this package there.
if TaskContext.get() is not None:
    from caspr_spark import workers
    workers.install()

__all__ = [
    "cache_scope",
    "register_cache",
    "strict_scope_active",
    "ColumnRoles",
    "generate_col_lists",
    "get_spark",
    "load_tables",
    "read_parquet_table",
    "SequenceFeaturizer",
    "SequenceFeaturizerModel",
]

__version__ = "0.1.0"
