"""Driver-built tables are Arrow local relations (``sources.local_frame``).

A ``createDataFrame`` of Python rows is a parallelized Python RDD: every
action over it — a lookup table's broadcast included — starts
Python-worker tasks. ``local_frame`` is the one place ``caspr_spark``
builds a frame from driver data, and it yields a ``LocalRelation``.
"""

from __future__ import annotations

import datetime
import pathlib
import re

import pytest

from caspr_spark.sources import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "caspr_spark"


def test_only_the_helper_calls_create_dataframe():
    """Every other module goes through ``local_frame``."""
    helper = PKG / "sources.py"
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == helper:
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if re.search(r"\bcreateDataFrame\(", line):
                offenders.append(f"{path.relative_to(PKG.parent)}:{i}")
    assert not offenders, offenders


def _assert_jvm_only(df):
    assert (df._jdf.queryExecution().analyzed().toString()
            .startswith("LocalRelation"))
    assert "PythonRDD" not in df.rdd.toDebugString().decode()


TS = datetime.datetime(2024, 1, 31, 23, 59, 58, 123456)
CASES = {
    "string": ("v string", [("a",), ("",), (None,), ("é ü",)]),
    "int": ("v int", [(0,), (-2147483648,), (None,), (2147483647,)]),
    "bigint": ("v bigint", [(2 ** 62,), (None,), (-(2 ** 63),)]),
    "double": ("v double", [(0.1,), (None,), (-1e300,), (2.5,)]),
    "boolean": ("v boolean", [(True,), (None,), (False,)]),
    "date": ("v date", [(datetime.date(2024, 2, 29),), (None,),
                        (datetime.date(1970, 1, 1),)]),
    "timestamp": ("v timestamp", [(TS,), (None,),
                                  (datetime.datetime(1970, 1, 1),)]),
    "mixed": ("k string, n int, x double, t timestamp",
              [("a", 1, 1.5, TS), (None, None, None, None)]),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_round_trip(spark, case):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    schema, rows = CASES[case]
    df = local_frame(spark, rows, schema)
    _assert_jvm_only(df)
    assert [tuple(r) for r in df.collect()] == rows


@pytest.mark.parametrize("case", sorted(CASES))
def test_empty_input(spark, case):
    schema, _ = CASES[case]
    df = local_frame(spark, [], schema)
    _assert_jvm_only(df)
    assert df.collect() == []
    assert df.schema == spark.createDataFrame([], schema).schema


def test_struct_type_schema(spark):
    """A ``StructType`` schema (e.g. another frame's) works like DDL."""
    like = spark.range(1).selectExpr("CAST(id AS INT) AS id", "'x' AS s")
    df = local_frame(spark, [(3, "y")], like.schema)
    _assert_jvm_only(df)
    assert df.schema == like.schema
    assert [tuple(r) for r in df.collect()] == [(3, "y")]
