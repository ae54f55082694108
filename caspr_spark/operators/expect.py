"""Declarative data-quality expectations — the arrival gate a pipeline
runs before training data enters it (the Great Expectations /
Deequ-shaped check, engine-native).

``validate_expectations`` evaluates a rule list in **ONE aggregation
pass** over the table — every rule compiles to a conditional-sum (or
count-distinct) expression inside the same ``agg``, so checking 50
rules costs one scan, not 50 jobs. Output is a long-format report
(rule, column, n_checked, n_violations, passed) suitable for storing
next to the data as an audit artifact, joining into dashboards, or
gating a write (``report.filter(~passed).count() == 0``).

Rules (each a plain dict — serializable config, no classes):

- ``{"rule": "not_null", "col": c}`` — null values violate.
- ``{"rule": "unique", "col": c}`` — duplicated non-null values
  violate (count - count_distinct).
- ``{"rule": "in_range", "col": c, "min": lo, "max": hi}`` — non-null
  values outside [lo, hi] violate (either bound optional).
- ``{"rule": "in_set", "col": c, "values": [...]}`` — non-null values
  outside the set violate.
- ``{"rule": "matches", "col": c, "pattern": regex}`` — non-null
  values not fully matching violate (Java∩RE2-portable patterns
  recommended, same discipline as the PII redactor).
- ``{"rule": "row_count_between", "min": lo, "max": hi}`` — the table's
  row count outside [lo, hi] is one violation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from caspr_spark.sources import local_frame

_RULES = ("not_null", "unique", "in_range", "in_set", "matches",
          "row_count_between")


def _violation_expr(rule: dict):
    """(n_checked expr, n_violations expr) for one rule."""
    kind = rule["rule"]
    if kind == "row_count_between":
        n = F.count(F.lit(1))
        lo, hi = rule.get("min"), rule.get("max")
        bad = F.lit(False)
        if lo is not None:
            bad = bad | (n < F.lit(lo))
        if hi is not None:
            bad = bad | (n > F.lit(hi))
        return n, bad.cast("long")
    c = F.col(rule["col"])
    if kind == "not_null":
        return F.count(F.lit(1)), F.sum(c.isNull().cast("long"))
    if kind == "unique":
        return F.count(c), F.count(c) - F.count_distinct(c)
    nn = F.count(c)
    if kind == "in_range":
        lo, hi = rule.get("min"), rule.get("max")
        if lo is None and hi is None:
            raise ValueError("in_range needs min and/or max")
        bad = F.lit(False)
        if lo is not None:
            bad = bad | (c < F.lit(lo))
        if hi is not None:
            bad = bad | (c > F.lit(hi))
        return nn, F.sum(F.when(c.isNotNull() & bad, 1).otherwise(0))
    if kind == "in_set":
        values = rule["values"]
        if not values:
            raise ValueError("in_set needs a non-empty values list")
        return nn, F.sum(F.when(c.isNotNull() & ~c.isin(*values), 1)
                         .otherwise(0))
    if kind == "matches":
        # \A/\z anchors, not ^/$: Java's $ matches before a trailing
        # newline, which would diverge from the oracle's true
        # full-string regexp_full_match on values ending in \n
        ok = c.rlike("\\A(?:" + rule["pattern"] + ")\\z")
        return nn, F.sum(F.when(c.isNotNull() & ~ok, 1).otherwise(0))
    raise ValueError(f"unknown rule {kind!r}; expected one of {_RULES}")


def validate_expectations(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Evaluate ``rules`` in one scan; returns the long-format report
    (rule_id, rule, column, n_checked, n_violations, passed) in rule
    order."""
    if not rules:
        raise ValueError("validate_expectations needs at least one rule")
    aggs = []
    for i, rule in enumerate(rules):
        checked, viol = _violation_expr(rule)
        aggs += [checked.alias(f"c_{i}"),
                 F.coalesce(viol, F.lit(0)).alias(f"v_{i}")]
    row = df.agg(*aggs).first()
    report = [(i, r["rule"], r.get("col"),
               int(row[f"c_{i}"]), int(row[f"v_{i}"]),
               int(row[f"v_{i}"]) == 0)
              for i, r in enumerate(rules)]
    return local_frame(
        df.sparkSession, report,
        "rule_id int, rule string, column string, "
        "n_checked bigint, n_violations bigint, passed boolean")


def _sq(v) -> str:
    """SQL literal for a rule value — only int/float/str/bool render
    (Python's ``str()`` would emit ``True``/``None``, which is invalid
    SQL, so the malformed rule would surface as a DuckDB parse error
    instead of the loud Python raise this module promises)."""
    if isinstance(v, bool):            # before int: bool is an int subclass
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, (int, float)):
        if isinstance(v, float) and not (v == v and abs(v) != float("inf")):
            raise ValueError(f"non-finite rule value {v!r} has no SQL literal")
        return repr(v)
    raise ValueError(f"rule value {v!r} ({type(v).__name__}) is not "
                     "SQL-renderable; use int, float, str, or bool")


def expectations_sql(table: str, rules: list[dict]) -> str:
    """DuckDB twin of :func:`validate_expectations` — one UNION ALL arm
    per rule, replaying the same conditional counts, with the SAME
    rule validation (an invalid rule raises here, not as a DuckDB
    parse error) and quote-escaped string literals."""
    arms = []
    for i, rule in enumerate(rules):
        kind = rule["rule"]
        col = rule.get("col")
        col_lit = f"'{col}'" if col is not None else "NULL"
        if kind == "row_count_between":
            conds = []
            if rule.get("min") is not None:
                conds.append(f"count(*) < {_sq(rule['min'])}")
            if rule.get("max") is not None:
                conds.append(f"count(*) > {_sq(rule['max'])}")
            bad = " OR ".join(conds) or "FALSE"
            arms.append(
                f"SELECT {i} AS rule_id, '{kind}' AS rule, "
                f"{col_lit} AS \"column\", count(*)::BIGINT AS n_checked, "
                f"(CASE WHEN {bad} THEN 1 ELSE 0 END)::BIGINT AS "
                f"n_violations, NOT ({bad}) AS passed FROM {table}")
            continue
        if kind == "not_null":
            checked = "count(*)"
            viol = f"count(*) FILTER (WHERE {col} IS NULL)"
        elif kind == "unique":
            checked = f"count({col})"
            viol = f"count({col}) - count(DISTINCT {col})"
        elif kind == "in_range":
            if rule.get("min") is None and rule.get("max") is None:
                raise ValueError("in_range needs min and/or max")
            conds = []
            if rule.get("min") is not None:
                conds.append(f"{col} < {_sq(rule['min'])}")
            if rule.get("max") is not None:
                conds.append(f"{col} > {_sq(rule['max'])}")
            bad = " OR ".join(conds)
            checked = f"count({col})"
            viol = f"count(*) FILTER (WHERE {col} IS NOT NULL AND ({bad}))"
        elif kind == "in_set":
            if not rule["values"]:
                raise ValueError("in_set needs a non-empty values list")
            vals = ", ".join(_sq(v) for v in rule["values"])
            checked = f"count({col})"
            viol = (f"count(*) FILTER (WHERE {col} IS NOT NULL "
                    f"AND {col} NOT IN ({vals}))")
        elif kind == "matches":
            checked = f"count({col})"
            viol = (f"count(*) FILTER (WHERE {col} IS NOT NULL AND NOT "
                    f"regexp_full_match({col}, "
                    f"{_sq(rule['pattern'])}))")
        else:
            raise ValueError(f"unknown rule {kind!r}")
        arms.append(
            f"SELECT {i} AS rule_id, '{kind}' AS rule, "
            f"{col_lit} AS \"column\", {checked}::BIGINT AS n_checked, "
            f"({viol})::BIGINT AS n_violations, ({viol}) = 0 AS passed "
            f"FROM {table}")
    return "\nUNION ALL\n".join(arms)
