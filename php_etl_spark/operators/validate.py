"""Declarative data-quality constraints.

The reference validates row-by-row in PHP (null/validity guards before
insert — e.g. /root/reference/sdk/migrate_assures.php:136-170 skips
rows with missing keys; quarantine semantics in ETLTask). Here the
same contracts are declared as data and checked set-oriented:

- row-local rules (not_null, range, regex, in_set) compile into ONE
  aggregate pass over the frame — one scan, conditional sums, no
  shuffle beyond the final 1-row combine, however many rules;
- ``unique`` needs its own key-shuffle (count>1 groups);
- ``ref`` (referential integrity) is a broadcast/shuffle anti-join
  against the referenced keys.

``check_constraints`` returns the audit report (rule, violations);
``violation_flag`` is the one row-violation predicate: ``split_valid``
filters on it, and the pipeline runner carries it as a column so the
valid rows and the quarantine come out of one evaluation.
"""

from __future__ import annotations

from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_ROW_LOCAL = ("not_null", "range", "regex", "in_set")


def _row_violation(rule: dict[str, Any]) -> Column:
    """Boolean column: does this row violate the (row-local) rule?"""
    kind = rule["type"]
    col = F.col(rule["column"]) if "column" in rule else None
    if kind == "not_null":
        return col.isNull()
    if kind == "range":
        ok = F.lit(True)
        if "min" in rule:
            ok = ok & (col >= F.lit(rule["min"]))
        if "max" in rule:
            ok = ok & (col <= F.lit(rule["max"]))
        return col.isNotNull() & ~ok
    if kind == "regex":
        return col.isNotNull() & ~col.rlike(rule["pattern"])
    if kind == "in_set":
        return col.isNotNull() & ~col.isin(*rule["values"])
    raise ValueError(f"unknown row-local rule type: {kind}")


def _rule_name(rule: dict[str, Any]) -> str:
    if "name" in rule:
        return rule["name"]
    target = rule.get("column") or ",".join(rule.get("columns", []))
    return f"{rule['type']}:{target}"


def check_constraints(
    df: DataFrame, rules: list[dict[str, Any]]
) -> DataFrame:
    """Audit report: one row per rule — (rule, violations).

    Row-local rules share a single aggregate pass; ``unique`` counts
    rows beyond the first per duplicated key; ``ref`` counts child
    rows whose key misses the parent (``ref_df``/``ref_column``,
    NULLs pass — use not_null to forbid them)."""
    spark = df.sparkSession
    row_rules = [r for r in rules if r["type"] in _ROW_LOCAL]
    reports: list[DataFrame] = []
    if row_rules:
        agg = df.agg(
            *[
                F.sum(_row_violation(r).cast("long")).alias(_rule_name(r))
                for r in row_rules
            ]
        )
        stacked = agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(_rule_name(r)).alias("rule"),
                            F.coalesce(F.col(_rule_name(r)), F.lit(0)).alias(
                                "violations"
                            ),
                        )
                        for r in row_rules
                    ]
                )
            ).alias("kv")
        ).select("kv.rule", "kv.violations")
        reports.append(stacked)
    for r in rules:
        if r["type"] == "unique":
            cols = r.get("columns") or [r["column"]]
            dups = (
                df.groupBy(*cols)
                .agg(F.count("*").alias("__n"))
                .agg(
                    F.coalesce(
                        F.sum(
                            F.when(F.col("__n") > 1, F.col("__n") - 1).otherwise(
                                F.lit(0)
                            )
                        ),
                        F.lit(0),
                    ).alias("violations")
                )
                .select(F.lit(_rule_name(r)).alias("rule"), "violations")
            )
            reports.append(dups)
        elif r["type"] == "ref":
            child = df.filter(F.col(r["column"]).isNotNull()).select(
                F.col(r["column"]).alias("__k")
            )
            parent = r["ref_df"].select(
                F.col(r["ref_column"]).alias("__k")
            ).distinct()
            missing = (
                child.join(parent, "__k", "left_anti")
                .agg(F.count("*").alias("violations"))
                .select(F.lit(_rule_name(r)).alias("rule"), "violations")
            )
            reports.append(missing)
        elif r["type"] not in _ROW_LOCAL:
            raise ValueError(f"unknown rule type: {r['type']}")
    out = reduce(lambda a, b: a.unionByName(b), reports)
    _ = spark  # session kept for future rule types needing it
    return out


def violation_flag(rules: list[dict[str, Any]]) -> Column | None:
    """One boolean column, true where a row breaks any row-local rule
    of ``rules``; ``None`` when none of them is row-local. A row whose
    check is unknown (NULL) counts as a violator, so the flag splits a
    frame exactly in two — no row is silently in neither side."""
    row_rules = [r for r in rules if r["type"] in _ROW_LOCAL]
    if not row_rules:
        return None
    bad = reduce(lambda a, b: a | b, [_row_violation(r) for r in row_rules])
    return F.coalesce(bad, F.lit(True))


def split_valid(
    df: DataFrame, rules: list[dict[str, Any]]
) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantine) for the row-local subset of ``rules`` — two
    complementary filters over one scan on ``violation_flag``, the
    set-oriented version of the reference's per-row skip-and-log."""
    bad = violation_flag(rules)
    if bad is None:
        return df, df.limit(0)
    return df.filter(~bad), df.filter(bad)
