"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001;
``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 with its DuckDB oracle. Implementation lives in
``php_etl_spark`` (this file only wires the contract).
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from php_etl_spark.session import tune_session  # noqa: E402
from php_etl_spark import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    tune_session(spark)
    return Q.QUERIES["agg_groupby_sum"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            return fn(spark, sf_dir)

        return run

    return {name: _wrap(Q.QUERIES[name]) for name in _driver_order(Q.QUERIES)}


def _driver_order(names, root: str = _REPO) -> list[str]:
    """``names`` in the driver's verification order, from each key's
    latest row across the ``CORRECTNESS_r<round>.json`` ledgers in
    ``root``: keys whose latest row is red first, then the rest by the
    round of that row, oldest first (a never-checked key is round 0).
    Ties keep ``names`` order. A ledger that does not parse raises."""
    rounds = {}
    for fname in os.listdir(root):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if m:
            rounds[int(m.group(1))] = os.path.join(root, fname)
    latest = {}
    for rnd in sorted(rounds):
        with open(rounds[rnd]) as f:
            for key, row in json.load(f).items():
                green = row.get("hash_match") is True or (
                    row.get("err") == "no_oracle"
                    and row.get("spark_rows") is not None
                )
                latest[key] = (green, rnd)
    return sorted(names, key=lambda k: latest.get(k, (True, 0)))


def oracle_sql() -> dict[str, str]:
    return dict(Q.ORACLES)
