"""Shuffle-budget ledger: per-query Exchange counts, with drift gate.

Every ``groupBy``/``join``/``distinct``/``repartition`` that cannot be
planned broadcast- or partition-local compiles to an ``Exchange`` —
the unit of cost that decides whether a plan survives a 100× scale-up.
This tool compiles every non-effectful registry query at sf0.001,
counts shuffle Exchanges (hash/range/single-partition) and
BroadcastExchanges in the physical plan, and compares against the
committed ledger ``tools/shuffle_budget.json``:

  - a query whose SHUFFLE count exceeds its recorded budget FAILS the
    run (a regression: someone added an exchange to a settled plan);
  - fewer shuffles than recorded prints an improvement note (re-record
    to lock it in), unless building the key launched jobs: shuffles
    run in those eager construction jobs (``materialize()`` pins,
    schema probes) are missing from the final plan, so such a key
    prints as ``moved (N construction jobs)`` instead;
  - unknown keys print as new (re-record to adopt them).

Construction jobs are counted per key with a job group and Spark's
status tracker; the ledger itself records only the final plan.

Broadcast counts are informational — broadcasts are the cheap
alternative we WANT plans to pick, so only shuffle growth gates.

Usage::

    python tools/shuffle_census.py             # compare against ledger
    python tools/shuffle_census.py --record    # (re)write the ledger
    python tools/shuffle_census.py name ...    # subset

Iterative operators (pagerank/k-core/SCC) truncate lineage per round,
so the FINAL frame's plan shows only the last round — their per-round
shuffle shape is asserted by tools/explain_audit.py instead; the
ledger records the declarative majority.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LEDGER = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "shuffle_budget.json")

# Same exclusion list as tools/plan_sweep.py: compiling these executes
# real sinks/streams/pipelines.
_EFFECTFUL = ("sink_", "stream_", "pipeline_", "bulk_", "upsert",
              "delete_", "jdbc")

_SHUFFLE_RE = re.compile(
    r"Exchange (hashpartitioning|rangepartitioning|SinglePartition)")


def census(spark, sf_dir: str, names: list[str]) -> dict[str, dict[str, int]]:
    """Per key: final-plan ``shuffles`` and ``broadcasts`` (the ledger
    row) plus ``construction_jobs``, the jobs launched while the key's
    frame and plan were built."""
    from php_etl_spark.queries import QUERIES

    sc = spark.sparkContext
    out: dict[str, dict[str, int]] = {}
    for name in names:
        fn = QUERIES[name]
        group = f"shuffle-census-{name}"
        sc.setJobGroup(group, group)
        try:
            plan = (
                fn(spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString()
            )
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            print(f"ERROR {name}: {type(exc).__name__}: "
                  f"{str(exc).splitlines()[0][:120]}")
            continue
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        out[name] = {
            "shuffles": len(_SHUFFLE_RE.findall(plan)),
            "broadcasts": plan.count("BroadcastExchange"),
            "construction_jobs": len(
                sc.statusTracker().getJobIdsForGroup(group)),
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from php_etl_spark.queries import QUERIES
    from php_etl_spark.session import get_spark

    spark = get_spark("shuffle-census", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    names = args.names or [
        k for k in QUERIES
        if not any(t in k for t in _EFFECTFUL)
    ]
    got = census(spark, args.sf, names)

    if args.record:
        merged = {
            name: {k: row[k] for k in ("shuffles", "broadcasts")}
            for name, row in got.items()
        }
        if args.names and os.path.exists(LEDGER):
            # subset record MERGES into the ledger — rewriting it with
            # only the named keys would silently drop every other
            # query's budget
            with open(LEDGER) as f:
                merged = {**json.load(f), **merged}
        with open(LEDGER, "w") as f:
            json.dump(dict(sorted(merged.items())), f, indent=1,
                      sort_keys=True)
        print(f"recorded {len(got)} queries ({len(merged)} total) "
              f"-> {LEDGER}")
        return 0

    if not os.path.exists(LEDGER):
        print(f"no ledger at {LEDGER}; run with --record first")
        return 1
    with open(LEDGER) as f:
        want = json.load(f)

    regressions = improvements = moved = new = 0
    for name, row in sorted(got.items()):
        base = want.get(name)
        if base is None:
            print(f"new   {name}: shuffles={row['shuffles']} "
                  f"broadcasts={row['broadcasts']} (re-record to adopt)")
            new += 1
        elif row["shuffles"] > base["shuffles"]:
            print(f"FAIL  {name}: shuffles {base['shuffles']} -> "
                  f"{row['shuffles']} (regression)")
            regressions += 1
        elif row["shuffles"] < base["shuffles"] and row["construction_jobs"]:
            print(f"note  {name}: shuffles {base['shuffles']} -> "
                  f"{row['shuffles']} moved "
                  f"({row['construction_jobs']} construction jobs)")
            moved += 1
        elif row["shuffles"] < base["shuffles"]:
            print(f"note  {name}: shuffles {base['shuffles']} -> "
                  f"{row['shuffles']} (improved; re-record to lock in)")
            improvements += 1
    missing = sorted(set(want) - set(got)) if not args.names else []
    for name in missing:
        print(f"gone  {name}: in ledger but not in registry")

    print(f"\n{len(got)} queries checked: {regressions} regressions, "
          f"{improvements} improvements, {moved} moved, {new} new, "
          f"{len(missing)} gone")
    return 1 if regressions else 0


if __name__ == "__main__":
    raise SystemExit(main())
