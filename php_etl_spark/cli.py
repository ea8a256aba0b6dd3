"""CLI mirror of the reference's etl.php entry point
(/root/reference/sdk/etl.php:40-74 with console_get_options,
/root/reference/sdk/lib/console.php:13-56)::

    python -m php_etl_spark.cli --config pipeline.json \
        [--from-path DIR] [--to-path DIR] [--master local[8]]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from php_etl_spark import observability
from php_etl_spark.plans.spec import PipelineSpec
from php_etl_spark.plans.runner import run_pipeline
from php_etl_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="php-etl-spark")
    ap.add_argument("--config", required=True, help="pipeline spec JSON path")
    ap.add_argument("--from-path", help="override source connection path")
    ap.add_argument("--to-path", help="override destination connection path")
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--metrics",
        help="JSONL path for per-table run metrics (rows, bytes, wall "
        "seconds, rows/sec); also honors SPARK_GRAFT_METRICS",
    )
    ap.add_argument(
        "--explain",
        action="store_true",
        help="dry run: compile each table's transform plan and print "
        "the physical plan (pushed filters, pruned scan schema, join "
        "strategies) without writing anything",
    )
    ap.add_argument(
        "--state",
        help="crash-resume state file: completed tables are recorded "
        "here and skipped on rerun while their spec is unchanged",
    )
    args = ap.parse_args(argv)

    with open(args.config) as f:
        doc = json.load(f)
    if args.from_path:
        doc.setdefault("connections", {}).setdefault("from", {"type": "parquet"})[
            "path"
        ] = args.from_path
    if args.to_path:
        doc.setdefault("connections", {}).setdefault("to", {"type": "parquet"})[
            "path"
        ] = args.to_path

    spec = PipelineSpec.from_dict(doc)
    if args.metrics:
        os.environ[observability.ENV_KEY] = args.metrics
    spark = get_spark("php-etl-spark-cli", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    if args.explain:
        # the reference has no dry-run; at cluster scale you want the
        # plan (did the filter push down? which side broadcasts?)
        # before you pay for the run
        from php_etl_spark.plans.runner import build_table_frame

        for t in spec.tables:
            frame = build_table_frame(spark, spec, t)
            print(f"== {t.source} -> {t.destination} ==")
            print(frame._jdf.queryExecution().executedPlan().toString())
        return 0
    results = run_pipeline(spark, spec, state_path=args.state)
    for r in results:
        print(json.dumps({
            "table": r.table,
            "rows_written": r.rows_written,
            "rows_quarantined": r.rows_quarantined,
            "path": r.path,
        }))
    if observability.metrics_path():
        for rec in observability.read_metrics():
            print(json.dumps(rec, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
