"""CLI mirroring the reference's Makefile/DAG stages (SURVEY.md §3.1):

    python -m currency_etl_spark pipeline --raw R --warehouse W [--reports D] [--today YYYY-MM-DD]
    python -m currency_etl_spark backfill --raw-glob G --warehouse W
    python -m currency_etl_spark analyze  --warehouse W [--today YYYY-MM-DD]
    python -m currency_etl_spark forecast --warehouse W

Where the reference runs four subprocesses chained by files
(extract >> transform >> load >> analyze), `pipeline` is one Spark job;
`analyze`/`forecast` run standalone against an existing warehouse.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="currency_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("pipeline", help="raw JSON → transform → upsert → analytics → reports")
    sp.add_argument("--raw", required=True)
    sp.add_argument("--warehouse", required=True)
    sp.add_argument("--reports")
    sp.add_argument("--today")

    sb = sub.add_parser("backfill", help="glob of raw JSON → one MERGE")
    sb.add_argument("--raw-glob", required=True)
    sb.add_argument("--warehouse", required=True)

    sa = sub.add_parser("analyze", help="run the 11 analytics queries on the warehouse")
    sa.add_argument("--warehouse", required=True)
    sa.add_argument("--today")

    sf = sub.add_parser("forecast", help="rolling-mean forecast from the warehouse")
    sf.add_argument("--warehouse", required=True)
    sf.add_argument("--png-dir")

    args = p.parse_args(argv)

    from currency_etl_spark.session import get_spark

    spark = get_spark("currency_etl_spark-cli")

    if args.cmd == "pipeline":
        from currency_etl_spark.pipeline import run_pipeline

        out = run_pipeline(
            spark, args.raw, args.warehouse, reports_dir=args.reports, today=args.today
        )
        print(json.dumps(out["report"], default=str))
    elif args.cmd == "backfill":
        from currency_etl_spark.pipeline import backfill

        n = backfill(spark, args.raw_glob, args.warehouse)
        print(json.dumps({"warehouse_rows": n}))
    elif args.cmd == "analyze":
        from currency_etl_spark.currency_queries import run_queries
        from currency_etl_spark.reports import structure_report
        from currency_etl_spark.warehouse import ParquetUpsertTable

        t = ParquetUpsertTable(spark, args.warehouse, ["cc", "exchangedate"])
        res = run_queries(spark, t.read(), today=args.today)
        print(json.dumps(structure_report(res), default=str))
    elif args.cmd == "forecast":
        from currency_etl_spark.forecast import forecast_rates, render_png
        from currency_etl_spark.warehouse import ParquetUpsertTable

        t = ParquetUpsertTable(spark, args.warehouse, ["cc", "exchangedate"])
        fc = forecast_rates(t.read())
        if args.png_dir:
            render_png(fc, args.png_dir)
        rows = fc.filter("is_forecast").orderBy("cc", "exchangedate").collect()
        print(
            json.dumps(
                [
                    {"cc": r["cc"], "date": str(r["exchangedate"]), "forecast": r["avg_rate"]}
                    for r in rows
                ]
            )
        )
    # Long-session hygiene: free any checkpoint
    # blocks the invoked stage left live before the CLI exits.
    from currency_etl_spark.operators.ckpt import release_all

    release_all()
    return 0


if __name__ == "__main__":
    sys.exit(main())
