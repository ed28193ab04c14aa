"""Job CLIs — argument-contract parity with the reference's deployments.

The Glue job receives --input_path, --write_operation, --additional_columns,
--database_name, --table_name (terraform/glue.tf:83-116, resolved at
glue/scripts/load_transactions.py:37-46); the lambdas take config/bucket
parameters from env. Each engine job is runnable the same way:

    python -m dca_manager_spark.pipeline.cli load-transactions \
        --input_path .../exchange=kraken --table_path /lake/transactions \
        --write_operation upsert --additional_columns '{"exchange": "kraken"}'

    python -m dca_manager_spark.pipeline.cli execute-orders \
        --config config.json --data_dir /lake --queue_dir /queue

    python -m dca_manager_spark.pipeline.cli process-orders \
        --queue_dir /queue --data_dir /lake --table_path /lake/transactions
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dca_manager_spark")
    sub = p.add_subparsers(dest="job", required=True)

    lt = sub.add_parser("load-transactions", help="EP3: analytics load")
    lt.add_argument("--input_path", required=True)
    lt.add_argument("--table_path", required=True)
    lt.add_argument("--write_operation", default="upsert")
    lt.add_argument("--additional_columns", default="none")
    lt.add_argument("--database_name", default="dca_manager")
    lt.add_argument("--table_name", default="transactions")
    lt.add_argument("--decimal", action="store_true",
                    help="keep DecimalType(38,18) instead of lake doubles")

    eo = sub.add_parser("execute-orders", help="EP1: scheduled order execution")
    eo.add_argument("--config", required=True)
    eo.add_argument("--data_dir", required=True)
    eo.add_argument("--queue_dir", required=True)
    eo.add_argument("--real", action="store_true")
    eo.add_argument("--allow_real", action="store_true")

    po = sub.add_parser("process-orders", help="EP2: queue-driven processing")
    po.add_argument("--queue_dir", required=True)
    po.add_argument("--data_dir", required=True)
    po.add_argument("--table_path", required=True)
    po.add_argument("--write_operation", default="upsert")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from dca_manager_spark.session import get_session

    spark = get_session(app_name=f"dca-{args.job}")
    if args.job == "load-transactions":
        from dca_manager_spark.pipeline.load_transactions import load_transactions

        load_transactions(
            spark,
            input_path=args.input_path,
            table_path=args.table_path,
            write_operation=args.write_operation,
            additional_columns=args.additional_columns,
            database=args.database_name,
            table_name=args.table_name,
            decimal=args.decimal,
        )
    elif args.job == "execute-orders":
        from dca_manager_spark.pipeline.execute_orders import execute_orders
        from dca_manager_spark.streaming.queue_source import FileQueue

        written = execute_orders(
            spark,
            config_path=args.config,
            data_dir=args.data_dir,
            queue=FileQueue(args.queue_dir),
            allow_real=args.allow_real,
            real=args.real,
        )
        print(f"wrote {len(written)} pending orders")
    else:
        from dca_manager_spark.pipeline.process_orders import process_orders
        from dca_manager_spark.streaming.queue_source import FileQueue

        process_orders(
            spark,
            queue=FileQueue(args.queue_dir),
            data_dir=args.data_dir,
            table_path=args.table_path,
            write_operation=args.write_operation,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
