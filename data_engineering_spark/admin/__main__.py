"""Lake admin CLI — the operational counterpart of the two ingest
entry points (cdc, snapshot). Subcommands:

  inventory  --lake-root DIR            per-table file/size/partition report
  compact    --table DIR [--target-mb N]   bin-pack small files
  stats      --table DIR [--cols a,b]   footer-only COUNT/MIN/MAX
  offsets    --checkpoint DIR           streaming offset log + commits

Each prints a small table to stdout; exit code 0 on success. All are
metadata-dominated operations safe to run beside live pipelines on
the same filesystem (compact holds the table's writer lock, an flock
the pipeline's writers also take, and publishes the result as one new
version).
"""

from __future__ import annotations

import argparse
import sys

from data_engineering_spark.session import get_session


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="data_engineering_spark.admin")
    sub = p.add_subparsers(dest="cmd", required=True)

    inv = sub.add_parser("inventory", help="per-table lake report")
    inv.add_argument("--lake-root", required=True)

    comp = sub.add_parser("compact", help="bin-pack small files")
    comp.add_argument("--table", required=True)
    comp.add_argument("--target-mb", type=int, default=128)

    st = sub.add_parser("stats", help="footer-only count/min/max")
    st.add_argument("--table", required=True)
    st.add_argument("--cols", default="")

    off = sub.add_parser("offsets", help="checkpoint offset log")
    off.add_argument("--checkpoint", required=True)
    return p


def run(args: argparse.Namespace, spark=None) -> int:
    spark = spark or get_session(app_name=f"lake-admin-{args.cmd}")
    if args.cmd == "inventory":
        from data_engineering_spark.operators.maintenance import (
            lake_inventory,
        )

        lake_inventory(spark, args.lake_root).show(100, truncate=False)
    elif args.cmd == "compact":
        from data_engineering_spark.operators.maintenance import (
            compact_table,
        )

        did = compact_table(
            spark,
            args.table,
            target_file_bytes=args.target_mb * 1024 * 1024,
        )
        print("compacted" if did else "no compaction needed")
    elif args.cmd == "stats":
        from data_engineering_spark.operators.maintenance import (
            footer_stats,
        )

        cols = [c for c in args.cols.split(",") if c]
        for k, v in footer_stats(spark, args.table, cols).items():
            print(f"{k}\t{v}")
    elif args.cmd == "offsets":
        from data_engineering_spark.streaming.metrics import (
            read_checkpoint_offsets,
        )

        read_checkpoint_offsets(spark, args.checkpoint).show(
            100, truncate=False
        )
    return 0


def main(argv: list[str] | None = None) -> int:
    return run(build_parser().parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
