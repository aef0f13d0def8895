"""Command-line surface: ``python -m mini_project_big_data_analysis_spark``.

The reference is RUN as scripts (``python producer.py`` / ``python
app.py`` — its whole user surface); this engine is a library plus the
driver's ``__spark_entry__.py`` contract. The CLI closes the gap for a
human user: list the catalog, run any registered query id against a
parquet directory, write or show the result, or print the physical plan
that the 100 TB claims are made about.

    python -m mini_project_big_data_analysis_spark list [--prefix ext_]
    python -m mini_project_big_data_analysis_spark run QID
        [--sf-dir /root/testdata/sf0.01] [--show 20]
        [--out PATH] [--format parquet|csv|json] [--explain]
    python -m mini_project_big_data_analysis_spark entry
        [--sf-dir /root/testdata/sf0.001]

Exit codes: 0 ok, 2 unknown query id (argparse reserves 2 for usage
errors too), 1 execution failure. ``--out`` overwrites (the idempotent
re-run shape every scheduler assumes); ``--show`` prints WITHOUT
truncation only the first N rows — the result itself is never collected
to the driver beyond that.

``run`` goes through ``record.run_query`` with the show, write and explain
as its action, and prints the run's record (without ``result``) as one
JSON line on stderr.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m mini_project_big_data_analysis_spark",
        description="PySpark analytics engine CLI (query catalog runner)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    lp = sub.add_parser("list", help="list registered query ids")
    lp.add_argument("--prefix", default="", help="only ids starting with this")

    rp = sub.add_parser("run", help="run one query id")
    rp.add_argument("qid")
    rp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    rp.add_argument("--show", type=int, default=20, metavar="N")
    rp.add_argument("--out", default=None, help="write result here instead of showing")
    rp.add_argument("--format", default="parquet", choices=["parquet", "csv", "json"])
    rp.add_argument(
        "--explain", action="store_true", help="print the formatted physical plan"
    )

    ep = sub.add_parser("entry", help="run the flagship entry() query")
    ep.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ep.add_argument("--show", type=int, default=20, metavar="N")
    return p


def cli_main(argv: list[str] | None = None, spark=None) -> int:
    """Parse and execute. ``spark`` is injectable for tests; production
    builds the engine session lazily (list needs no JVM at all)."""
    args = build_parser().parse_args(argv)

    from .queries import all_queries

    registry = all_queries()

    if args.cmd == "list":
        for qid in sorted(registry):
            if qid.startswith(args.prefix):
                print(qid)
        return 0

    if args.cmd == "run" and args.qid not in registry:
        print(f"unknown query id: {args.qid!r} (see `list`)", file=sys.stderr)
        return 2

    if spark is None:
        from .session import get_spark

        spark = get_spark(app_name="mpbda-cli")
        spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "entry":
        import importlib.util
        import os

        # __spark_entry__.py lives at the repo root, next to the package —
        # which means `entry` only works from a repo checkout. With the
        # package installed to site-packages the resolved path doesn't
        # exist and spec_from_file_location degrades into an opaque
        # AttributeError, so check and say what's actually wrong (ADVICE
        # r12).
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        entry_path = os.path.join(root, "__spark_entry__.py")
        if not os.path.exists(entry_path):
            print(
                f"error: {entry_path} not found — the `entry` subcommand "
                "needs the repo checkout (site-packages installs don't "
                "carry __spark_entry__.py); run from the repo root",
                file=sys.stderr,
            )
            return 1
        spec = importlib.util.spec_from_file_location("__spark_entry__", entry_path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        mod.entry(spark).show(args.show, truncate=False)
        return 0

    from .record import run_query

    def action(df) -> None:
        if args.explain:
            df.explain("formatted")
        if args.out:
            df.write.mode("overwrite").format(args.format).save(args.out)
            print(f"wrote {args.out}")
        else:
            df.show(args.show, truncate=False)

    record = run_query(spark, args.qid, args.sf_dir, action=action)
    del record["result"]
    print(json.dumps(record), file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(cli_main())
