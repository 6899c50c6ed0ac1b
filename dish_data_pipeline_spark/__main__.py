"""CLI: the reference's ``python data_pipeline.py`` entry point
(pipeline/data_pipeline.py:245-272), Spark-style.

    python -m dish_data_pipeline_spark run-feed \
        --name daily_visits --endpoint daily-visits \
        --keys visit_date,source_file --required visit_date,total_visits \
        --base-url https://api.example.com --warehouse /data/wh

    python -m dish_data_pipeline_spark query keep_latest_events \
        --sf-dir /root/testdata/sf0.01 --limit 20

    python -m dish_data_pipeline_spark merge \
        --sql-file nightly_merge.sql --backend manifest \
        --table tgt_daily_visits=/data/wh/tgt_daily_visits \
        --table staging_daily_visits=/data/wh/staging_daily_visits

``run-feed`` drives the full extract→DQ→stage→merge→audit feed
(exit code 1 when the feed FAILED, so schedulers can gate on it);
``query`` runs any catalog query and prints the result
(``list-queries`` enumerates them); ``merge`` executes a textual
``MERGE INTO`` statement (merge_sql.py dialect — the reference's
BigQuery shapes plus the full ANSI/Delta branch set) against tables
mapped by ``--table NAME=PATH``, committing through the chosen
backend.
"""

from __future__ import annotations

import argparse
import sys


def _build_parser() -> argparse.ArgumentParser:
    from dish_data_pipeline_spark.io_backends import BACKENDS

    p = argparse.ArgumentParser(
        prog="python -m dish_data_pipeline_spark",
        description="PySpark-native analytics engine CLI",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    rf = sub.add_parser("run-feed", help="run one feed end to end")
    rf.add_argument("--name", required=True)
    rf.add_argument("--endpoint", required=True)
    rf.add_argument("--keys", required=True, help="comma-separated merge keys")
    rf.add_argument(
        "--required", required=True, help="comma-separated required columns"
    )
    rf.add_argument("--base-url", required=True)
    rf.add_argument("--warehouse", required=True)

    q = sub.add_parser("query", help="run a catalog query")
    q.add_argument("name", help="catalog query name (see list-queries)")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=20)

    sub.add_parser("list-queries", help="list all catalog queries")

    mg = sub.add_parser(
        "merge", help="run a textual MERGE INTO statement against tables"
    )
    src = mg.add_mutually_exclusive_group(required=True)
    src.add_argument("--sql", help="the MERGE statement inline")
    src.add_argument("--sql-file", help="file containing the MERGE statement")
    mg.add_argument(
        "--table",
        action="append",
        default=[],
        metavar="NAME=PATH",
        required=True,
        help="map a statement table name to a table path "
        "(repeatable; the MERGE target must be mapped)",
    )
    mg.add_argument(
        "--backend",
        choices=sorted(BACKENDS),
        default="manifest",
        help="table format of the mapped paths",
    )
    mg.add_argument(
        "--dry-run",
        action="store_true",
        help="compute and report the merged row count without committing",
    )
    mg.add_argument(
        "--no-verify",
        action="store_true",
        help="skip the ANSI cardinality check (a target row matching "
        "several source rows fans out instead of raising) — the check "
        "is ON by default on this committing path",
    )

    sq = sub.add_parser(
        "sql",
        help="run a SQL statement or multi-statement script "
        "(MERGE / INSERT / CREATE TABLE AS / SELECT) against tables "
        "mapped by --table",
    )
    sqsrc = sq.add_mutually_exclusive_group(required=True)
    sqsrc.add_argument("--sql", help="the statement(s) inline")
    sqsrc.add_argument("--sql-file", help="file containing the script")
    sq.add_argument(
        "--table",
        action="append",
        default=[],
        metavar="NAME=PATH",
        help="map a statement table name to a table path (repeatable)",
    )
    sq.add_argument(
        "--backend",
        choices=sorted(BACKENDS),
        default="manifest",
        help="table format of the mapped paths",
    )
    sq.add_argument(
        "--limit", type=int, default=20,
        help="rows of the final statement's result to print",
    )
    sq.add_argument(
        "--no-verify",
        action="store_true",
        help="skip the ANSI MERGE cardinality check for MERGE "
        "statements in the script (ON by default)",
    )

    t = sub.add_parser(
        "table", help="manifest lakehouse table maintenance"
    )
    t.add_argument(
        "op",
        choices=["history", "restore", "vacuum", "compact", "expire",
                 "add-column", "drop-column", "drop"],
    )
    t.add_argument("path", help="table path")
    t.add_argument("--version", type=int, help="restore target version")
    t.add_argument(
        "--column",
        action="append",
        default=[],
        metavar="NAME[=TYPE]",
        help="add-column: NAME=TYPE (repeatable, one commit); "
        "drop-column: NAME",
    )
    t.add_argument(
        "--min-age", type=float, default=0.0,
        help="vacuum retention window in seconds",
    )
    t.add_argument("--target-files", type=int, default=1)
    t.add_argument("--zorder", help="comma-separated z-order columns")
    t.add_argument("--keep-last", type=int, default=7)
    return p



def _parse_table_args(items: list[str]) -> dict[str, str] | None:
    """--table NAME=PATH list -> mapping; None (after printing the
    offending item) on a malformed entry."""
    paths: dict[str, str] = {}
    for item in items:
        name, sep, path = item.partition("=")
        if not sep or not name or not path:
            print(f"bad --table {item!r}; want NAME=PATH", file=sys.stderr)
            return None
        paths[name] = path
    return paths


def main(argv: list[str] | None = None, http_get=None) -> int:
    args = _build_parser().parse_args(argv)

    if args.cmd == "list-queries":
        from dish_data_pipeline_spark.plans import QUERIES

        for name, qd in QUERIES.items():
            print(f"{name:24s} {qd.description}")
        return 0

    if args.cmd == "table":
        from dish_data_pipeline_spark.io_backends import (
            ManifestParquetBackend,
        )

        be = ManifestParquetBackend()
        if args.op == "history":
            from datetime import datetime, timezone

            for h in be.history(args.path):
                ts = (
                    datetime.fromtimestamp(
                        h["timestamp"], tz=timezone.utc
                    ).strftime("%Y-%m-%d %H:%M:%S")
                    if h.get("timestamp") is not None
                    else "-"
                )
                print(
                    f"v{h['version']:>4}  parent={h['parent']}  "
                    f"{ts}  files={h['n_files']:>4}  {h['operation']}"
                )
            return 0
        if args.op == "restore":
            if args.version is None:
                print("restore requires --version", file=sys.stderr)
                return 2
            v = be.restore(args.path, args.version)
            print(f"restored v{args.version} as v{v}")
            return 0
        if args.op == "vacuum":
            deleted = be.vacuum(args.path, min_age_seconds=args.min_age)
            print(f"vacuumed {len(deleted)} data dirs")
            return 0
        if args.op == "expire":
            expired = be.expire_versions(args.path, keep_last=args.keep_last)
            print(f"expired versions: {expired or '-'}")
            return 0
        if args.op == "add-column":
            if not args.column:
                print("add-column requires --column NAME=TYPE "
                      "(repeatable)", file=sys.stderr)
                return 2
            coldefs = []
            for item in args.column:
                name, sep, ddl = item.partition("=")
                if not sep or not name or not ddl:
                    print(f"bad --column {item!r}; want NAME=TYPE",
                          file=sys.stderr)
                    return 2
                coldefs.append((name, ddl))
            from dish_data_pipeline_spark import get_spark as _gs

            v = be.add_columns(
                _gs("dish-data-pipeline-spark-cli"), args.path, coldefs
            )
            print(f"added {len(coldefs)} column(s) as v{v}")
            return 0
        if args.op == "drop-column":
            if not args.column or len(args.column) != 1:
                print("drop-column requires exactly one --column NAME",
                      file=sys.stderr)
                return 2
            v = be.drop_column(args.path, args.column[0])
            print(f"dropped {args.column[0]} as v{v}")
            return 0
        if args.op == "drop":
            be.drop_table(args.path)
            print(f"dropped table at {args.path}")
            return 0
        # compact needs a session
        from dish_data_pipeline_spark import get_spark as _gs

        zcols = args.zorder.split(",") if args.zorder else None
        v = be.compact(
            _gs("dish-data-pipeline-spark-cli"), args.path,
            target_files=args.target_files, zorder_by=zcols,
        )
        print(f"compacted as v{v}" if v >= 0 else "compact aborted (race)")
        return 0 if v >= 0 else 1

    from dish_data_pipeline_spark import get_spark

    spark = get_spark("dish-data-pipeline-spark-cli")

    if args.cmd == "run-feed":
        from dish_data_pipeline_spark.pipeline import FeedConfig, run_feed

        feed = FeedConfig(
            name=args.name,
            endpoint=args.endpoint,
            keys=args.keys.split(","),
            required=args.required.split(","),
        )
        res = run_feed(
            spark, feed, args.base_url, args.warehouse, http_get=http_get
        )
        print(f"{res.table}: {res.status} ({res.record_count} records)")
        for issue in res.issues:
            print(f"  - {issue}")
        return 0 if res.status == "SUCCESS" else 1

    if args.cmd == "merge":
        from dish_data_pipeline_spark.io_backends import get_backend
        from dish_data_pipeline_spark.merge_sql import (
            execute_merge,
            merge_into_backend,
            parse_merge,
        )

        sql = args.sql
        if sql is None:
            with open(args.sql_file) as f:
                sql = f.read()
        paths = _parse_table_args(args.table)
        if paths is None:
            return 2
        spec = parse_merge(sql)
        be = get_backend(args.backend)

        def _lookup(name: str) -> str | None:
            parts = name.split(".")
            for i in range(len(parts)):
                key = ".".join(parts[i:])
                if key in paths:
                    return paths[key]
            return None

        target_path = _lookup(spec.target)
        if target_path is None:
            print(f"MERGE target {spec.target!r} has no --table mapping",
                  file=sys.stderr)
            return 2
        if spec.source_sql is not None:
            # USING (SELECT ...): the subquery's table refs resolve
            # through the same --table catalog (backticked names plus
            # bare names in FROM/JOIN position — the _run_select
            # binding), so expose every mapped table THAT EXISTS —
            # an unreadable extra mapping must not crash a MERGE
            # that never references it (round-13 advisor item).
            # A mapped-but-missing table the subquery DOES reference
            # still fails, with the clean catalog KeyError naming
            # what is bindable.
            tables = {}
            for name, path in paths.items():
                if name == spec.target:
                    continue
                # exists() answering False is the expected
                # not-a-table outcome; a genuine probe error
                # (permissions, corrupt log) must propagate, not be
                # demoted to an unbound name
                if be.exists(spark, path):
                    tables[name] = be.read(spark, path)
                else:
                    print(
                        f"note: --table {name}={path} is not a readable "
                        f"{args.backend} table; it will not be bindable "
                        "in the USING subquery",
                        file=sys.stderr,
                    )
        else:
            source_path = _lookup(spec.source)
            if source_path is None:
                print(f"MERGE source {spec.source!r} has no --table mapping",
                      file=sys.stderr)
                return 2
            tables = {spec.source: be.read(spark, source_path)}
        verify = not args.no_verify
        if args.dry_run:
            tables[spec.target] = be.read(spark, target_path)
            n = execute_merge(
                spark, spec, tables, verify_unique_match=verify
            ).count()
            print(f"dry-run: merged table would hold {n} rows")
            return 0
        merge_into_backend(
            spark, sql, be, target_path, tables, verify_unique_match=verify
        )
        n = be.read(spark, target_path).count()
        print(f"merged into {target_path}: {n} rows")
        return 0

    if args.cmd == "sql":
        from dish_data_pipeline_spark.io_backends import get_backend
        from dish_data_pipeline_spark.merge_sql import run_sql_script

        script = args.sql
        if script is None:
            with open(args.sql_file) as f:
                script = f.read()
        paths = _parse_table_args(args.table)
        if paths is None:
            return 2
        result = run_sql_script(
            spark, script, backend=get_backend(args.backend),
            table_paths=paths, verify_unique_match=not args.no_verify,
        )
        if result is not None:
            result.show(args.limit, truncate=False)
        else:
            print("ok (script ended on committing DML)")
        return 0

    if args.cmd == "query":
        from dish_data_pipeline_spark.plans import QUERIES

        if args.name not in QUERIES:
            print(f"unknown query {args.name!r}; try list-queries", file=sys.stderr)
            return 2
        df = QUERIES[args.name].fn(spark, args.sf_dir)
        df.show(args.limit, truncate=False)
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
