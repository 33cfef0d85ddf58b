"""Command-line entry points (reference ``orchestration.py`` CLI twin).

The reference is operated from the shell — ``uv run`` per job, an
orchestrator process, and three check scripts (SURVEY.md sections 3.1-3.2).
This module is the single CLI a migrating user drives instead:

    python -m cryptopulse_real_time_arbitrage_detection_lakehouse_spark \
        pipeline --raw-dir RAW --out-root OUT [--log-dir LOGS]
    python -m ... query gold_candles_1m --sf-dir /root/testdata/sf0.001
    python -m ... list [--tag text]

``pipeline`` runs the bronze→silver→gold medallion as sequential
``availableNow`` drains; ``--log-dir`` writes each hop's progress records
to ``<log-dir>/<query name>.log``. ``query`` executes any
registered operator and shows rows (the ``check_*`` scripts' role).
``list`` prints the registry — the catalog of everything the engine runs.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="cryptopulse-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pipe = sub.add_parser("pipeline", help="run the medallion pipeline to parquet")
    pipe.add_argument("--raw-dir", required=True, help="Kafka-shaped parquet input")
    pipe.add_argument("--out-root", required=True, help="output root for the 3 layers")
    pipe.add_argument("--watermark", default="10 minutes")
    pipe.add_argument(
        "--log-dir", default=None, help="per-hop progress logs (one JSON line per batch)"
    )

    q = sub.add_parser("query", help="run a registered query and show rows")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=20)

    ls = sub.add_parser("list", help="list registered queries")
    ls.add_argument("--tag", default=None, help="filter by tag substring")

    r = sub.add_parser(
        "render",
        help="dashboard twin (reference src/dashboard/app.py): per-symbol "
        "KPI + min/max-downsampled candle chart as self-contained HTML "
        "or the raw JSON payload",
    )
    r.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    r.add_argument("--symbol", default=None, help="one symbol only")
    r.add_argument("--out", default="-", help="output file ('-' = stdout)")
    r.add_argument("--format", choices=("html", "json"), default="html")

    d = sub.add_parser(
        "delta", help="Delta table maintenance (OPTIMIZE/VACUUM/RESTORE/...)"
    )
    d.add_argument("--path", required=True, help="table root")
    dsub = d.add_subparsers(dest="delta_cmd", required=True)
    dsub.add_parser("history", help="DESCRIBE HISTORY")
    dsub.add_parser("detail", help="DESCRIBE DETAIL (one-row table facts)")
    comp = dsub.add_parser("compact", help="OPTIMIZE (small-file compaction)")
    comp.add_argument("--target-files", type=int, default=1)
    comp.add_argument(
        "--zorder-by", default=None, help="two comma-separated columns"
    )
    comp.add_argument(
        "--where",
        default=None,
        help="partition predicate: OPTIMIZE only the matching partitions",
    )
    vac = dsub.add_parser("vacuum", help="delete unreferenced old files")
    vac.add_argument(
        "--retention-hours", type=float, default=168.0, help="default 7 days"
    )
    vac.add_argument(
        "--force",
        action="store_true",
        help="override the table's deletedFileRetentionDuration check",
    )
    rst = dsub.add_parser("restore", help="roll back to a version")
    rst.add_argument("version", type=int)
    cp = dsub.add_parser("checkpoint", help="write a log checkpoint")
    cp.add_argument("--parts", type=int, default=None)
    lc = dsub.add_parser(
        "compact-log",
        help="write a minor log-compaction file (<s>.<e>.compacted.json)",
    )
    lc.add_argument("--start", type=int, default=None)
    lc.add_argument("--end", type=int, default=None)
    dl = dsub.add_parser("delete", help="DELETE WHERE via deletion vectors")
    dl.add_argument("predicate")
    up = dsub.add_parser(
        "update", help="UPDATE SET col=expr[,col=expr] WHERE predicate"
    )
    up.add_argument("predicate")
    up.add_argument(
        "assignments", help="comma-separated col=SQL-expr assignments"
    )
    cl = dsub.add_parser(
        "clone", help="shallow clone (zero-copy fork) to a new path"
    )
    cl.add_argument("target")
    cl.add_argument("--version", type=int, default=None)
    dsub.add_parser(
        "reorg", help="REORG APPLY (PURGE): rewrite only DV-carrying files"
    )
    df_ = dsub.add_parser(
        "drop-feature", help="protocol downgrade out of a table feature"
    )
    df_.add_argument("feature")
    df_.add_argument(
        "--truncate-history",
        action="store_true",
        help="checkpoint + expire the log prefix first (reader-writer "
        "features whose traces live in history)",
    )
    sd = dsub.add_parser(
        "set-default",
        help="ALTER COLUMN SET DEFAULT (expr) / DROP DEFAULT (pass '-')",
    )
    sd.add_argument("column")
    sd.add_argument("expr", help="SQL default expression, or '-' to drop")
    dsub.add_parser(
        "sync-identity",
        help="ALTER TABLE SYNC IDENTITY: recompute identity "
        "highWaterMarks from the table data",
    )
    cb = dsub.add_parser(
        "cluster-by",
        help="ALTER TABLE CLUSTER BY (liquid clustering): declare 1-2 "
        "clustering columns (dotted paths reach nested struct fields); "
        "a later bare `compact` executes the layout",
    )
    cb.add_argument(
        "columns", help="comma-separated column (or s.x path) list"
    )
    fs = dsub.add_parser(
        "fsck",
        help="FSCK REPAIR TABLE: drop log entries whose data files "
        "vanished outside the log",
    )
    fs.add_argument(
        "--dry-run", action="store_true", help="report only, no commit"
    )
    cv = dsub.add_parser(
        "convert",
        help="CONVERT TO DELTA: write a _delta_log over the existing "
        "parquet files in PATH, moving zero bytes",
    )
    cv.add_argument(
        "--partition-schema",
        default=None,
        help="comma-separated col:type pairs for hive-partitioned dirs",
    )
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    """Dispatch a CLI invocation; accepts an existing session for tests."""
    from . import plans
    from .plans import registry
    from .session import get_spark

    args = _build_parser().parse_args(argv)

    if args.cmd == "list":
        for name in sorted(registry.all_queries()):
            spec = registry.get(name)
            if args.tag and not any(args.tag in t for t in spec.tags):
                continue
            oracle = "oracle" if spec.oracle else "rows-only"
            print(f"{name}  [{', '.join(spec.tags)}]  ({oracle})")
        return 0

    own_session = spark is None
    spark = spark or get_spark("cryptopulse-cli")
    try:
        if args.cmd == "query":
            df = plans.get(args.name).fn(spark, args.sf_dir)
            df.show(args.limit, truncate=False)
            return 0

        if args.cmd == "render":
            from .dashboard import dashboard_payload, render_html

            payload = dashboard_payload(spark, args.sf_dir, args.symbol)
            if args.format == "json":
                import json as _json

                text = _json.dumps(payload, indent=1, default=str)
            else:
                text = render_html(payload)
            if args.out == "-":
                print(text)
            else:
                with open(args.out, "w") as fh:
                    fh.write(text)
                print(f"wrote {args.format} to {args.out}", file=sys.stderr)
            return 0

        if args.cmd == "delta":
            from .sources.delta import DeltaTable

            t = DeltaTable(args.path)
            if args.delta_cmd == "history":
                t.history(spark).show(100, truncate=False)
            elif args.delta_cmd == "detail":
                t.detail(spark).show(truncate=False, vertical=True)
            elif args.delta_cmd == "compact":
                z = None
                if args.zorder_by:
                    cols = [c.strip() for c in args.zorder_by.split(",") if c.strip()]
                    if len(cols) != 2:
                        print(
                            "--zorder-by needs exactly two comma-separated "
                            f"columns, got {args.zorder_by!r}",
                            file=sys.stderr,
                        )
                        return 2
                    z = (cols[0], cols[1])
                v = t.compact(
                    spark,
                    target_files=args.target_files,
                    zorder_by=z,
                    where=args.where,
                )
                print(
                    f"OPTIMIZE committed version {v}"
                    if v is not None
                    else "OPTIMIZE: no partition matches the predicate"
                )
            elif args.delta_cmd == "vacuum":
                deleted = t.vacuum(
                    retention_ms=int(args.retention_hours * 3600 * 1000),
                    force=args.force,
                )
                print(f"vacuumed {len(deleted)} file(s)")
                for rel in deleted:
                    print(f"  {rel}")
            elif args.delta_cmd == "restore":
                v = t.restore(args.version)
                print(f"RESTORE committed version {v}")
            elif args.delta_cmd == "checkpoint":
                v = t.checkpoint(spark, parts=args.parts)
                print(f"checkpointed at version {v}")
            elif args.delta_cmd == "compact-log":
                name = t.compact_log(args.start, args.end)
                print(f"wrote log compaction {name}")
            elif args.delta_cmd == "delete":
                v = t.delete(spark, args.predicate)
                print(f"DELETE committed version {v}")
            elif args.delta_cmd == "update":
                sets = {}
                for part in args.assignments.split(","):
                    col, _, expr = part.partition("=")
                    if not _ or not col.strip() or not expr.strip():
                        print(
                            f"bad assignment {part!r} (want col=expr)",
                            file=sys.stderr,
                        )
                        return 2
                    sets[col.strip()] = expr.strip()
                v = t.update(spark, args.predicate, sets)
                print(f"UPDATE committed version {v}")
            elif args.delta_cmd == "clone":
                c = t.clone_to(args.target, version=args.version)
                print(f"cloned to {c.path} at version 0")
            elif args.delta_cmd == "reorg":
                v = t.reorg_purge(spark)
                print(
                    f"REORG committed version {v}"
                    if v is not None
                    else "REORG: no deletion vectors to purge"
                )
            elif args.delta_cmd == "drop-feature":
                v = t.drop_feature(
                    args.feature,
                    spark,
                    truncate_history=args.truncate_history,
                )
                print(f"DROP FEATURE {args.feature} committed version {v}")
            elif args.delta_cmd == "set-default":
                expr = None if args.expr == "-" else args.expr
                v = t.set_column_default(args.column, expr)
                verb = "DROP DEFAULT" if expr is None else f"SET DEFAULT {expr}"
                print(f"ALTER COLUMN {args.column} {verb}: version {v}")
            elif args.delta_cmd == "sync-identity":
                v = t.sync_identity(spark)
                print(f"SYNC IDENTITY committed version {v}")
            elif args.delta_cmd == "cluster-by":
                cols = [
                    c.strip() for c in args.columns.split(",") if c.strip()
                ]
                v = t.set_cluster_by(cols)
                print(
                    f"CLUSTER BY ({', '.join(cols)}) committed version {v}"
                )
            elif args.delta_cmd == "fsck":
                v, missing = t.fsck_repair(dry_run=args.dry_run, spark=spark)
                if not missing:
                    print("FSCK: all referenced files present")
                elif args.dry_run:
                    print(f"FSCK dry run: {len(missing)} missing file(s)")
                    for p in missing:
                        print(f"  {p}")
                else:
                    print(
                        f"FSCK committed version {v}: dropped "
                        f"{len(missing)} missing file(s)"
                    )
            elif args.delta_cmd == "convert":
                ps = None
                if args.partition_schema:
                    ps = dict(
                        pair.split(":", 1)
                        for pair in args.partition_schema.split(",")
                    )
                DeltaTable.convert_from_parquet(args.path, partition_schema=ps)
                print(f"converted {args.path} to Delta at version 0")
            return 0

        if args.cmd == "pipeline":
            from .streaming.jobs import run_medallion_available_now

            paths = run_medallion_available_now(
                spark,
                raw_dir=args.raw_dir,
                out_root=args.out_root,
                watermark=args.watermark,
                log_dir=args.log_dir,
            )
            for layer, path in paths.items():
                n = spark.read.parquet(path).count()
                print(f"{layer}: {n} rows at {path}")
            return 0
        return 2
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":  # pragma: no cover - exercised via __main__
    sys.exit(main())
