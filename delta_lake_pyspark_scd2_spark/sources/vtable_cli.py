"""``vtable`` — table-maintenance CLI over :class:`VersionedParquetTable`.

The ops surface Delta users get from ``DESCRIBE HISTORY`` / ``OPTIMIZE``
/ ``VACUUM`` / ``RESTORE``, as one command (the reference drives its
tables through notebook cells; this is the scriptable equivalent):

    vtable history  <path> [--limit N]
    vtable describe <path>
    vtable show     <path> [--version N | --timestamp EPOCH] [--limit N]
    vtable count    <path> [--version N]
    vtable changes  <path> --keys k1,k2 --from V [--to V]
    vtable compact  <path> [--zorder col1,col2] [--max-files N]
    vtable vacuum   <path> [--keep-versions N] [--dry-run]
    vtable delete   <path> --where col:op:value [--where ...]
    vtable purge    <path> --where col:op:value [--where ...]
    vtable update   <path> --where col:op:value --set col=expr
    vtable restore  <path> --version N
    vtable clone    <path> <dest>

Tables are Delta tables (``_delta_log``), so any Delta reader can open
a table this CLI maintains, and the CLI maintains Delta tables other
engines wrote.

Every subcommand prints one JSON line (machine-parseable, like the ETL
CLI) and exits nonzero on error. Maintenance commands are thin wrappers
over the library methods, so OCC/retention semantics are identical to
programmatic use.
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="vtable", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    def sp(name: str, **kw):
        s = sub.add_parser(name, **kw)
        s.add_argument("path")
        return s

    s = sp("history", help="commit log, newest first")
    s.add_argument("--limit", type=int, default=20)

    sp("describe", help="schema, partitioning, version, file/row counts")

    s = sp("show", help="print rows (time travel via --version/--timestamp)")
    s.add_argument("--version", type=int, default=None)
    s.add_argument("--timestamp", type=float, default=None)
    s.add_argument("--limit", type=int, default=20)

    s = sp("count", help="row count (log stats when exact, else scan)")
    s.add_argument("--version", type=int, default=None)

    s = sp("changes", help="CDF rows between versions")
    s.add_argument("--keys", required=True, help="comma-separated key columns")
    s.add_argument("--from", dest="v_from", type=int, required=True)
    s.add_argument("--to", dest="v_to", type=int, default=None)
    s.add_argument("--limit", type=int, default=20)

    s = sp("compact", help="small-file compaction (OPTIMIZE analogue)")
    s.add_argument("--zorder", default=None, help="comma-separated columns")
    s.add_argument("--max-files", type=int, default=1)

    s = sp("vacuum", help="retention sweep (VACUUM analogue)")
    s.add_argument("--keep-versions", type=int, default=1)
    s.add_argument("--dry-run", action="store_true")

    s = sp("fsck", help="storage-integrity audit (read-only; exit 1 if broken)")
    s.add_argument(
        "--deep",
        action="store_true",
        help="also compare each live file's parquet footer row count "
        "to the log's recorded rows",
    )

    s = sp("delete", help="DELETE FROM ... WHERE (file-granular)")
    s.add_argument(
        "--where",
        action="append",
        required=True,
        help="predicate as col:op:value (op in =,<,<=,>,>=,is_null,"
        "not_null; value parsed as number when possible); repeat for AND",
    )

    s = sp(
        "purge",
        help="right-to-be-forgotten erasure: DELETE at head, then "
        "rewrite matching rows out of EVERY retained version's files, "
        "commits, checkpoints and change-data files",
    )
    s.add_argument("--where", action="append", required=True)

    s = sp("update", help="UPDATE ... SET ... WHERE (file-granular)")
    s.add_argument("--where", action="append", required=True)
    s.add_argument(
        "--set",
        dest="sets",
        action="append",
        required=True,
        help="col=SQL-expression over the old row, e.g. price=price*2",
    )

    s = sp("restore", help="roll the table back to a version")
    s.add_argument("--version", type=int, required=True)

    s = sp("clone", help="zero-copy-read clone to a new path")
    s.add_argument("dest")

    return p


def _parse_where(parts: list[str]) -> list[tuple]:
    """``col:op:value`` triples → filter tuples; numeric values are
    parsed, everything else stays a string."""
    out = []
    for p in parts:
        bits = p.split(":", 2)
        col, op = bits[0], bits[1]
        if op in ("is_null", "not_null"):
            out.append((col, op, None))
            continue
        raw = bits[2]
        val: object = raw
        try:
            val = int(raw)
        except ValueError:
            try:
                val = float(raw)
            except ValueError:
                pass
        out.append((col, op, val))
    return out


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    from delta_lake_pyspark_scd2_spark.session import get_spark
    from delta_lake_pyspark_scd2_spark.sources.vtable import (
        VersionedParquetTable,
    )

    spark = get_spark("vtable_cli")
    if not VersionedParquetTable.is_table(args.path):
        print(json.dumps({"error": f"not a vtable: {args.path}"}))
        return 2
    t = VersionedParquetTable(spark, args.path)

    if args.cmd == "history":
        out = {"path": args.path, "history": t.history()[: args.limit]}
    elif args.cmd == "describe":
        df = t.read()
        hist = t.history()
        n = t.detail().get("num_rows")  # log stats: no scan
        out = {
            "path": args.path,
            "version": t.latest_version(),
            "schema": df.schema.simpleString(),
            "partition_columns": t.partition_columns(),
            "n_commits": len(hist),
            "n_rows": int(n) if n is not None else df.count(),
        }
    elif args.cmd == "show":
        df = t.read(version=args.version, timestamp=args.timestamp)
        out = {
            "path": args.path,
            "rows": [r.asDict() for r in df.limit(args.limit).collect()],
        }
    elif args.cmd == "count":
        n = None
        if args.version is None:
            n = t.detail().get("num_rows")  # log stats: no scan
        if n is None:
            n = t.read(version=args.version).count()
        out = {
            "path": args.path,
            "version": (
                t.latest_version() if args.version is None else args.version
            ),
            "n_rows": int(n),
        }
    elif args.cmd == "changes":
        df = t.table_changes(args.keys.split(","), args.v_from, args.v_to)
        out = {
            "path": args.path,
            "n_changes": df.count(),
            "rows": [r.asDict() for r in df.limit(args.limit).collect()],
        }
    elif args.cmd == "compact":
        zorder = args.zorder.split(",") if args.zorder else None
        n = t.compact(
            max_files_per_partition=args.max_files, zorder_by=zorder
        )
        out = {"path": args.path, "partitions_compacted": n}
    elif args.cmd == "vacuum":
        out = {
            "path": args.path,
            **t.vacuum(keep_versions=args.keep_versions, dry_run=args.dry_run),
        }
    elif args.cmd == "fsck":
        out = {"path": args.path, **t.fsck(deep=args.deep)}
    elif args.cmd == "delete":
        out = {"path": args.path, **t.delete(_parse_where(args.where))}
    elif args.cmd == "purge":
        out = {"path": args.path, **t.purge(_parse_where(args.where))}
    elif args.cmd == "update":
        sets = dict(s.split("=", 1) for s in args.sets)
        out = {
            "path": args.path,
            **t.update(_parse_where(args.where), sets),
        }
    elif args.cmd == "restore":
        v = t.restore(args.version)
        out = {"path": args.path, "restored_to": args.version, "new_version": v}
    elif args.cmd == "clone":
        t.clone(args.dest)
        out = {"path": args.path, "cloned_to": args.dest}
    else:  # pragma: no cover — argparse enforces choices
        return 2

    # timestamps/dates in show/changes rows aren't JSON-native
    print(json.dumps(out, default=str))
    if args.cmd == "fsck" and not out["ok"]:
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
