"""Deployable lake-maintenance job — the Iceberg ``rewrite_data_files`` +
``expire_snapshots`` maintenance pair for a SnapshotTable, run on a
schedule beside a streaming ingest (the reference's batch housekeeping
analog: jobcontrol.py job-completion sweeps).

Order matters and is fixed: COMPACT first (rewrite fragmented buckets into
clustered files — linear stats_cols sort or the z-order key, whichever the
table declares), then EXPIRE (drop manifests older than --keep-last and
delete unreferenced data files, including the pre-compaction copies just
superseded). Both are safe beside concurrent readers (files are immutable,
commits are atomic pointer swaps) and beside a concurrent writer: an op
that loses a race skips this cycle (exit 0, the next cycle retries); an op
the table refuses prints ``maintain: <op> failed: <reason>`` on stderr, the
other ops still run, and the job exits 1.
Expiry passes ``--orphan-grace`` (default 600 s) through to
``expire_snapshots(orphan_grace_s=...)`` so a writer's staged pre-commit
files — on disk before its manifest commit — are never swept mid-write.

``--rescale N`` changes the table's bucket count first (metadata-only
commit; see SnapshotTable.rescale — Iceberg partition-spec evolution): the
compact that follows in the same run migrates every un-migrated legacy
bucket to the new spec, so one maintenance cycle = a complete, atomic-per-
commit re-bucketing that never blocked the concurrent ingest.

``--alter '{"stats_cols": ["x"], ...}'`` evolves the engine layout props
first (metadata-only; see SnapshotTable.alter_props — Iceberg ALTER TABLE
SET TBLPROPERTIES / sort-order evolution): the compact that follows in the
same run re-lays existing files out under the new clustering/blooms, so
one maintenance cycle = a complete re-layout under the new sort order.

``--delete-where`` / ``--update-where`` run the row-level DML sweep BEFORE
compact+expire, so one maintenance cycle is the complete GDPR-erasure /
data-correction path: tombstone (or rewrite) the matching rows, fold the
touched buckets to clean files, then expire the pre-DML history — after
the run, the erased content is gone from live files AND from time travel
(within --keep-last). ``--dml-batch-id`` puts the sweep on the table
ledger: a rerun with the same id is a no-op, so the job stays
crash-safe-idempotent end to end.

``--rename OLD NEW`` / ``--drop-column NAME`` run the metadata-only column
evolution (SnapshotTable.rename_column/drop_column — Iceberg RENAME/DROP
COLUMN) BEFORE compact+expire, so one maintenance cycle is the complete
migration: the compact rewrites every file under the new physical names
and the expiry's name-registry prune frees the retired names as soon as
nothing retained still carries them. ``--add-constraint NAME EXPR`` /
``--drop-constraint NAME`` manage CHECK constraints (Delta constraint
analog; the add validates existing state first).

Usage:
    cd <repo> && zip -qr /tmp/pyetl_spark.zip pyetl_spark
    spark-submit --master <cluster|local[N]> --py-files /tmp/pyetl_spark.zip \
        jobs/table_maintain.py <table_root> [--min-files 2] [--keep-last 2] \
        [--rescale N] [--alter JSON] [--clone DEST [--clone-version V]] \
        [--delete-where JSON] [--update-where JSON] [--dml-batch-id ID] \
        [--add-column NAME TYPE] [--rename OLD NEW] [--drop-column NAME] \
        [--add-constraint NAME EXPR] [--drop-constraint NAME] \
        [--no-compact] [--no-expire] [--orphan-grace 600]

Prints one summary line: buckets compacted, files before/after, the ops
that lost a race (``conflicts=<op,...>``), manifests removed, data files
removed, final version.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession

from pyetl_spark.cdc.tableio import (
    ConcurrentWriteError,
    ConstraintViolationError,
    SnapshotTable,
)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("table_root")
    ap.add_argument("--min-files", type=int, default=2)
    ap.add_argument("--keep-last", type=int, default=2)
    ap.add_argument("--rescale", type=int, default=None, metavar="N")
    ap.add_argument(
        "--alter",
        default=None,
        metavar="JSON",
        help="JSON object of engine layout props to set before compacting "
        "(SnapshotTable.alter_props); keys prefixed '-' are unset",
    )
    ap.add_argument("--no-compact", action="store_true")
    ap.add_argument("--no-expire", action="store_true")
    ap.add_argument(
        "--orphan-grace",
        type=float,
        default=600.0,
        metavar="SECONDS",
        help="never-referenced files younger than this survive expiry — "
        "they may be a live writer's staged pre-commit files (Iceberg "
        "removeOrphanFiles older_than analog); committed-but-superseded "
        "files are always reclaimed regardless",
    )
    ap.add_argument(
        "--clone",
        default=None,
        metavar="DEST",
        help="before any maintenance, shallow-clone the table to DEST "
        "(SnapshotTable.clone — metadata-only, zero data copied); with "
        "--clone-version, clone that retained time-travel version. The "
        "maintenance flags still apply to the SOURCE table afterwards — "
        "note expiry on the source can reclaim files a clone references "
        "(Delta vacuum parity), so pair --clone with --no-expire unless "
        "the clone is throwaway",
    )
    ap.add_argument("--clone-version", type=int, default=None, metavar="V")
    ap.add_argument(
        "--delete-where",
        default=None,
        metavar="JSON",
        help='JSON list of [col, op, literal] filters, e.g. '
        '\'[["v", "<", 30]]\' — tombstone matching rows before compacting '
        "(SnapshotTable.delete_where; with expiry in the same run this is "
        "the complete erasure sweep)",
    )
    ap.add_argument(
        "--update-where",
        default=None,
        metavar="JSON",
        help='JSON {"set": {col: sql_expr}, "where": [[col, op, literal]]} '
        "— rewrite matching rows before compacting "
        "(SnapshotTable.update_where)",
    )
    ap.add_argument(
        "--dml-batch-id",
        default=None,
        metavar="ID",
        help="table-ledger batch id for the DML sweep; a rerun with the "
        "same id is a no-op (exactly-once under retries)",
    )
    ap.add_argument(
        "--add-column",
        nargs=2,
        default=None,
        metavar=("NAME", "TYPE"),
        help="add a typed column (metadata-only; readers see nulls until "
        "a write carries it)",
    )
    ap.add_argument(
        "--rename",
        nargs=2,
        default=None,
        metavar=("OLD", "NEW"),
        help="rename a column (metadata-only; the compact below migrates "
        "the files, the expiry prunes the retired name when free)",
    )
    ap.add_argument(
        "--drop-column",
        default=None,
        metavar="NAME",
        help="drop a payload column (metadata-only; bytes leave files at "
        "compact and history at expiry)",
    )
    ap.add_argument(
        "--add-constraint",
        nargs=2,
        default=None,
        metavar=("NAME", "EXPR"),
        help="add a CHECK constraint (validates existing state first)",
    )
    ap.add_argument(
        "--drop-constraint",
        default=None,
        metavar="NAME",
        help="remove a CHECK constraint",
    )
    ap.add_argument(
        "--verify",
        action="store_true",
        help="run the metadata fsck (SnapshotTable.verify) after "
        "maintenance; exit 1 on issues",
    )
    args = ap.parse_args(argv)
    spark = SparkSession.builder.appName("pyetl_spark_table_maintain").getOrCreate()
    table = SnapshotTable(spark, args.table_root)

    bid = args.dml_batch_id
    both = args.delete_where is not None and args.update_where is not None

    def dml_id(suffix: str) -> str | None:
        # one ledger id per DML op: with both flags set, suffix so the
        # second isn't swallowed by the first's ledger entry
        return f"{bid}:{suffix}" if bid and both else bid

    # (token, op, its summary field) in the fixed run order; flags are
    # parsed here, so a malformed invocation fails before any op runs
    ops = []
    if args.delete_where is not None:
        where = [tuple(f) for f in json.loads(args.delete_where)]
        ops.append(("delete", lambda: table.delete_where(where, dml_id("del")),
                    lambda st: f"deleted={st.events_in}"))
    if args.update_where is not None:
        upd = json.loads(args.update_where)
        upd_where = [tuple(f) for f in upd["where"]]
        ops.append(("update", lambda: table.update_where(upd["set"], upd_where, dml_id("upd")),
                    lambda st: f"updated={st.events_in}"))
    if args.add_column is not None:
        name, dtype = args.add_column
        ops.append(("add_column", lambda: table.add_column(name, dtype),
                    lambda _: f"added_column={name}"))
    if args.rename is not None:
        old, new = args.rename
        ops.append(("rename", lambda: table.rename_column(old, new),
                    lambda _: f"renamed={old}:{new}"))
    if args.drop_column is not None:
        ops.append(("drop_column", lambda: table.drop_column(args.drop_column),
                    lambda _: f"dropped_column={args.drop_column}"))
    if args.add_constraint is not None:
        cname, expr = args.add_constraint
        ops.append(("add_constraint", lambda: table.add_constraint(cname, expr),
                    lambda _: f"constraint_added={cname}"))
    if args.drop_constraint is not None:
        ops.append(("drop_constraint", lambda: table.drop_constraint(args.drop_constraint),
                    lambda _: f"constraint_dropped={args.drop_constraint}"))
    if args.alter is not None:
        spec = json.loads(args.alter)
        unset = [k[1:] for k in spec if k.startswith("-")]
        sets = {k: v for k, v in spec.items() if not k.startswith("-")}
        # creator-owned props need alter_props(force=True), which this job
        # never passes
        owned = sorted((set(sets) | set(unset)) - SnapshotTable._ALTERABLE_PROPS)
        if owned:
            raise ValueError(f"--alter: {owned} are creator-owned table props")
        # the compact below re-lays files out under the new props
        ops.append(("alter", lambda: table.alter_props(sets, unset=unset), None))
    if args.rescale is not None:  # lazy: the compact below finishes it
        ops.append(("rescale", lambda: table.rescale(args.rescale), None))
    if not args.no_compact:
        ops.append(("compact", lambda: table.compact(min_files=args.min_files), None))

    cloned = ""
    if args.clone is not None:
        t2 = table.clone(args.clone, version=args.clone_version)
        cloned = f"cloned_to={args.clone} cloned_version={t2.current_version()} "

    done, fields, conflicts, failed = {}, [], [], []
    for token, op, field in ops:
        try:
            done[token] = res = op()
        except ConcurrentWriteError:
            conflicts.append(token)  # a writer landed mid-op; next cycle retries
        except (ValueError, ConstraintViolationError) as e:
            failed.append(token)
            print(f"maintain: {token} failed: {' '.join(str(e).split())}", file=sys.stderr)
        else:
            if field is not None:
                fields.append(field(res) + " ")
    c = done.get("compact", {"compacted_buckets": 0, "files_before": 0, "files_after": 0})

    e = {"removed_manifests": 0, "removed_files": 0}
    if not args.no_expire:
        e = table.expire_snapshots(
            keep_last=args.keep_last, orphan_grace_s=args.orphan_grace
        )

    fsck = ""
    rc = 1 if failed else 0
    if args.verify:
        rep = table.verify(all_versions=True)
        fsck = (
            f" fsck_ok={str(rep['ok']).lower()}"
            f" fsck_issues={len(rep['issues'])}"
            f" orphan_files={rep['orphan_files']}"
        )
        for issue in rep["issues"]:
            print(f"fsck: {issue}", file=sys.stderr)
        rc = rc or (0 if rep["ok"] else 1)
    print(
        cloned + "".join(fields) + f"compacted_buckets={c['compacted_buckets']} "
        f"files_before={c['files_before']} files_after={c['files_after']} "
        f"compact_skipped={str('compact' in conflicts).lower()} "
        + (f"conflicts={','.join(conflicts)} " if conflicts else "")
        + f"removed_manifests={e['removed_manifests']} "
        f"removed_files={e.get('removed_files', 0)} "
        f"freed_names={e.get('freed_names', 0)} "
        f"version={table.current_version()}" + fsck
    )
    return rc


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
