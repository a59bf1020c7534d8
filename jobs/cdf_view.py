"""Deployable change-feed consumer — maintains a downstream aggregate view
from a SnapshotTable's change-data-feed, incrementally and exactly-once.

This is the subscriber half of the CDC story: `jobs/cdc_ingest.py` tails
the event stream INTO the base table; this job tails the base table's
COMMITS into a materialized view (per-group count + sums, cdc/ivm.py).
Each run consumes only the commits the view has not applied yet (cursor =
the view table's own batch ledger, keyed "v<base_version>"), so the job is
a pure catch-up: re-running it with nothing new is a no-op, killing it
between commits and re-running converges to the same state, and a rerun
after a partial apply skips the already-ledgered commits
(reference analog: pyetl's jobcontrol completion markers, jobcontrol.py,
and the compteur statistics reports, moteur/compteurs.py).

Usage:
    cd <repo> && zip -qr /tmp/pyetl_spark.zip pyetl_spark
    spark-submit --master <cluster|local[N]> --py-files /tmp/pyetl_spark.zip \
        jobs/cdf_view.py <base_table_dir> <view_dir> \
        --group-cols event_type [--sum-cols value] \
        [--min-cols value] [--max-cols value] [--sumsq-cols value] |
        [--distinct-col value]

Min/max views recompute a group from the base table only when a commit
retracts that group's boundary value (cdc/ivm.py) — the job hands apply()
a TIME-TRAVEL read at each slice's end version, so catch-up over many
historical commits recomputes against the state each slice actually saw,
not today's.

Scale notes: per consumed commit, the feed reads only the buckets named by
the manifest diff (changes() docstring) and the view reads and rewrites
only the state buckets the slice's groups hash into — a quiet base table
costs nothing, a busy one costs ∝ its changed data. A COUNT/SUM view's
apply is two Spark job chains: the feed diff + delta aggregate, pinned
(it also yields the touched view buckets), and one write of the folded
buckets (SnapshotTable.replace_buckets); about 6 jobs per commit on
local[4]. consume() never scans the whole view: the ``groups`` count is
printed once, by main(), at exit. Expired intermediate manifests fail
loudly (ValueError) rather than silently skipping commits: re-create the
view or widen the base table's snapshot retention.

Summary line (stdout, JSON): ``base_version`` (the base table version
caught up to), ``applied_now`` (base commits applied by this run, oldest
first), ``view_version`` (the view's ledger table version after the run)
and ``groups`` (live groups in the view).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession

from pyetl_spark.cdc.ivm import IncrementalAgg, IncrementalDistinct
from pyetl_spark.cdc.tableio import SnapshotTable


def _open_view(
    spark, view_dir, group_cols, sum_cols, min_cols, max_cols, sumsq_cols, distinct_col
) -> tuple[IncrementalAgg | IncrementalDistinct, SnapshotTable]:
    """The view and the table whose ledger holds its base-feed cursor —
    for ``distinct_col`` (a chained count(DISTINCT col),
    IncrementalDistinct) that is the inner multiplicity table."""
    if distinct_col:
        if sum_cols or min_cols or max_cols or sumsq_cols:
            raise ValueError("--distinct-col is exclusive of sum/min/max/sumsq cols")
        view = IncrementalDistinct(spark, view_dir, group_cols, distinct_col)
        return view, view.inner.table
    view = IncrementalAgg(
        spark, view_dir, group_cols, sum_cols,
        min_cols=min_cols, max_cols=max_cols, sumsq_cols=sumsq_cols
    )
    return view, view.table


def consume(
    spark: SparkSession,
    base_dir: str,
    view_dir: str,
    group_cols: list[str],
    sum_cols: list[str],
    min_cols: list[str] = (),
    max_cols: list[str] = (),
    sumsq_cols: list[str] = (),
    distinct_col: str | None = None,
) -> dict:
    """Catch the view up to the base table's current version; returns a
    summary dict: ``base_version``, ``applied_now`` (the base commits
    applied by this call) and ``view_version``. It reads no view rows
    beyond the buckets the applies touch — :func:`main` prints the group
    count once, at exit. ``distinct_col`` switches the view to a chained
    count(DISTINCT col) (IncrementalDistinct)."""
    base = SnapshotTable(spark, base_dir)
    view, ledger_table = _open_view(
        spark, view_dir, group_cols, sum_cols, min_cols, max_cols, sumsq_cols, distinct_col
    )
    applied = {
        int(b[1:])
        for b in ledger_table.committed_batches()
        if b.startswith("v") and b[1:].isdigit()
    }
    cursor = max(applied, default=0)
    current = base.current_version()
    # every unapplied commit on the lineage, oldest first, one ledgered
    # apply each — a crash mid-loop resumes exactly where it stopped
    pending = [v for v in base._lineage(cursor, current)[1:] if v not in applied]
    prev = cursor
    needs_base = bool(min_cols or max_cols)
    for v in pending:
        if distinct_col:
            view.apply(base.changes(prev, v), batch_id=f"v{v}")
        else:
            view.apply(
                base.changes(prev, v),
                batch_id=f"v{v}",
                # the slice's END version, not current_version(): a boundary
                # retracted in commit v must recompute against state-at-v
                base=base.read(version=v) if needs_base else None,
            )
        prev = v
    return {
        "base_version": current,
        "applied_now": pending,
        "view_version": ledger_table.current_version(),
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("base_dir")
    ap.add_argument("view_dir")
    ap.add_argument("--group-cols", required=True, help="comma-separated")
    ap.add_argument("--sum-cols", default="", help="comma-separated")
    ap.add_argument("--min-cols", default="", help="comma-separated")
    ap.add_argument("--max-cols", default="", help="comma-separated")
    ap.add_argument(
        "--sumsq-cols",
        default="",
        help="comma-separated; additive sum-of-squares for derived AVG/VAR",
    )
    ap.add_argument(
        "--distinct-col",
        default=None,
        help="maintain count(DISTINCT col) per group instead (chained IVM)",
    )
    args = ap.parse_args(argv)

    spark = SparkSession.builder.appName("cdf-view").getOrCreate()
    try:
        cols = (
            [c for c in args.group_cols.split(",") if c],
            [c for c in args.sum_cols.split(",") if c],
            [c for c in args.min_cols.split(",") if c],
            [c for c in args.max_cols.split(",") if c],
            [c for c in args.sumsq_cols.split(",") if c],
        )
        summary = consume(
            spark, args.base_dir, args.view_dir, *cols, distinct_col=args.distinct_col
        )
        view, _ = _open_view(spark, args.view_dir, *cols, args.distinct_col)
        summary["groups"] = view.state().count()
        print(json.dumps(summary))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
