"""Per-batch / per-partition lineage + metrics tables.

Reference parity: the compteur/statistics engine (``Statstore``
formats/interne/stats.py:536-676), per-run stat tables and per-worker
``_wid`` partial stats merged on the master (parallel.py:158-178,516-535),
and the obj/s throughput counters ``perf_r``/``perf_w``
(pyetl.py:1366-1385). Every MERGE records its batch facts in the summary
of its own commit manifest, so they land atomically with the data and
cost no Spark job of their own. The two views read them back:

- :func:`read_metrics`, one row per merge commit (batch-level: events in,
  dedup survivors, buckets touched, files written, wall ms, events/s), and
- :func:`read_lineage`, one row per touched bucket of each pruned merge
  (partition-level: events routed to that bucket, upserts vs deletes),
  the per-partition lineage required by the north_rule.

Both are built from :meth:`SnapshotTable.commit_summaries`: the retained
manifests plus the archive ``expire_snapshots`` appends to before it
unlinks a manifest, so expiry does not erase telemetry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyetl_spark.cdc.tableio import SnapshotTable


def _merge_commits(spark: SparkSession, table_root: str) -> list[dict]:
    return [
        r
        for r in SnapshotTable(spark, table_root).commit_summaries()
        if "events_in" in r["summary"]
    ]


def read_metrics(spark: SparkSession, table_root: str) -> DataFrame:
    rows = []
    for r in _merge_commits(spark, table_root):
        s = r["summary"]
        rows.append(
            (
                s.get("batch_id"),
                r["version"],
                s["events_in"],
                s.get("keys_upserted"),
                s.get("dupes_dropped"),
                s.get("buckets_touched"),
                s.get("files_written"),
                s.get("wall_ms"),
                int(s["events_in"] / (s["wall_ms"] / 1000.0)) if s.get("wall_ms") else 0,
                False,  # a redelivered batch commits nothing, so it has no row
                r["committed_ts"],
            )
        )
    return spark.createDataFrame(
        rows,
        "batch_id string, version int, events_in long, keys_upserted long, "
        "dupes_dropped long, buckets_touched int, files_written int, "
        "wall_ms long, events_per_sec long, skipped boolean, ts double",
    )


def read_lineage(spark: SparkSession, table_root: str) -> DataFrame:
    rows = [
        (int(b), ev, dels, ups, r["summary"].get("batch_id"), r["version"], r["committed_ts"])
        for r in _merge_commits(spark, table_root)
        for b, (ev, ups, dels) in (r["summary"].get("lineage") or {}).items()
    ]
    return spark.createDataFrame(
        rows,
        "bucket int, events_in long, deletes long, upserts long, "
        "batch_id string, version int, ts double",
    )


def _recorded_by_commit(*_args, **_kwargs) -> None:
    """No-op: merge() records batch metrics and lineage in its commit
    summary. The two names below stay importable for callers of the former
    side-write API; perfbench's traced run wraps them on ``cdc.stream``."""


record_batch_metrics = record_lineage = _recorded_by_commit
