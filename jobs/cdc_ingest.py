"""Deployable CDC ingest job — the north_rule's `spark-submit --py-files` path.

Tails a directory of change-event parquet batches (the binlog/WAL analog;
swap for `readStream.format("kafka")` + `from_json` on a real bus), applies
the transform-rule pipeline, LWW-dedups, MERGE-upserts into the snapshot
table exactly-once, with each batch's metrics/lineage recorded in its commit —
resumable from the checkpoint at any kill point.

Usage:
    cd <repo> && zip -qr /tmp/pyetl_spark.zip pyetl_spark
    spark-submit --master <cluster|local[N]> --py-files /tmp/pyetl_spark.zip \
        jobs/cdc_ingest.py <events_dir> <table_dir> <checkpoint_dir> \
        [--nbuckets 32] [--max-files-per-trigger 4] [--keys repo,path]

On a cluster, spark-submit supplies the master and executor topology; the
job only layers SQL confs (pyetl_spark.session.get_spark does not override a
provided master). Re-submitting after completion is a fast no-op (committed-
batch ledger); deleting the checkpoint forces full source redelivery, which
the ledger absorbs without double-applying (idempotent MERGE).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession

from pyetl_spark.cdc import SnapshotTable
from pyetl_spark.cdc.stream import StreamingIngest
from pyetl_spark.rules import Rule, RuleContext, compile_rules


def default_rules() -> list[Rule]:
    """The reference-parity transform stage: normalize lang, stamp the
    per-row sha256 invariant (input_hint), record origin lineage."""
    return [
        Rule(op="upper", out="lang", inp="lang"),
        Rule(op="checksum", out="content_sha", inp="content"),
        Rule(op="set", out="origin", default="cdc:[repo]"),
    ]


def bench_replay(spark: SparkSession, n_events: int, n_batches: int, root: str) -> int:
    """north-rule scaling evidence through the LITERAL deployment path: this
    very spark-submit job, run once per cluster size, measures the flagship
    replay (generate → 5-rule transform → LWW dedup → bucket-pruned MERGE)
    and the compute-only variant (noop sink) after a full warmup replay,
    and prints ONE JSON line shaped like bench_scaling's worker output —
    so `bench_scaling.py --submit` can compute N→4N efficiency from two
    spark-submit invocations."""
    import json
    import os
    import shutil
    import time

    from pyetl_spark.cdc import SnapshotTable as _ST
    from pyetl_spark.cdc import change_events
    from pyetl_spark.cdc.dedup import lww_dedup

    cpus = spark.sparkContext.defaultParallelism
    reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "2"))
    gen = dict(n_repos=2000, paths_per_repo=500, seed=42)
    # same 5-rule pipeline as the in-process campaigns (bench_scaling.py),
    # so submit-path and in-process numbers are directly comparable
    rules = default_rules() + [
        Rule(op="sub", out="content", inp="content", p1=r"line ([0-9a-f]+);", p2=r"L<$1>"),
        Rule(op="len", out="content_len", inp="content"),
    ]
    transform = compile_rules(rules, RuleContext())

    def one_replay(tag: str) -> float:
        table = _ST.create(spark, os.path.join(root, tag), keys=["repo", "path"], nbuckets=32)
        per = n_events // n_batches
        t0 = time.time()
        for b in range(n_batches):
            lo, hi = b * per, (b + 1) * per if b < n_batches - 1 else n_events
            ev = change_events(spark, hi, start=lo, partitions=cpus, **gen)
            table.merge(transform(ev), batch_id=f"bench:{b}", prune=False)
        dt = time.time() - t0
        shutil.rmtree(os.path.join(root, tag), ignore_errors=True)
        return dt

    def one_compute() -> float:
        t0 = time.time()
        deduped = lww_dedup(
            transform(change_events(spark, n_events, partitions=cpus, **gen)),
            keys=["repo", "path"], seq="seq",
        )
        deduped.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    one_replay("warmup")  # full-size JIT/codegen warmup
    one_compute()
    replay = [round(one_replay(f"m{i}"), 2) for i in range(reps)]
    compute = [round(one_compute(), 2) for i in range(reps)]
    print(json.dumps({
        "cpus": cpus, "events": n_events, "mode": "spark-submit",
        "replay_sec": replay, "compute_sec": compute,
    }))
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("events_dir")
    ap.add_argument("table_dir")
    ap.add_argument("checkpoint_dir")
    ap.add_argument("--nbuckets", type=int, default=32)
    ap.add_argument("--max-files-per-trigger", type=int, default=4)
    ap.add_argument("--keys", default="repo,path")
    ap.add_argument("--no-transform", action="store_true")
    ap.add_argument(
        "--stats-cols", default="",
        help="comma-separated columns to cluster by and record per-file "
        "footer min/max for (enables SnapshotTable.scan data skipping)",
    )
    ap.add_argument(
        "--max-file-rows", type=int, default=0,
        help="cap rows per data file so footer min/max ranges stay narrow",
    )
    ap.add_argument(
        "--merge-mode", choices=["cow", "mor"], default="cow",
        help="commit strategy (table prop, set at create): cow rewrites "
        "touched buckets; mor appends the deduped delta (Iceberg v2 "
        "row-delta analog — commit cost tracks batch size; pair with "
        "periodic jobs/maintain.py compaction to retire the read tax)",
    )
    ap.add_argument(
        "--bench-replay", type=int, default=0, metavar="N_EVENTS",
        help="scaling-bench mode: skip the tail, run the flagship replay "
        "benchmark in THIS submitted job and print one JSON line "
        "(events_dir/checkpoint_dir are ignored; table_dir is the scratch root)",
    )
    ap.add_argument("--bench-batches", type=int, default=2)
    args = ap.parse_args(argv)

    spark = SparkSession.builder.appName("pyetl_spark_cdc_ingest").getOrCreate()
    if args.bench_replay:
        return bench_replay(spark, args.bench_replay, args.bench_batches, args.table_dir)
    keys = [k.strip() for k in args.keys.split(",")]

    if SnapshotTable.exists(args.table_dir):
        table = SnapshotTable(spark, args.table_dir)
    else:
        props: dict = {}
        if args.stats_cols:
            props["stats_cols"] = [c.strip() for c in args.stats_cols.split(",")]
        if args.max_file_rows:
            props["max_file_rows"] = args.max_file_rows
        if args.merge_mode != "cow":
            props["merge_mode"] = args.merge_mode
        table = SnapshotTable.create(
            spark, args.table_dir, keys=keys, nbuckets=args.nbuckets,
            props=props or None,
        )

    transform = None if args.no_transform else compile_rules(default_rules(), RuleContext())
    ingest = StreamingIngest(
        spark,
        args.events_dir,
        table,
        args.checkpoint_dir,
        transform=transform,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    ingest.run_until_drained()

    m = table.manifest()
    state = table.read()
    print(
        f"rows={state.count()} version={m['version']} "
        f"batches={len(m['committed_batches'])} max_seq={table.max_seq()}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
