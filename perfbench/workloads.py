"""The closed-loop CDC workloads.

Each workload generates its change events once, during set-up, as parquet
batch directories (one ``b=<n>`` directory per batch, written by a single
Spark job from ``pyetl_spark.cdc.datagen.change_events``), so the timed
phase only consumes inputs. A step of the loop ingests one batch (arrival
-> base commit visible: ``batch_ms``) and brings the workload's downstream
consumer up to date (base commit -> consumer reflects it: ``refresh_ms``).
In ``feed_view`` the two follow each other; in ``stream_tail`` the consumer
is the micro-batch's own telemetry and commit, so ``refresh_ms`` is the
tail of ``batch_ms``. One caller drives each loop and waits for every step.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import functions as F

from jobs.cdc_ingest import default_rules
from jobs.cdf_view import consume
from pyetl_spark.cdc.datagen import EVENT_SCHEMA, change_events
from pyetl_spark.cdc.dedup import lww_dedup
from pyetl_spark.cdc.ivm import IncrementalAgg
from pyetl_spark.cdc.stream import StreamingIngest
from pyetl_spark.cdc.tableio import SnapshotTable
from pyetl_spark.rules import RuleContext, compile_rules

from perfbench import checks

KEYS = ["repo", "path"]
NBUCKETS = 32  # jobs/cdc_ingest.py's default table layout


@dataclass
class Sample:
    events: int
    batch_ms: float
    refresh_ms: float
    t0: float  # perf_counter at arrival
    t1: float  # perf_counter when the consumer reflects the batch


def _ms(t0: float, t1: float) -> float:
    return (t1 - t0) * 1000.0


class Workload:
    """Set-up, one loop step, checks and isolation probes of a workload."""

    name = ""
    has_rules = True
    schema = EVENT_SCHEMA

    def __init__(self, spark, work: str, seed: int, seconds: int, size: dict, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        # batches for warm-up and ``batches_per_s`` steps per second of the
        # run: a few times the rate of the program this was written against
        self.max_batches = size["warmup"] + int(size["batches_per_s"] * seconds) + 2
        self.tracer = tracer
        self.inputs = os.path.join(work, "inputs")
        self.transform = None
        # (table root, version) -> input batch, to count a merge's keys
        self.merge_paths: dict[tuple[str, int], str] = {}

    # set-up ------------------------------------------------------------
    def gen(self, n_events: int, batch_of, extra=None) -> None:
        """Write every event once, ``b=<batch_of(seq)>`` per batch, one
        file per batch directory."""
        df = change_events(self.spark, n_events, seed=self.seed,
                           n_repos=self.size["repos"], paths_per_repo=self.size["paths"],
                           partitions=self.spark.sparkContext.defaultParallelism)
        if extra is not None:
            df = extra(df)
        df.withColumn("b", batch_of(F.col("seq"))).repartition("b").write.partitionBy("b").parquet(self.inputs)

    def batch_dir(self, b: int) -> str:
        return os.path.join(self.inputs, f"b={b}")

    def read_batch(self, paths):
        paths = [paths] if isinstance(paths, str) else paths
        return self.spark.read.schema(self.schema).option("recursiveFileLookup", "true").parquet(*paths)

    def traced_transform(self, df):
        with self.tracer.span("rules"):
            return self.transform(df)

    # hooks --------------------------------------------------------------
    def make_inputs(self) -> None: ...
    def seed_table(self) -> None: ...
    def warmup(self) -> None: ...
    def step(self) -> list[Sample] | None: ...
    def finish(self) -> None: ...
    def check(self) -> list[str]: ...
    def probe_batches(self) -> list[str]: ...

    def distinct_keys(self, path: str) -> int:
        return self.read_batch(path).select(*KEYS).distinct().count()

    def isolation_probes(self, reps: int = 3) -> dict:
        """read vs read+rules vs read+rules+lww_dedup into a noop sink, on
        the workload's own batches, after the timed loop."""
        paths = self.probe_batches()

        def run(tag: str, build) -> float:
            times = []
            for _ in range(reps):
                t0 = time.perf_counter()
                for p in paths:
                    with self.tracer.span(f"probe.{tag}"):
                        build(self.read_batch(p)).write.format("noop").mode("overwrite").save()
                times.append(_ms(t0, time.perf_counter()) / len(paths))
            return sorted(times)[len(times) // 2]

        tr = self.transform or (lambda df: df)
        read_ms = run("read", lambda df: df)
        rules_ms = run("rules", tr) if self.has_rules else read_ms
        dedup_ms = run("dedup", lambda df: lww_dedup(tr(df), keys=KEYS, seq="seq"))
        return {"rules_exec_ms": rules_ms - read_ms, "dedup_exec_ms": dedup_ms - rules_ms}


class StreamTail(Workload):
    """``StreamingIngest`` with ``jobs/cdc_ingest.py``'s defaults drains
    small event files into a pre-seeded table. The loop moves the next
    batch directory into the source directory once the previous micro-batch
    has committed; the query polls on a ``0 seconds`` processing-time
    trigger, one file per trigger."""

    name = "stream_tail"

    def make_inputs(self):
        seed_n, per = self.size["seed"], self.size["batch"]
        self.gen(seed_n + self.max_batches * per,
                 lambda seq: F.when(seq < seed_n, -1).otherwise(((seq - seed_n) / per).cast("int")))
        self.transform = compile_rules(default_rules(), RuleContext())
        self.events_dir = os.path.join(self.work, "events")
        os.makedirs(self.events_dir)
        self.next_batch = 0
        self.epoch_path: dict[int, str] = {}

    def seed_table(self):
        self.root = os.path.join(self.work, "base")
        self.table = SnapshotTable.create(self.spark, self.root, keys=KEYS, nbuckets=self.size["buckets"])
        self.table.merge(self.transform(self.read_batch(self.batch_dir(-1))), batch_id="seed", prune=False)
        self.events_in: dict[str, int] = {}
        self.committed_at: dict[str, float] = {}  # batch id -> wall clock at merge() return
        table = self.table

        def merge_counted(*args, **kwargs):
            # the progress's numInputRows counts every re-execution of the
            # micro-batch DataFrame; the merge's events_in is the real count
            stats = SnapshotTable.merge(table, *args, **kwargs)
            self.committed_at[str(stats.batch_id)] = time.time()
            self.events_in[str(stats.batch_id)] = stats.events_in
            return stats

        table.merge = merge_counted
        self.ingest = StreamingIngest(self.spark, self.events_dir, self.table,
                                      os.path.join(self.work, "ckpt"),
                                      transform=self.traced_transform,
                                      max_files_per_trigger=1, processing_time="0 seconds")
        process = self.ingest._process_batch
        self.batch_done = threading.Event()

        def process_batch(df, epoch_id):
            try:
                with self.tracer.span("stream.batch"):
                    return process(df, epoch_id)
            finally:
                self.batch_done.set()

        self.ingest._process_batch = process_batch
        self.query = self.ingest.start()

    def _run_one(self) -> Sample | None:
        b = self.next_batch
        if b >= self.max_batches:
            return None
        epoch = b  # one file per trigger, and no trigger without data
        self.next_batch += 1
        dest = os.path.join(self.events_dir, f"b={b}")
        self.batch_done.clear()
        t0 = time.perf_counter()
        os.rename(self.batch_dir(b), dest)
        self.epoch_path[epoch] = dest
        deadline = t0 + 120
        # no py4j calls while foreachBatch runs: polling the progress would
        # compete with the batch's own Python thread for the GIL and py4j
        while not self.batch_done.wait(0.5):
            self._alive(epoch, deadline)
        prog = None
        while prog is None:
            last = self.query.lastProgress
            if last and last["batchId"] >= epoch:
                prog = next((p for p in self.query.recentProgress
                             if p["batchId"] == epoch and p["numInputRows"] > 0), None)
                if prog is not None:
                    break
            self._alive(epoch, deadline)
            time.sleep(0.005)
        t1 = time.perf_counter()
        bid = f"stream:{epoch}"
        trigger_ms = prog["durationMs"]["triggerExecution"]
        # the trigger starts at the progress's timestamp (the JVM's wall
        # clock, which time.time() reads too); refresh runs from the base
        # commit to the trigger's end: _metrics, _lineage, the commit log
        started = datetime.strptime(prog["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
        refresh = started.timestamp() * 1000.0 + trigger_ms - self.committed_at[bid] * 1000.0
        self.progress.append({**prog, "events_in": self.events_in[bid]})
        return Sample(self.events_in[bid], trigger_ms, refresh, t0, t1)

    def _alive(self, epoch: int, deadline: float) -> None:
        if not self.query.isActive:
            raise RuntimeError(f"streaming query stopped: {self.query.exception()}")
        if time.perf_counter() > deadline:
            raise RuntimeError(f"micro-batch {epoch} did not commit within 120 s")

    def warmup(self):
        self.progress = []
        for _ in range(self.size["warmup"]):
            self._run_one()

    def step(self):
        one = self._run_one()
        return None if one is None else [one]

    def finish(self):
        self.query.stop()
        self.query.awaitTermination()

    def check(self):
        events = self.read_batch(self.batch_dir(-1)).unionByName(self.read_batch(self.events_dir))
        errors = checks.check_against_oracle(events, self.table.read())
        before = self.table.current_version()
        last = max(self.epoch_path)
        df = self.transform(self.read_batch(self.epoch_path[last]))
        self.table.merge(df, batch_id=f"stream:{last}", with_stats=True)
        errors += checks.check_unchanged("re-delivering the last micro-batch", before, self.table.current_version())
        StreamingIngest(self.spark, self.events_dir, self.table, os.path.join(self.work, "ckpt"),
                        transform=self.transform, max_files_per_trigger=1).run_until_drained(120)
        return errors + checks.check_unchanged("restarting the drained query", before, self.table.current_version())

    def probe_batches(self):
        return [self.epoch_path[e] for e in sorted(self.epoch_path)[-5:]]


class FeedView(Workload):
    """Each step merges one small batch into a seeded base table, then
    ``jobs/cdf_view.consume`` catches a repo-level COUNT/SUM(bytes) view up
    to the new commit. No transform rules run here."""

    name = "feed_view"
    has_rules = False
    schema = EVENT_SCHEMA + ", bytes long"

    def make_inputs(self):
        seed_n, per = self.size["seed"], self.size["batch"]
        self.gen(seed_n + self.max_batches * per,
                 lambda seq: F.when(seq < seed_n, -1).otherwise(((seq - seed_n) / per).cast("int")),
                 extra=lambda df: df.withColumn("bytes", F.length("content").cast("long")))
        self.next_batch = 0

    def seed_table(self):
        self.root = os.path.join(self.work, "base")
        self.view_root = os.path.join(self.work, "view")
        self.table = SnapshotTable.create(self.spark, self.root, keys=KEYS, nbuckets=self.size["buckets"])
        self.table.merge(self.read_batch(self.batch_dir(-1)), batch_id="seed", prune=False)
        self._consume()

    def _consume(self) -> dict:
        with self.tracer.span("consume"):
            return consume(self.spark, self.root, self.view_root, ["repo"], ["bytes"])

    def warmup(self):
        for _ in range(self.size["warmup"]):
            self.step()

    def step(self):
        b = self.next_batch
        if b >= self.max_batches:
            return None
        self.next_batch += 1
        t0 = time.perf_counter()
        with self.tracer.span("input"):
            df = self.read_batch(self.batch_dir(b))
        stats = self.table.merge(df, batch_id=f"feed:{b}")
        self.merge_paths[(self.root, stats.version)] = self.batch_dir(b)
        t1 = time.perf_counter()
        self._consume()
        t2 = time.perf_counter()
        return [Sample(stats.events_in, _ms(t0, t1), _ms(t1, t2), t0, t2)]

    def check(self):
        view = IncrementalAgg(self.spark, self.view_root, ["repo"], ["bytes"])
        errors = checks.check_view(self.table.read(), view.state())
        before, view_before = self.table.current_version(), view.table.current_version()
        last = self.next_batch - 1
        self.table.merge(self.read_batch(self.batch_dir(last)), batch_id=f"feed:{last}")
        errors += checks.check_unchanged("re-delivering the last batch", before, self.table.current_version())
        again = consume(self.spark, self.root, self.view_root, ["repo"], ["bytes"])
        if again["applied_now"]:
            errors.append(f"exactly-once: a second consume() applied {again['applied_now']}")
        return errors + checks.check_unchanged("a second consume()", view_before, view.table.current_version())

    def probe_batches(self):
        return [self.batch_dir(b) for b in range(max(0, self.next_batch - 5), self.next_batch)]

    def changes_probe(self, reps: int = 3) -> dict:
        """Execute the change feed of the last few base commits into a
        noop sink: the feed's execution time apart from the view fold."""
        table = SnapshotTable(self.spark, self.root)
        cur = table.current_version()
        exec_ms, rows = [], []
        for v in range(max(2, cur - 4), cur + 1):  # no rollbacks: v's parent is v - 1
            prev = v - 1
            times = []
            for _ in range(reps):
                t0 = time.perf_counter()
                table.changes(prev, v).write.format("noop").mode("overwrite").save()
                times.append(_ms(t0, time.perf_counter()))
            exec_ms.append(sorted(times)[len(times) // 2])
            rows.append(table.changes(prev, v).count())
        return {"exec_ms": exec_ms, "rows_out": rows}


WORKLOADS = {w.name: w for w in (StreamTail, FeedView)}

# Sizes per workload. "small" is for the benchmark's own tests.
SIZES = {
    # 2k-event batches on a 100k-event seed over datagen's default key space
    # (1000 repos x 200 paths), 32 buckets: the sizes the program's
    # streaming costs were first measured at (perfbench/NOTES.md)
    "full": {
        "stream_tail": {"repos": 1000, "paths": 200, "seed": 100_000, "batch": 2_000, "buckets": NBUCKETS,
                        "warmup": 2, "batches_per_s": 1},
        "feed_view": {"repos": 1000, "paths": 200, "seed": 100_000, "batch": 2_000, "buckets": NBUCKETS,
                      "warmup": 2, "batches_per_s": 1},
    },
    "small": {
        "stream_tail": {"repos": 50, "paths": 20, "seed": 1_000, "batch": 20, "buckets": 4,
                        "warmup": 1, "batches_per_s": 4},
        "feed_view": {"repos": 50, "paths": 20, "seed": 1_000, "batch": 20, "buckets": 4,
                      "warmup": 1, "batches_per_s": 2},
    },
}
