"""CDC ingest benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload {stream_tail,feed_view}
                             --seed N --seconds S --trace {0,1} [--size small]

Run it from the root of a checkout of the repository. The workload's events
are generated from ``--seed`` during set-up; the loop then runs for
``--seconds``, finishing the step in flight, and the outputs are checked
after the loop. The last line of standard output is one
JSON object: ``correct``, ``attempted`` and ``failed`` steps, and the
metrics with their units -- the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. A traced run measures an untraced and
a traced half of the loop in one session, to report the tracing overhead.
The exit code is 1 when an output check or a step fails, 2 when the
program under test is not there.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the workload names and the metrics with their units are BENCHMARK.json's
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOAD_NAMES = [w["name"] for w in BENCH["workloads"]]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=("full", "small"))
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def program_missing() -> str | None:
    for rel in ("pyetl_spark/cdc/tableio.py", "jobs/cdc_ingest.py", "jobs/cdf_view.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return None


def start_session(work: str, trace: bool):
    from pyetl_spark.session import get_spark

    cpus = os.cpu_count() or 1
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed 1 GiB heap: the JVM's peak RSS then tracks memory the
        # program touches, not how far the collector chose to grow the heap
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1 only, at a tenth of the usual compile thresholds: step times
        # settle within the warm-up steps, where C2 takes ~25 batches (see
        # perfbench/NOTES.md). No perf-data file in /tmp; every temporary
        # file goes to the work dir.
        "spark.driver.extraJavaOptions": (
            "-XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.1 -XX:ReservedCodeCacheSize=256m "
            f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}"),
        # the status tracker must still hold every span's jobs at the end
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": os.path.join(work, "eventlog")})
    return get_spark(app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
                     extra_conf=conf)


def jvm_process():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    proc = jvm_process()
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def calibrate(reps: int = 5) -> float:
    """A fixed pure-Python CPU probe, median of ``reps`` (ms)."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(300_000):
            x += i * i % 7
        times.append((time.perf_counter() - t0) * 1000.0)
    return sorted(times)[len(times) // 2]


def closed_loop(wl, seconds: float, counts: dict) -> tuple[list, float]:
    """Run steps until ``seconds`` have passed; returns (samples, wall s)."""
    samples = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        try:
            got = wl.step()
        except Exception:
            traceback.print_exc()
            counts["attempted"] += 1
            counts["failed"] += 1
            break
        if got is None:  # every generated batch is used up
            print(f"perfbench: {wl.name} ran out of input batches", file=sys.stderr)
            break
        counts["attempted"] += len(got)
        samples.extend(got)
    return samples, time.perf_counter() - t0


def install_layer_spans(tracer) -> None:
    from pyetl_spark.cdc import stream as stream_mod
    from pyetl_spark.cdc.ivm import IncrementalAgg
    from pyetl_spark.cdc.tableio import SnapshotTable

    def merge_done(sp, args, stats):
        if sp and not stats.skipped:
            sp.update(root=args[0].root, version=stats.version, keys=stats.keys_after_dedup,
                      buckets_touched=stats.buckets_touched)

    tracer.wrap(SnapshotTable, "merge", "merge", on_result=merge_done)
    tracer.wrap(SnapshotTable, "manifest", "manifest", jobs=False)
    for attr in ("read_raw", "read", "max_seq", "changes", "bucket_ids"):
        tracer.wrap(SnapshotTable, attr, attr)
    tracer.wrap(IncrementalAgg, "apply", "ivm.apply")
    tracer.wrap(stream_mod, "record_batch_metrics", "metrics.batch")
    tracer.wrap(stream_mod, "record_lineage", "metrics.lineage")


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench import report
    from perfbench.tracing import SpanTree, Tracer, parse_event_log
    from perfbench.workloads import SIZES, WORKLOADS

    trace = bool(args.trace)
    phases = {}
    t = time.perf_counter()
    spark = start_session(work, trace)
    phases["setup.jvm_s"] = time.perf_counter() - t
    tracer = Tracer(spark)
    counts = {"attempted": 0, "failed": 0}
    errors: list[str] = []
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds, SIZES[args.size][args.workload], tracer)
        for phase, fn in (("inputs", wl.make_inputs), ("seed", wl.seed_table), ("warmup", wl.warmup)):
            t = time.perf_counter()
            fn()
            phases[f"setup.{phase}_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START
        calib_ms = calibrate()
        if trace:
            install_layer_spans(tracer)
            plain, plain_wall = closed_loop(wl, args.seconds / 2, counts)
            n_progress = len(getattr(wl, "progress", []))
            tracer.enabled = True
            samples, wall = closed_loop(wl, args.seconds / 2, counts)
            tracer.enabled = False
        else:
            samples, wall = closed_loop(wl, args.seconds, counts)
        wl.finish()
        jvm = jvm_process()
        rss_mb = (vm_hwm_kb(jvm.pid) + vm_hwm_kb("self")) / 1024.0
        t = time.perf_counter()
        errors = wl.check()
        checks_s = time.perf_counter() - t
        if trace:
            tracer.enabled = True
            extra = wl.isolation_probes()
            if hasattr(wl, "changes_probe"):
                extra["changes"] = wl.changes_probe()
            tracer.enabled = False
            tracer.record_job_counts()
            keys_cache: dict[str, int] = {}
            for sp in tracer.spans:
                if sp["name"] != "merge" or "version" not in sp:
                    continue
                sp.update(report.manifest_diff(sp["root"], sp["version"]))
                if sp["keys"] < 0:
                    path = wl.merge_paths.get((sp["root"], sp["version"]))
                    if path is not None and path not in keys_cache:
                        keys_cache[path] = wl.distinct_keys(path)
                    sp["keys"] = keys_cache.get(path, 0)
    finally:
        tracer.unwrap_all()
        stop_session(spark)

    if not samples:  # not one step completed in the timed phase
        counts["failed"] += 1
    counts["failed"] += len(errors)
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "samples": len(samples), "wall_s": wall, "host.calib_ms": calib_ms,
            "batch_ms": [round(x.batch_ms) for x in samples], "refresh_ms": [round(x.refresh_ms) for x in samples],
            "fail_ratio": counts["failed"] / max(counts["attempted"], 1), "checks_failed": len(errors),
            "checks_s": checks_s, **phases}
    kind = "per_layer" if trace else "end_to_end"
    names = [m["name"] for m in BENCH[kind]]
    if not trace:
        metrics = report.end_to_end(samples, wall, setup_s, rss_mb)
    else:
        extra.update(phases)
        extra["host.calib_ms"] = calib_ms
        extra["progress"] = getattr(wl, "progress", [])[n_progress:]
        plain_eps = sum(s.events for s in plain) / plain_wall
        traced_eps = sum(s.events for s in samples) / wall
        extra["trace.overhead_ratio"] = plain_eps / traced_eps if traced_eps else 0.0
        tree = SpanTree(tracer.spans)
        metrics = report.per_layer(names, tree, parse_event_log(os.path.join(work, "eventlog")), samples, extra)
    if set(metrics) != set(names):
        raise RuntimeError(f"metrics computed but not in BENCHMARK.json: {sorted(set(metrics) - set(names))}; "
                           f"in BENCHMARK.json but not computed: {sorted(set(names) - set(metrics))}")
    result = {
        "correct": not errors and counts["failed"] == 0,
        "attempted": max(counts["attempted"], 1),
        "failed": counts["failed"],
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]} for m in BENCH[kind]},
    }
    return result, info


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    missing = program_missing()
    if missing:
        print(f"perfbench: {missing} not found under {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    # the short-lived JVM that spark-submit starts to build the Spark JVM's
    # command line: no perf-data file and no temporary files in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    try:
        result, info = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench " + json.dumps(info))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
