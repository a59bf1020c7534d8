"""The reduction of a run into the metrics that BENCHMARK.json names."""

from __future__ import annotations

import json
import os
import statistics

from perfbench.tracing import SpanTree, median


def end_to_end(samples, wall_s: float, setup_s: float, rss_mb: float) -> dict:
    # latencies are means over the run's steps, not medians: per-step refresh
    # on stream_tail spreads almost evenly over ~0.8-1.5 s, so the median of
    # the 8-11 steps a run holds jumps between runs (perfbench/NOTES.md)
    return {
        "setup_s": setup_s,
        "events_per_s": sum(s.events for s in samples) / wall_s if wall_s > 0 else 0.0,
        "batch_ms_mean": statistics.fmean(s.batch_ms for s in samples) if samples else 0.0,
        "refresh_ms_mean": statistics.fmean(s.refresh_ms for s in samples) if samples else 0.0,
        "peak_rss_mb": rss_mb,
    }


def _manifest(root: str, version: int) -> dict:
    with open(os.path.join(root, "_versions", f"v{version:08d}.json")) as f:
        return json.load(f)


def manifest_diff(root: str, version: int) -> dict:
    """What a commit wrote and read, from the manifest diff against its
    parent: the files it added, and the bytes of the parent's files in the
    buckets it rewrote. Spark's input-bytes counter is not used: for local
    parquet scans it sees only a few KB of footer reads per file."""
    m = _manifest(root, version)
    parent = _manifest(root, m["parent"])["buckets"]
    before = {f for fs in parent.values() for f in fs}
    changed = {b for b in set(parent) | set(m["buckets"]) if parent.get(b) != m["buckets"].get(b)}
    return {"files_written": sum(1 for fs in m["buckets"].values() for f in fs if f not in before),
            "bytes_read": sum(os.path.getsize(f) for b in changed for f in parent.get(b, []))}


def per_layer(names: list[str], tree: SpanTree, per_group: dict, traced_samples, extra: dict) -> dict:
    """Per-call medians of every layer metric in ``names``; a layer the
    workload never calls reports 0."""
    out = dict.fromkeys(names, 0.0)
    base_merges = [s for s in tree.named("merge", not_under="ivm.apply") if "version" in s]
    if base_merges:
        out["merge.ms"] = median(tree.ms(s) for s in base_merges)
        out["merge.self_ms"] = median(tree.self_ms(s) for s in base_merges)
        out["merge.jobs"] = median(tree.jobs(s) for s in base_merges)
        out["merge.manifest_reads"] = median(tree.count(s, "manifest") for s in base_merges)
        for key in ("tasks", "executor_run_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes",
                    "bytes_written", "rows_written"):
            out[f"merge.{key}"] = median(tree.task_sum(s, per_group, key) for s in base_merges)
        for key in ("buckets_touched", "files_written", "bytes_read"):
            out[f"merge.{key}"] = median(s[key] for s in base_merges)
        out["merge.useful_row_ratio"] = median(
            s["keys"] / tree.task_sum(s, per_group, "rows_written") for s in base_merges
            if tree.task_sum(s, per_group, "rows_written"))

    for name, key in (("metrics.batch", "metrics.batch_ms"), ("metrics.lineage", "metrics.lineage_ms")):
        spans = tree.named(name)
        if spans:
            out[key] = median(tree.ms(s) for s in spans)
            out["metrics.jobs"] += median(tree.jobs(s) for s in spans)

    progress = extra.get("progress") or []
    if progress:
        out["stream.bookkeeping_ms"] = median(
            p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0) for p in progress)
        out["stream.rows_per_batch"] = median(p["events_in"] for p in progress)

    rules = tree.named("rules")
    if rules:
        out["rules.plan_ms"] = median(tree.ms(s) for s in rules)
    out["rules.exec_ms"] = extra.get("rules_exec_ms", 0.0)
    out["dedup.exec_ms"] = extra.get("dedup_exec_ms", 0.0)
    out["dedup.shuffle_write_bytes"] = median(
        tree.task_sum(s, per_group, "shuffle_write_bytes") for s in tree.named("probe.dedup"))

    changes = tree.named("changes", under="consume")
    if changes:
        out["changes.plan_ms"] = median(tree.ms(s) for s in changes)
        out["changes.exec_ms"] = median(extra["changes"]["exec_ms"])
        out["changes.rows_out"] = median(extra["changes"]["rows_out"])
    applies = tree.named("ivm.apply")
    if applies:
        out["ivm.apply_ms"] = median(tree.ms(s) for s in applies)
        out["ivm.self_ms"] = median(tree.self_ms(s) for s in applies)
        out["ivm.jobs"] = median(tree.jobs(s) for s in applies)
        out["ivm.max_seq_ms"] = median(tree.ms(s) for s in tree.named("max_seq", under="ivm.apply"))
        out["ivm.view_merge_ms"] = median(tree.ms(s) for s in tree.named("merge", under="ivm.apply"))
        out["ivm.shuffle_write_bytes"] = median(
            tree.task_sum(s, per_group, "shuffle_write_bytes") for s in applies)
    consumes = tree.named("consume")
    if consumes:
        out["consume.ms"] = median(tree.ms(s) for s in consumes)
        out["consume.self_ms"] = median(tree.self_ms(s) for s in consumes)
        out["consume.jobs"] = median(tree.jobs(s) for s in consumes)

    out["step.unattributed_ms"] = median(_unattributed(tree, traced_samples, progress))
    for k in ("setup.jvm_s", "setup.inputs_s", "setup.seed_s", "setup.warmup_s",
              "host.calib_ms", "trace.overhead_ratio"):
        out[k] = extra[k]
    return out


def _unattributed(tree: SpanTree, samples, progress) -> list[float]:
    """Step latency not covered by a layer span: for a micro-batch,
    ``addBatch`` (triggerExecution minus streaming bookkeeping) minus the
    spans inside ``foreachBatch``; otherwise the step minus its top-level
    spans."""
    if progress:
        batches = tree.named("stream.batch")
        return [p["durationMs"].get("addBatch", 0) - sum(tree.ms(c) for c in tree.children.get(b["id"], []))
                for p, b in zip(progress, batches)]
    tops = [s for s in tree.spans if s["parent"] is None and not s["name"].startswith("probe.")]
    out = []
    for smp in samples:
        inside = [s for s in tops if s["t0"] >= smp.t0 and s["t1"] <= smp.t1]
        out.append((smp.t1 - smp.t0) * 1000.0 - sum(tree.ms(s) for s in inside))
    return out
