"""Change-feed consumer job (jobs/cdf_view.py) — catch-up semantics."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jobs.cdf_view import consume  # noqa: E402
from pyetl_spark.cdc.tableio import SnapshotTable  # noqa: E402


def _delta(spark, rows):
    return spark.createDataFrame(rows, ["k", "grp", "x", "op", "seq"])


def _recompute(base):
    return {
        r["grp"]: (r["n"], float(r["s"]))
        for r in base.read()
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("x").cast("decimal(28,6)")).alias("s"),
        )
        .collect()
    }


def _view_state(spark, view_dir):
    from pyetl_spark.cdc.ivm import IncrementalAgg

    v = IncrementalAgg(spark, view_dir, ["grp"], ["x"])
    return {r["grp"]: (r["count"], float(r["sum_x"])) for r in v.state().collect()}


def test_consume_catches_up_incrementally_and_is_idempotent(spark, tmp_path):
    base_dir, view_dir = str(tmp_path / "base"), str(tmp_path / "view")
    base = SnapshotTable.create(spark, base_dir, keys=["k"], nbuckets=4)
    base.merge(_delta(spark, [(1, "a", 1.0, "upsert", 1), (2, "b", 2.0, "upsert", 2)]), "b0")
    base.merge(_delta(spark, [(3, "b", 3.0, "upsert", 3)]), "b1")

    s1 = consume(spark, base_dir, view_dir, ["grp"], ["x"])
    assert len(s1["applied_now"]) == 2
    assert _view_state(spark, view_dir) == _recompute(base)

    # nothing new: a rerun applies zero commits and changes nothing
    s2 = consume(spark, base_dir, view_dir, ["grp"], ["x"])
    assert s2["applied_now"] == []
    assert s2["view_version"] == s1["view_version"]

    # new commits since: only those are consumed
    base.merge(_delta(spark, [(2, "b", 0.0, "delete", 4), (4, "c", 9.0, "upsert", 5)]), "b2")
    s3 = consume(spark, base_dir, view_dir, ["grp"], ["x"])
    assert len(s3["applied_now"]) == 1
    assert _view_state(spark, view_dir) == _recompute(base)


def test_consume_minmax_catchup_recomputes_at_slice_versions(spark, tmp_path):
    """Catch-up over MANY historical commits with min/max: commit 2
    retracts group a's minimum while commit 3 re-lowers it — each slice's
    dirty-group recompute must see the base AT THAT VERSION, so a
    current-state read would fold the wrong boundary."""
    base_dir, view_dir = str(tmp_path / "base"), str(tmp_path / "view")
    base = SnapshotTable.create(spark, base_dir, keys=["k"], nbuckets=4)
    base.merge(_delta(spark, [(1, "a", 1.0, "upsert", 1), (2, "a", 5.0, "upsert", 2)]), "b0")
    base.merge(_delta(spark, [(1, "a", 0.0, "delete", 3)]), "b1")  # retract min 1.0
    base.merge(_delta(spark, [(3, "a", 0.5, "upsert", 4)]), "b2")  # new lower min
    base.merge(_delta(spark, [(2, "a", 0.0, "delete", 5)]), "b3")  # retract old max 5.0

    s = consume(spark, base_dir, view_dir, ["grp"], ["x"], ["x"], ["x"])
    assert len(s["applied_now"]) == 4
    from pyetl_spark.cdc.ivm import IncrementalAgg

    v = IncrementalAgg(spark, view_dir, ["grp"], ["x"], min_cols=["x"], max_cols=["x"])
    got = {
        r["grp"]: (r["count"], r["min_x"], r["max_x"]) for r in v.state().collect()
    }
    assert got == {"a": (1, 0.5, 0.5)}
    # idempotent rerun
    s2 = consume(spark, base_dir, view_dir, ["grp"], ["x"], ["x"], ["x"])
    assert s2["applied_now"] == []


def test_consume_distinct_col(spark, tmp_path):
    """--distinct-col: the chained count(DISTINCT) view catches up with
    the same cursor semantics and survives reruns."""
    base_dir, view_dir = str(tmp_path / "base"), str(tmp_path / "view")
    base = SnapshotTable.create(spark, base_dir, keys=["k"], nbuckets=4)
    base.merge(_delta(spark, [(1, "a", 1.0, "upsert", 1), (2, "a", 1.0, "upsert", 2),
                              (3, "a", 2.0, "upsert", 3)]), "b0")
    base.merge(_delta(spark, [(1, "a", 0.0, "delete", 4)]), "b1")  # dup carrier
    s1 = consume(spark, base_dir, view_dir, ["grp"], [], distinct_col="x")
    assert len(s1["applied_now"]) == 2

    from pyetl_spark.cdc.ivm import IncrementalDistinct

    v = IncrementalDistinct(spark, view_dir, ["grp"], "x")
    assert {r["grp"]: r["n_distinct"] for r in v.state().collect()} == {"a": 2}
    # rerun: no-op
    s2 = consume(spark, base_dir, view_dir, ["grp"], [], distinct_col="x")
    assert s2["applied_now"] == []
    # drop x=2.0's only carrier: distinct 2→1
    base.merge(_delta(spark, [(3, "a", 0.0, "delete", 5)]), "b2")
    consume(spark, base_dir, view_dir, ["grp"], [], distinct_col="x")
    assert {r["grp"]: r["n_distinct"] for r in v.state().collect()} == {"a": 1}


def test_consume_sumsq_catchup_derives_avg_var(spark, tmp_path):
    """--sumsq-cols path: the consumed view carries exact sums of squares
    and stats() matches a from-scratch avg/var after catch-up, including
    across a delete (sumsq needs no base= recompute, unlike min/max)."""
    from pyetl_spark.cdc.ivm import IncrementalAgg

    base_dir, view_dir = str(tmp_path / "base"), str(tmp_path / "view")
    base = SnapshotTable.create(spark, base_dir, keys=["k"], nbuckets=4)
    base.merge(_delta(spark, [(1, "a", 1.0, "upsert", 1), (2, "a", 3.0, "upsert", 2)]), "b0")
    base.merge(_delta(spark, [(2, "a", 0.0, "delete", 3), (3, "b", 5.0, "upsert", 4)]), "b1")

    s = consume(spark, base_dir, view_dir, ["grp"], ["x"], sumsq_cols=["x"])
    assert len(s["applied_now"]) == 2

    v = IncrementalAgg(spark, view_dir, ["grp"], ["x"], sumsq_cols=["x"])
    got = {
        r["grp"]: (r["count"], r["avg_x"], r["var_x"]) for r in v.stats().collect()
    }
    assert got == {"a": (1, 1.0, 0.0), "b": (1, 5.0, 0.0)}


# Spark jobs of one consume() that catches a COUNT/SUM view up by one base
# commit, measured on local[4] with 8 base and 16 view buckets: the change
# feed + delta aggregate pinned in one job (which also observes the touched
# view buckets), then one write of the folded buckets — no view merge and
# no full view scan for a group count.
CONSUME_JOBS = 6


def test_consume_one_commit_job_budget(spark, tmp_path):
    from pyetl_spark.cdc import write_event_batches

    gen = dict(n_repos=30, paths_per_repo=20, seed=42)
    d = str(tmp_path / "ev")
    batches = write_event_batches(spark, d, 1200, n_batches=2, **gen)
    read = [spark.read.parquet(b).withColumn("bytes", F.length("content").cast("long"))
            for b in batches]
    base_dir, view_dir = str(tmp_path / "base"), str(tmp_path / "view")
    base = SnapshotTable.create(spark, base_dir, keys=["repo", "path"], nbuckets=8)
    base.merge(read[0], batch_id="seed", prune=False)
    consume(spark, base_dir, view_dir, ["repo"], ["bytes"])
    base.merge(read[1], batch_id="b:1")
    sc = spark.sparkContext
    sc.setJobGroup("consume-budget", "one consume()")
    try:
        s = consume(spark, base_dir, view_dir, ["repo"], ["bytes"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert s["applied_now"] == [base.current_version()]
    jobs = len(sc.statusTracker().getJobIdsForGroup("consume-budget"))
    assert 0 < jobs <= CONSUME_JOBS, jobs
    from pyetl_spark.cdc.ivm import IncrementalAgg

    view = IncrementalAgg(spark, view_dir, ["repo"], ["bytes"])
    want = base.read().groupBy("repo").agg(F.count("*").alias("n"), F.sum("bytes").alias("s"))
    assert {(r["repo"], r["n"], r["s"]) for r in want.collect()} == {
        (r["repo"], r["count"], int(r["sum_bytes"])) for r in view.state().collect()
    }
