"""SnapshotTable.replace_buckets: commit given rows as the complete new
content of named buckets (the Iceberg ReplacePartitions analog), with the
commit-time invariants a COW merge() keeps."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pyetl_spark.cdc.tableio import (
    BLOOM_SUFFIX,
    DELETED,
    SEQ,
    ConcurrentWriteError,
    ConstraintViolationError,
    SnapshotTable,
    _file_identity,
)


def _table(spark, tmp_path):
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), keys=["k"], nbuckets=2,
        props={"stats_cols": ["x"], "bloom_cols": ["k"], "max_file_rows": 2},
    )
    rows = [(k, float(k), "upsert", k) for k in range(1, 13)]
    t.merge(spark.createDataFrame(rows, ["k", "x", "op", "seq"]), batch_id="w:0")
    return t


def _bucket(t, b):
    """Bucket ``b``'s stored rows (envelope kept) and their keys."""
    raw = t.read_raw(buckets=[b])
    return raw, sorted(r["k"] for r in raw.collect())


def _state(t):
    return {r["k"]: r["x"] for r in t.read().collect()}


def test_replace_commits_bucket_content_with_merge_invariants(spark, tmp_path):
    t = _table(spark, tmp_path)
    # an unresolved merge-on-read append in bucket 0 makes it dirty
    raw0, keys0 = _bucket(t, 0)
    t.merge(spark.createDataFrame([(keys0[0], 100.0, "upsert", 50)], ["k", "x", "op", "seq"]),
            batch_id="w:1", mode="mor")
    assert t.dirty_buckets() == [0]
    before = _state(t)
    v, wm = t.current_version(), t.max_seq()
    # new content of bucket 0: first key updated, second deleted (tombstone),
    # the rest carried over with their own _seq; a new column widens the schema
    upd, gone = keys0[0], keys0[1]
    new = (
        t.resolved_raw(buckets=[0])
        .withColumn("x", F.when(F.col("k") == upd, F.lit(-1.0)).otherwise(F.col("x")))
        .withColumn(DELETED, F.col("k") == gone)
        .withColumn(SEQ, F.when(F.col("k").isin(upd, gone), F.lit(wm + 1).cast("long")).otherwise(F.col(SEQ)))
        .withColumn("y", F.lit("new"))
    )
    stats = t.replace_buckets(new, [0], v, batch_id="r:1")
    assert stats.version == t.current_version() == v + 1 and not stats.skipped
    m = t.manifest()
    assert m["summary"]["operation"] == "replace_buckets"
    assert m["max_seq"] == t.max_seq() == wm + 1
    assert m["dirty"] == []
    assert "y" in t.read().columns
    want = {**before, upd: -1.0}
    del want[gone]
    assert _state(t) == want
    # bucket 1 untouched; bucket 0's new files honour the layout props
    assert m["buckets"]["1"] == t.manifest(v)["buckets"]["1"]
    files = m["buckets"]["0"]
    assert stats.files_written == len(files) == -(-len(keys0) // 2)
    assert stats.rows_written == len(keys0)
    for f in files:
        assert os.path.exists(f + BLOOM_SUFFIX)
        assert m["file_stats"][_file_identity(f)]["x"] is not None
    assert t.verify()["ok"]
    # the change feed sees exactly the update and the delete
    feed = sorted((r["k"], r["_change_type"]) for r in t.changes(v, v + 1).collect())
    assert feed == sorted([(upd, "update_preimage"), (upd, "update_postimage"), (gone, "delete")])

    # exactly-once: a committed batch id is a no-op
    again = t.replace_buckets(new, [0], v + 1, batch_id="r:1")
    assert again.skipped and t.current_version() == v + 1


def test_replace_refuses_stale_reads_strays_and_violations(spark, tmp_path):
    t = _table(spark, tmp_path)
    v, wm = t.current_version(), t.max_seq()
    raw0, _ = _bucket(t, 0)
    raw1, _ = _bucket(t, 1)
    with pytest.raises(ConcurrentWriteError):
        t.replace_buckets(raw0, [0], v - 1)
    with pytest.raises(ValueError, match="hash outside"):
        t.replace_buckets(raw0.unionByName(raw1), [0], v)
    assert t.current_version() == v

    t.add_constraint("x_pos", "x > 0")
    v = t.current_version()
    bad = raw0.withColumn("x", F.lit(-5.0)).withColumn(SEQ, F.lit(wm + 1).cast("long"))
    with pytest.raises(ConstraintViolationError, match="x_pos"):
        t.replace_buckets(bad, [0], v, batch_id="r:bad")
    assert t.current_version() == v and not t.is_committed("r:bad")
    # tombstones carry no payload to validate
    t.replace_buckets(bad.withColumn(DELETED, F.lit(True)), [0], v, batch_id="r:ok")
    assert t.current_version() == v + 1
    assert set(_state(t)) == set(r["k"] for r in raw1.collect())


def test_replace_with_no_buckets_commits_the_batch_id_only(spark, tmp_path):
    t = _table(spark, tmp_path)
    v = t.current_version()
    stats = t.replace_buckets(t.read_raw().limit(0), [], v, batch_id="r:0")
    m = t.manifest()
    assert stats.version == v + 1 and t.is_committed("r:0")
    assert m["buckets"] == t.manifest(v)["buckets"]
    assert _state(t) == {k: float(k) for k in range(1, 13)}
