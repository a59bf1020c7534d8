"""Batch telemetry rides the commit: merge() records its batch metrics,
per-bucket lineage, true rows written and the max-_seq watermark in the
manifest it commits, and the metrics/lineage views read them back."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pyetl_spark.cdc import SnapshotTable, change_events, write_event_batches
from pyetl_spark.cdc.metrics import read_lineage, read_metrics
from pyetl_spark.cdc.stream import StreamingIngest
from pyetl_spark.cdc.tableio import SEQ

GEN = dict(n_repos=30, paths_per_repo=20, seed=42)
KEYS = ["repo", "path"]


def _written_files(t: SnapshotTable, version: int) -> list[str]:
    parent = t.manifest(t.manifest(version)["parent"])
    before = {f for fs in parent["buckets"].values() for f in fs}
    return [f for fs in t.manifest(version)["buckets"].values() for f in fs if f not in before]


@pytest.mark.parametrize("prune", [True, False])
def test_rows_written_counts_rows_not_files(spark, tmp_path, prune):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), keys=KEYS, nbuckets=4,
                             props={"max_file_rows": 50})
    t.merge(change_events(spark, 600, **GEN), batch_id="b:0", prune=prune)
    s = t.merge(change_events(spark, 660, start=600, **GEN), batch_id="b:1", prune=prune)
    files = _written_files(t, s.version)
    assert s.files_written == len(files) > 1
    assert s.rows_written == spark.read.parquet(*files).count() > s.files_written
    snap = t.snapshots_df().filter(F.col("version") == s.version).first()
    assert (snap["rows_written"], snap["files_written"]) == (s.rows_written, s.files_written)


def _scan_max_seq(t: SnapshotTable) -> int:
    raw = t.read_raw()
    return -1 if raw is None else raw.agg(F.max(SEQ)).first()[0]


def test_watermark_matches_scan_through_every_commit_path(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), keys=KEYS, nbuckets=4)
    assert t.manifest()["max_seq"] == -1 == t.max_seq()

    def check(table=t):
        assert table.manifest()["max_seq"] == _scan_max_seq(table) == table.max_seq()

    t.merge(change_events(spark, 400, **GEN), batch_id="b:0")
    check()
    t.merge(change_events(spark, 450, start=400, **GEN), batch_id="b:1", prune=False)
    check()
    # a stale batch below the watermark cannot lower it
    t.merge(change_events(spark, 20, **GEN), batch_id="b:2")
    check()
    t.delete_where([("repo", "=", "repo-00000")])
    check()
    t.update_where({"lang": "'x'"}, [("repo", "=", "repo-00001")])
    check()
    t.merge_into(t.read().limit(5).withColumn("lang", F.lit("y")),
                 when_matched_update={"lang": "s.lang"})
    check()
    v_mid = t.current_version()
    t.merge(change_events(spark, 470, start=450, **GEN), mode="mor")
    t.compact()
    check()
    t.rescale(8)
    check()
    t.merge(change_events(spark, 480, start=470, **GEN))
    check()
    t.rollback(v_mid)
    check()
    clone = t.clone(str(tmp_path / "c"))
    check(clone)


def test_watermark_falls_back_to_a_scan_for_older_manifests(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), keys=KEYS, nbuckets=4)
    t.merge(change_events(spark, 300, **GEN), batch_id="b:0")
    m = t.manifest()
    del m["max_seq"]
    m["version"] += 1
    t._write_manifest(m)
    t._swap_pointer(m["version"])
    assert t.max_seq() == 299
    t.merge(change_events(spark, 310, start=300, **GEN), batch_id="b:1")
    assert t.manifest()["max_seq"] == 309


def test_lineage_buckets_follow_bucket_cols(spark, tmp_path):
    """bucket_cols a strict subset of keys: every lineage bucket (and its
    event count) is the bucket files_df() stores those keys in."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), keys=KEYS, nbuckets=8,
                             bucket_cols=["repo"])
    batch = change_events(spark, 500, **GEN)
    s = t.merge(batch, batch_id="stream:0", with_stats=True)
    stored = None
    for r in t.files_df(s.version).collect():
        part = spark.read.parquet(r["file_path"]).select(*KEYS).withColumn("bucket", F.lit(r["bucket"]))
        stored = part if stored is None else stored.unionByName(part)
    want = {r["bucket"]: r["count"] for r in batch.join(stored, KEYS).groupBy("bucket").count().collect()}
    lin = read_lineage(spark, t.root).filter(F.col("batch_id") == "stream:0").collect()
    assert {r["bucket"]: r["events_in"] for r in lin} == want
    assert sum(want.values()) == 500 and len(want) == s.buckets_touched


@pytest.fixture()
def one_batch(spark, tmp_path):
    d = str(tmp_path / "ev")
    write_event_batches(spark, d, 400, n_batches=1, **GEN)
    return d


def test_redelivered_batch_keeps_one_telemetry_record(spark, tmp_path, one_batch):
    """the batch commits through a plain merge(), then the stream redelivers
    the same epoch: the ledger skips it, and the telemetry the commit
    recorded is neither lost nor doubled."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), keys=KEYS, nbuckets=8)
    s = t.merge(spark.read.parquet(one_batch + "/batch_00000"), batch_id="stream:0", with_stats=True)
    StreamingIngest(spark, one_batch, t, str(tmp_path / "ckpt"), max_files_per_trigger=100).run_until_drained()
    assert t.current_version() == s.version

    m = read_metrics(spark, t.root).filter(F.col("batch_id") == "stream:0").collect()
    assert len(m) == 1 and m[0]["events_in"] == 400 and m[0]["version"] == s.version
    assert m[0]["keys_upserted"] == s.keys_after_dedup and m[0]["files_written"] == s.files_written
    lin = read_lineage(spark, t.root).filter(F.col("batch_id") == "stream:0").toPandas()
    assert lin["bucket"].is_unique and len(lin) == s.buckets_touched
    assert lin["events_in"].sum() == 400


def test_expiry_keeps_metrics_and_lineage(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), keys=KEYS, nbuckets=8)
    for i in range(4):
        t.merge(change_events(spark, 100 * (i + 1), start=100 * i, **GEN), batch_id=f"stream:{i}")
    before = read_metrics(spark, t.root).toPandas(), read_lineage(spark, t.root).toPandas()
    t.expire_snapshots(keep_last=1)
    assert len(t._retained_versions()) == 1
    after = read_metrics(spark, t.root).toPandas(), read_lineage(spark, t.root).toPandas()
    assert [len(x) for x in after] == [len(x) for x in before] and len(before[0]) == 4
    assert sorted(after[0]["version"]) == sorted(before[0]["version"])
    # a second expiry with nothing to unlink adds no duplicate
    t.merge(change_events(spark, 500, start=400, **GEN), batch_id="stream:4")
    t.expire_snapshots(keep_last=1)
    t.expire_snapshots(keep_last=1)
    assert read_metrics(spark, t.root).count() == 5


# Spark jobs of one pruned micro-batch, measured on local[4] with 8 buckets:
# rules-free transform -> merge (bucket-count pre-pass with the batch facts,
# base read + LWW + write sharing one exchange by bucket, commit); telemetry
# adds none.
MICRO_BATCH_JOBS = 5


def test_micro_batch_job_budget(spark, tmp_path):
    d = str(tmp_path / "ev")
    write_event_batches(spark, d, 1200, n_batches=2, **GEN)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), keys=KEYS, nbuckets=8)
    t.merge(spark.read.parquet(d + "/batch_00000"), batch_id="seed", prune=False)
    shutil.rmtree(d + "/batch_00000")
    sc = spark.sparkContext

    def tag(df, epoch_id):
        # the micro-batch body runs in this thread: its jobs join the group
        sc.setJobGroup(f"telemetry-budget-{epoch_id}", "micro-batch")
        return df

    ingest = StreamingIngest(spark, d, t, str(tmp_path / "ckpt"), transform=tag, max_files_per_trigger=2)
    ingest.run_until_drained()
    assert ingest.batches_seen
    jobs = [len(sc.statusTracker().getJobIdsForGroup(f"telemetry-budget-{e}"))
            for e in range(len(ingest.batches_seen))]
    assert 0 < max(jobs) <= MICRO_BATCH_JOBS, jobs
    assert not os.path.exists(os.path.join(t.root, "_metrics"))
    assert not os.path.exists(os.path.join(t.root, "_lineage"))
