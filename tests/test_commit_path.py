"""The one commit path (SnapshotTable._commit) and the Spark-free commit-log
module (cdc/manifest.py): every operation refuses a plan made against a
stale snapshot without leaving a trace, the commit records it writes are
pinned on a fixed op sequence, and the manifest module stays importable
without pyspark."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyetl_spark.cdc.tableio import ConcurrentWriteError, SnapshotTable  # noqa: E402


def _delta(spark, rows, cols=("k", "x", "y", "op", "seq")):
    return spark.createDataFrame(rows, list(cols))


def _mk(spark, tmp_path) -> SnapshotTable:
    t = SnapshotTable.create(spark, str(tmp_path / "t"), keys=["k"], nbuckets=2)
    t.merge(_delta(spark, [(k, k, k, "upsert", k) for k in range(8)]), "b1")
    t.add_constraint("x_ok", "x >= 0")
    return t


STALE_OPS = {
    "alter_props": lambda t: t.alter_props({"ledger_keep": 64}),
    "add_constraint": lambda t: t.add_constraint("y_ok", "y >= 0"),
    "drop_constraint": lambda t: t.drop_constraint("x_ok"),
    "add_column": lambda t: t.add_column("z", "double"),
    "rename_column": lambda t: t.rename_column("y", "w"),
    "drop_column": lambda t: t.drop_column("y"),
    "rescale": lambda t: t.rescale(4),
    "compact": lambda t: t.compact(min_files=1),
}


@pytest.mark.parametrize("op", sorted(STALE_OPS))
def test_every_commit_path_refuses_a_stale_plan(spark, tmp_path, monkeypatch, op):
    t = _mk(spark, tmp_path)
    stale = t.manifest()
    # another handle commits after this handle planned against `stale`
    head = SnapshotTable(spark, t.root).alter_props({"max_file_rows": 1000})
    before = t._retained_versions()
    real = SnapshotTable.manifest
    monkeypatch.setattr(
        t, "manifest", lambda version=None: stale if version is None else real(t, version)
    )
    with pytest.raises(ConcurrentWriteError, match=f"advanced to v{head}"):
        STALE_OPS[op](t)
    assert t._retained_versions() == before  # no manifest written
    assert t.current_version() == head
    monkeypatch.undo()
    assert t.verify()["ok"]


def test_expire_name_prune_lost_race_frees_nothing(spark, tmp_path, monkeypatch):
    """expire_snapshots' name-registry prune commits through the same path:
    when a writer commits between expiry's pointer read and the prune
    commit, the prune is dropped and reported as freeing no name."""
    t = _mk(spark, tmp_path)
    t.rename_column("y", "w")
    t.compact(min_files=1)  # no live file carries "y" any more
    real = SnapshotTable.current_version
    raced = []

    def pointer_then_race():
        v = real(t)
        if not raced:
            raced.append(SnapshotTable(spark, t.root).alter_props({"ledger_keep": 64}))
        return v

    monkeypatch.setattr(t, "current_version", pointer_then_race)
    res = t.expire_snapshots(keep_last=1)
    monkeypatch.undo()
    assert res["freed_names"] == 0
    assert t.current_version() == raced[0] == t._retained_versions()[-1]
    assert t.manifest()["aliases"] == {"y": "w"}  # freed by the next expiry
    assert t.expire_snapshots(keep_last=1)["freed_names"] == 1
    assert not t.manifest()["aliases"]


# what every op of the fixed sequence below commits — the records written
# before the commit path was shared, minus timestamps and wall_ms
SUMMARIES = [
    (0, None, {"operation": "create"}),
    (1, 0, {"operation": "merge", "mode": "cow", "batch_id": "b1", "events_in": 8,
            "keys_upserted": None, "dupes_dropped": None, "buckets_touched": 2,
            "files_written": 2, "rows_written": 8,
            "lineage": {"0": [3, 3, 0], "1": [5, 5, 0]}}),
    (2, 1, {"operation": "alter", "set": ["ledger_keep"], "unset": []}),
    (3, 2, {"operation": "add-constraint", "name": "x_ok"}),
    (4, 3, {"operation": "add-column", "name": "z", "type": "double"}),
    (5, 4, {"operation": "rename-column", "from": "y", "to": "w"}),
    (6, 5, {"operation": "drop-constraint", "name": "x_ok"}),
    (7, 6, {"operation": "drop-column", "name": "z"}),
    (8, 7, {"operation": "merge", "mode": "mor", "batch_id": "b2", "events_in": 3,
            "keys_upserted": None, "dupes_dropped": None, "buckets_touched": 2,
            "files_written": 2, "rows_written": 3,
            "lineage": {"0": [2, 2, 0], "1": [1, 0, 1]}}),
    (9, 8, {"operation": "compact", "compacted_buckets": 2, "files_before": 4,
            "files_after": 2}),
    (10, 9, {"operation": "rescale", "nbuckets": 4, "legacy_specs": 1}),
    (11, 10, {"operation": "compact", "compacted_buckets": 0, "files_before": 2,
              "files_after": 4}),
    (12, 11, {"operation": "prune-names", "freed": 2}),
]
FINAL_KEYS = [
    "version", "keys", "bucket_cols", "nbuckets", "props", "schema", "buckets",
    "committed_batches", "batch_hwm", "max_seq", "parent", "created_ts", "summary",
    "dirty", "legacy", "file_stats", "committed_ts", "constraints", "aliases",
    "alias_files", "dropped",
]


def test_commit_records_pinned_on_fixed_sequence(spark, tmp_path):
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), keys=["k"], nbuckets=2,
        props={"stats_cols": ["x"], "track_counts": True},
    )
    t.merge(_delta(spark, [(k, k * 10, k + 100, "upsert", k) for k in range(8)]), "b1")
    t.alter_props({"ledger_keep": 64})
    t.add_constraint("x_ok", "x >= 0")
    t.add_column("z", "double")
    t.rename_column("y", "w")
    t.drop_constraint("x_ok")
    t.drop_column("z")
    t.merge(
        _delta(spark, [(1, 11, 5, "upsert", 20), (2, 0, 0, "delete", 21),
                       (9, 90, 9, "upsert", 22)], ("k", "x", "w", "op", "seq")),
        "b2", mode="mor",
    )
    t.rescale(4)
    t.compact(min_files=1)
    history = [
        (r["version"], r["parent"], r["operation"], r["batch_id"],
         r["is_current_ancestor"], r["is_current"])
        for r in t.history_df().orderBy("version").collect()
    ]
    assert history == [
        (v, p, s["operation"], s.get("batch_id"), True, v == 11)
        for v, p, s in SUMMARIES[:-1]
    ]
    assert t.expire_snapshots(keep_last=1)["freed_names"] == 2
    got = [
        (r["version"], r["parent"], {k: v for k, v in r["summary"].items() if k != "wall_ms"})
        for r in t.commit_summaries()
    ]
    assert got == SUMMARIES
    assert list(t.manifest()) == FINAL_KEYS
    assert t.verify(all_versions=True)["ok"]


def test_manifest_module_needs_no_spark(spark, tmp_path, monkeypatch):
    """cdc/manifest.py is the commit-log reader of code that runs without a
    SparkSession (the table_changes source), so it must import without
    pyspark at all — loaded here by file path with pyspark blocked."""
    t = _mk(spark, tmp_path)
    t.rollback(1)
    t.alter_props({"ledger_keep": 64})  # v3, parent v1: lineage skips v2
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "pyetl_spark", "cdc", "manifest.py",
    )
    monkeypatch.setitem(sys.modules, "pyspark", None)
    spec = importlib.util.spec_from_file_location("manifest_without_spark", path)
    mf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mf)
    assert mf.current_version(t.root) == 3
    assert mf.lineage(t.root, 0, 3) == [0, 1, 3]
    assert mf.load(t.root, 3) == t.manifest(3)
    assert mf.retained_versions(t.root) == [0, 1, 2, 3]
    assert sorted(mf.referenced_files(t.manifest())) == sorted(
        f for fs in t.manifest()["buckets"].values() for f in fs
    )
    with pytest.raises(ValueError, match="ancestor"):
        mf.lineage(t.root, 2, 3)
