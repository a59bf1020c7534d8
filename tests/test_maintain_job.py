"""e2e for the deployable maintenance job (jobs/table_maintain.py):
compact-then-expire leaves LWW state identical, shrinks the file count,
and reclaims superseded data files."""

from __future__ import annotations

import importlib.util
import os

import pytest
from pyspark.sql import functions as F

from pyetl_spark.cdc.tableio import SnapshotTable


def _load_job():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "table_maintain_job", os.path.join(repo, "jobs", "table_maintain.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def job():
    return _load_job()


def _mk_table(spark, root: str) -> SnapshotTable:
    t = SnapshotTable.create(
        spark, root, keys=["id"], nbuckets=2,
        props={"stats_cols": ["v"], "max_file_rows": 8},
    )
    for b in range(3):  # 3 merges → fragmented buckets + 3 stale versions
        df = (
            spark.range(b * 20, b * 20 + 40)
            .select(
                F.col("id"),
                (F.col("id") % 97).alias("v"),
                F.lit("upsert").alias("op"),
                (F.col("id") + b * 1000).alias("seq"),
            )
        )
        t.merge(df, batch_id=f"m{b}")
    return t


def _data_file_count(root: str) -> int:
    n = 0
    for dirpath, _, files in os.walk(os.path.join(root, "data")):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def test_maintain_compacts_and_expires(spark, job, tmp_path, capsys):
    root = str(tmp_path / "t")
    t = _mk_table(spark, root)
    before_state = sorted(tuple(r) for r in t.read().collect())
    before_files = _data_file_count(root)

    rc = job.main([root, "--min-files", "2", "--keep-last", "1"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "compact_skipped=false" in out and "removed_files=" in out

    t2 = SnapshotTable(spark, root)
    assert sorted(tuple(r) for r in t2.read().collect()) == before_state
    assert _data_file_count(root) < before_files
    # manifest count bounded by keep-last + the compaction commit
    vdir = os.path.join(root, "_versions")
    assert len([f for f in os.listdir(vdir) if f.endswith(".json")]) <= 3


def test_maintain_flags(spark, job, tmp_path, capsys):
    root = str(tmp_path / "t2")
    t = _mk_table(spark, root)
    v = t.current_version()
    rc = job.main([root, "--no-compact", "--no-expire"])
    assert rc == 0
    assert f"version={v}" in capsys.readouterr().out  # pure no-op
    assert SnapshotTable(spark, root).current_version() == v


def test_maintain_rescale_rebuckets_in_one_cycle(spark, job, tmp_path, capsys):
    root = str(tmp_path / "t3")
    t = _mk_table(spark, root)
    before_state = sorted(tuple(r) for r in t.read().collect())

    rc = job.main([root, "--rescale", "8", "--min-files", "1", "--keep-last", "1"])
    assert rc == 0
    assert "compact_skipped=false" in capsys.readouterr().out

    t2 = SnapshotTable(spark, root)
    m = t2.manifest()
    assert m["nbuckets"] == 8 and m["legacy"] == []
    assert set(int(b) for b in m["buckets"]) <= set(range(8))
    assert sorted(tuple(r) for r in t2.read().collect()) == before_state


def test_maintain_alter_relayout_in_one_cycle(spark, job, tmp_path, capsys):
    """--alter evolves layout props, the same run's compact re-lays files
    out under them: a stats-less table gains clustering + skipping in one
    maintenance cycle; creator-owned keys are refused (job errors out)."""
    root = str(tmp_path / "t4")
    t = SnapshotTable.create(spark, root, keys=["id"], nbuckets=2)
    df = spark.range(0, 64).select(
        F.col("id"), (F.col("id") % 97).alias("v"),
        F.lit("upsert").alias("op"), F.col("id").alias("seq"),
    )
    t.merge(df, batch_id="m0")
    before_state = sorted(tuple(r) for r in t.read().collect())

    rc = job.main([
        root, "--alter", '{"stats_cols": ["v"], "max_file_rows": 8}',
        "--min-files", "1", "--keep-last", "1",
    ])
    assert rc == 0
    assert "compact_skipped=false" in capsys.readouterr().out

    t2 = SnapshotTable(spark, root)
    assert t2.props()["stats_cols"] == ["v"]
    assert t2.manifest()["file_stats"]  # compact recorded footer metrics
    t2.scan([("v", ">=", 90)]).collect()
    assert t2.last_scan["files_read"] < t2.last_scan["files_total"]
    assert sorted(tuple(r) for r in t2.read().collect()) == before_state

    with pytest.raises(ValueError, match="creator-owned"):
        job.main([root, "--alter", '{"bands": 9}', "--no-compact", "--no-expire"])


def test_maintain_clone_flag(spark, job, tmp_path, capsys):
    """--clone DEST shallow-clones before maintenance; the clone reads the
    source state and the source's own maintenance still runs."""
    root = str(tmp_path / "t")
    dest = str(tmp_path / "c")
    t = _mk_table(spark, root)
    before_state = sorted(tuple(r) for r in t.read().collect())

    # --no-expire: expiry on the source could reclaim files the fresh
    # clone references (the documented Delta vacuum-parity caveat)
    rc = job.main([root, "--clone", dest, "--no-expire", "--min-files", "1"])
    assert rc == 0
    out = capsys.readouterr().out
    assert f"cloned_to={dest}" in out and "cloned_version=0" in out

    c = SnapshotTable(spark, dest)
    assert sorted(tuple(r) for r in c.read().collect()) == before_state
    assert c.verify()["ok"]
    # source was compacted (maintenance applied to the source, not the clone)
    assert SnapshotTable(spark, root).manifest()["summary"]["operation"] == "compact"


def test_maintain_dml_sweep_erases_and_updates(spark, job, tmp_path, capsys):
    """--delete-where + --update-where + compact + expire in one cycle:
    matching rows are tombstoned/rewritten, then the pre-DML history is
    expired, so the erased values are gone from live files AND from the
    retained time-travel window; a rerun with the same --dml-batch-id is
    a no-op (ledger)."""
    import json

    root = str(tmp_path / "t_dml")
    t = _mk_table(spark, root)
    # final LWW state is id -> id % 97 for ids 0..99 (see _mk_table)
    rc = job.main([
        root,
        "--delete-where", json.dumps([["v", "<", 10]]),
        "--update-where", json.dumps({"set": {"v": "v + 1000"}, "where": [["v", ">=", 90]]}),
        "--dml-batch-id", "sweep:1",
        "--min-files", "1",
        "--keep-last", "1",
        "--orphan-grace", "0",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "deleted=" in out and "updated=" in out

    t2 = SnapshotTable(spark, root)
    state = {r["id"]: r["v"] for r in t2.read().collect()}
    assert all(v >= 10 for v in state.values())
    assert all(v >= 1090 for v in state.values() if v >= 90)
    # erased values survive nowhere in the retained versions (earlier
    # manifests are expired — that is exactly the point of the sweep)
    vdir = os.path.join(root, "_versions")
    retained = sorted(
        int(f.split(".")[0].lstrip("v"))
        for f in os.listdir(vdir)
        if f.endswith(".json") and f.split(".")[0].lstrip("v").isdigit()
    )
    assert retained, "no retained manifests"
    for ver in retained:
        vals = [r["v"] for r in t2.read(version=ver).collect()]
        assert all(v >= 10 for v in vals), f"version {ver} leaks erased rows"

    # same-id rerun: both ops no-op (suffixed ledger ids), state unchanged
    rc = job.main([
        root,
        "--delete-where", json.dumps([["v", "<", 10]]),
        "--update-where", json.dumps({"set": {"v": "v + 1000"}, "where": [["v", ">=", 90]]}),
        "--dml-batch-id", "sweep:1",
        "--no-compact", "--no-expire",
    ])
    assert rc == 0
    assert "deleted=0 updated=0" in capsys.readouterr().out
    assert {r["id"]: r["v"] for r in SnapshotTable(spark, root).read().collect()} == state


def test_maintain_schema_evolution_cycle(spark, job, tmp_path, capsys):
    # --rename + one cycle = complete migration: files rewritten under the
    # new physical name, pre-rename manifests expired, retired name freed
    root = str(tmp_path / "t")
    t = _mk_table(spark, root)
    before = {r["id"]: r["v"] for r in t.read().collect()}
    rc = job.main([root, "--rename", "v", "amount", "--min-files", "1",
                   "--keep-last", "1", "--verify"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "renamed=v:amount" in out and "freed_names=1" in out
    assert "fsck_ok=true" in out
    t2 = SnapshotTable(spark, root)
    assert not t2.manifest().get("aliases")
    assert {r["id"]: r["amount"] for r in t2.read().collect()} == before
    assert t2.manifest()["props"]["stats_cols"] == ["amount"]


def test_maintain_constraint_flags(spark, job, tmp_path, capsys):
    root = str(tmp_path / "t")
    _mk_table(spark, root)
    rc = job.main([root, "--add-constraint", "v_ok", "v >= 0", "--no-compact",
                   "--no-expire"])
    assert rc == 0
    assert "constraint_added=v_ok" in capsys.readouterr().out
    t = SnapshotTable(spark, root)
    assert t.constraints() == {"v_ok": "v >= 0"}
    rc = job.main([root, "--drop-constraint", "v_ok", "--no-compact",
                   "--no-expire"])
    assert rc == 0
    assert "constraint_dropped=v_ok" in capsys.readouterr().out
    assert SnapshotTable(spark, root).constraints() == {}


def test_maintain_drop_column_cycle(spark, job, tmp_path, capsys):
    root = str(tmp_path / "t")
    t = SnapshotTable.create(spark, root, keys=["id"], nbuckets=2)
    t.merge(
        spark.range(20).select(
            F.col("id"), (F.col("id") * 2).alias("v"), (F.col("id") * 3).alias("w"),
            F.lit("upsert").alias("op"), F.col("id").alias("seq"),
        ),
        batch_id="m0",
    )
    rc = job.main([root, "--drop-column", "w", "--min-files", "1",
                   "--keep-last", "1"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "dropped_column=w" in out and "freed_names=1" in out
    t2 = SnapshotTable(spark, root)
    assert t2.read().columns == ["id", "v"]


def test_maintain_add_column_flag(spark, job, tmp_path, capsys):
    root = str(tmp_path / "t")
    _mk_table(spark, root)
    rc = job.main([root, "--add-column", "score", "double", "--no-compact",
                   "--no-expire"])
    assert rc == 0
    assert "added_column=score" in capsys.readouterr().out
    t = SnapshotTable(spark, root)
    assert "score" in t.read().columns
    assert dict(t.read().dtypes)["score"] == "double"


def test_maintain_refused_op_still_compacts_and_expires(spark, job, tmp_path, capsys):
    """A schema op the table refuses (rename onto an existing column) is
    reported on one stderr line and fails the run (rc 1), but compact,
    expire and verify still run; it is a refusal, not a compact conflict."""
    root = str(tmp_path / "t")
    t = _mk_table(spark, root)
    before_state = sorted(tuple(r) for r in t.read().collect())
    before_files = _data_file_count(root)
    rc = job.main([root, "--rename", "v", "id", "--min-files", "1",
                   "--keep-last", "1", "--verify"])
    assert rc == 1
    out, err = capsys.readouterr()
    assert err.splitlines()[0].startswith("maintain: rename failed: cannot rename to 'id'")
    assert "compact_skipped=false" in out and "conflicts=" not in out
    assert "renamed=" not in out and "fsck_ok=true" in out
    assert "compacted_buckets=0" not in out and "removed_manifests=0" not in out
    t2 = SnapshotTable(spark, root)
    assert t2.manifest()["summary"]["operation"] == "compact"
    assert sorted(tuple(r) for r in t2.read().collect()) == before_state
    assert _data_file_count(root) < before_files
