"""Table-property / sort-order evolution — SnapshotTable.alter_props (the
Iceberg ``ALTER TABLE ... SET TBLPROPERTIES`` / sort-order-evolution analog:
a metadata-only commit steering future writes, reads exact throughout)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyetl_spark.cdc.tableio import BLOOM_SUFFIX, SnapshotTable  # noqa: E402


def _mk(spark, tmp_path, **props):
    return SnapshotTable.create(
        spark,
        str(tmp_path / "t"),
        keys=["k"],
        nbuckets=2,
        props=props or None,
    )


def _delta(spark, rows):
    return spark.createDataFrame(rows, ["k", "x", "op", "seq"])


def _state(t) -> dict:
    return {r["k"]: r["x"] for r in t.read().collect()}


def test_alter_enables_stats_and_skipping_after_compact(spark, tmp_path):
    """A table created WITHOUT stats_cols gains them by alter; the next
    compact() clusters + records footer metrics and scan() starts pruning.
    Mid-transition reads stay exact (stats-less files are always read)."""
    t = _mk(spark, tmp_path)
    t.merge(_delta(spark, [(i, i, "upsert", i) for i in range(64)]), "b0")
    assert not t.manifest().get("file_stats")
    t.alter_props({"stats_cols": ["x"], "max_file_rows": 8})
    # alter itself is metadata-only: same buckets, no data rewritten
    assert t.manifest()["buckets"] == t.manifest(t.current_version() - 1)["buckets"]
    # scan before re-layout: exact, zero pruning possible
    got = {r["k"] for r in t.scan([("x", ">=", 60)]).collect()}
    assert got == set(range(60, 64))
    t.compact(min_files=1)
    assert t.manifest()["file_stats"]  # footer metrics now recorded
    t.scan([("x", ">=", 60)]).collect()
    assert t.last_scan["files_read"] < t.last_scan["files_total"]
    assert _state(t) == {i: i for i in range(64)}


def test_alter_enables_blooms_for_new_writes_only(spark, tmp_path):
    """Old files have no sidecars (always kept); files written after the
    alter carry them; scan results stay exact either way."""
    t = _mk(spark, tmp_path)
    t.merge(_delta(spark, [(i, i, "upsert", i) for i in range(8)]), "b0")
    t.alter_props({"bloom_cols": ["x"]})
    t.merge(_delta(spark, [(i, i, "upsert", 100 + i) for i in range(8, 16)]), "b1")
    m = t.manifest()
    with_sidecar = [
        f
        for fs in m["buckets"].values()
        for f in fs
        if os.path.exists(f + BLOOM_SUFFIX)
    ]
    assert with_sidecar  # the post-alter merge wrote sidecars
    got = {r["k"] for r in t.scan([("x", "in", [3, 11, 999])]).collect()}
    assert got == {3, 11}


def test_alter_merge_mode_flips_commit_strategy(spark, tmp_path):
    t = _mk(spark, tmp_path)
    st0 = t.merge(_delta(spark, [(1, 1, "upsert", 1)]), "b0")
    assert st0.mode == "cow"
    t.alter_props({"merge_mode": "mor"})
    st1 = t.merge(_delta(spark, [(1, 2, "upsert", 2)]), "b1")
    assert st1.mode == "mor" and t.manifest()["dirty"]
    assert _state(t) == {1: 2}


def test_creator_props_refused_without_force(spark, tmp_path):
    t = _mk(spark, tmp_path, bands=16, rows_per_band=4)
    with pytest.raises(ValueError, match="creator-owned"):
        t.alter_props({"bands": 32})
    assert t.props()["bands"] == 16
    t.alter_props({"bands": 32}, force=True)
    assert t.props()["bands"] == 32


def test_zorder_invariants_validated_on_result(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="zorder_bounds"):
        t.alter_props({"zorder_cols": ["x"]})
    with pytest.raises(ValueError, match="stats_cols"):
        t.alter_props({"zorder_cols": ["x"], "zorder_bounds": {"x": [0, 100]}})
    t.alter_props(
        {
            "zorder_cols": ["x"],
            "zorder_bounds": {"x": [0, 100]},
            "stats_cols": ["x"],
        }
    )
    assert t.props()["zorder_cols"] == ["x"]
    with pytest.raises(ValueError, match="merge_mode"):
        t.alter_props({"merge_mode": "nope"})


def test_create_refuses_what_alter_refuses(spark, tmp_path):
    """create() validates layout props with the same rules as alter_props:
    a bad merge_mode would otherwise commit and fail every later merge."""
    for props in ({"merge_mode": "bogus"}, {"zorder_cols": ["x"]}):
        with pytest.raises(ValueError, match="merge_mode|zorder_bounds"):
            _mk(spark, tmp_path, **props)
        assert not SnapshotTable.exists(str(tmp_path / "t"))


def test_alter_is_silent_in_cdf_and_props_are_versioned(spark, tmp_path):
    """The alter commit emits no change rows, history records the op, and
    time travel sees each version's own props."""
    t = _mk(spark, tmp_path)
    t.merge(_delta(spark, [(1, 1, "upsert", 1)]), "b0")
    v1 = t.current_version()
    v2 = t.alter_props({"max_file_rows": 4}, unset=[])
    assert t.changes(v1, v2).count() == 0
    ops = {r["version"]: r["operation"] for r in t.history_df().collect()}
    assert ops[v2] == "alter"
    assert "max_file_rows" not in (t.manifest(v1).get("props") or {})
    assert t.manifest(v2)["props"]["max_file_rows"] == 4
    assert t.verify()["ok"]


def test_alter_nothing_raises(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="nothing"):
        t.alter_props()
