"""CHECK constraints — SnapshotTable.add_constraint / drop_constraint (the
Delta ``ALTER TABLE ADD CONSTRAINT ... CHECK`` analog; reference analog:
pyetl's fail/abort data-quality gates, traitement_alpha.py, applied
declaratively at the sink). Enforcement is fail-fast BEFORE the manifest
commit, piggybacked on the merge's bucket-count job on the streaming path."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyetl_spark.cdc.tableio import (  # noqa: E402
    ConstraintViolationError,
    SnapshotTable,
)


def _mk(spark, tmp_path, **props):
    return SnapshotTable.create(
        spark,
        str(tmp_path / "t"),
        keys=["k"],
        nbuckets=2,
        props={"stats_cols": ["x"], "max_file_rows": 8, **props},
    )


def _delta(spark, rows):
    return spark.createDataFrame(rows, ["k", "x", "op", "seq"])


def _state(t) -> dict:
    return {r["k"]: r["x"] for r in t.read().collect()}


def test_violating_merge_refused_nothing_committed(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.add_constraint("x_pos", "x > 0")
    t.merge(_delta(spark, [(1, 10, "upsert", 1), (2, 20, "upsert", 1)]), "b1")
    v = t.current_version()
    with pytest.raises(ConstraintViolationError, match="x_pos"):
        t.merge(_delta(spark, [(3, -1, "upsert", 2), (4, 4, "upsert", 2)]), "b2")
    # fail-fast: no version advanced, batch not marked committed, state intact
    assert t.current_version() == v
    assert not t.is_committed("b2")
    assert _state(t) == {1: 10, 2: 20}
    # the SAME batch id can be retried with fixed data (exactly-once intact)
    t.merge(_delta(spark, [(3, 1, "upsert", 2), (4, 4, "upsert", 2)]), "b2")
    assert _state(t) == {1: 10, 2: 20, 3: 1, 4: 4}


def test_null_fails_semantics_and_missing_column_is_null(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_delta(spark, [(1, 10, "upsert", 1)]), "b1")
    t.add_constraint("x_pos", "x > 0")
    # explicit null x: expr evaluates to null → violation (Delta semantics)
    with pytest.raises(ConstraintViolationError, match="x_pos"):
        t.merge(
            spark.createDataFrame(
                [(2, None, "upsert", 2)], "k bigint, x bigint, op string, seq long"
            ),
            "b2",
        )
    # upsert OMITTING the x column entirely: the merged row has x = null,
    # and the constraint must see it that way
    with pytest.raises(ConstraintViolationError, match="x_pos"):
        t.merge(spark.createDataFrame([(3, "upsert", 3)], ["k", "op", "seq"]), "b3")
    assert _state(t) == {1: 10}


def test_deletes_exempt(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_delta(spark, [(1, 10, "upsert", 1), (2, 5, "upsert", 1)]), "b1")
    t.add_constraint("x_pos", "x > 0")
    # a delete event carries no payload to validate — must pass
    t.merge(spark.createDataFrame([(2, "delete", 2)], ["k", "op", "seq"]), "b2")
    assert _state(t) == {1: 10}
    # delete_where plans tombstones through merge — also exempt
    t.delete_where([("x", ">=", 10)], batch_id="b3")
    assert _state(t) == {}


def test_add_validates_existing_state(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_delta(spark, [(1, 10, "upsert", 1), (2, -5, "upsert", 1)]), "b1")
    v = t.current_version()
    with pytest.raises(ConstraintViolationError, match="1 existing rows"):
        t.add_constraint("x_pos", "x > 0")
    assert t.current_version() == v  # metadata commit refused
    assert t.constraints() == {}
    # fix the data, then the add succeeds and is metadata-only
    t.merge(_delta(spark, [(2, 5, "upsert", 2)]), "b2")
    files_before = sorted(f for fs in t.manifest()["buckets"].values() for f in fs)
    t.add_constraint("x_pos", "x > 0")
    files_after = sorted(f for fs in t.manifest()["buckets"].values() for f in fs)
    assert files_before == files_after
    assert t.constraints() == {"x_pos": "x > 0"}


def test_drop_constraint_lifts_enforcement(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.add_constraint("x_pos", "x > 0")
    with pytest.raises(ConstraintViolationError):
        t.merge(_delta(spark, [(1, -1, "upsert", 1)]), "b1")
    t.drop_constraint("x_pos")
    t.merge(_delta(spark, [(1, -1, "upsert", 1)]), "b1")
    assert _state(t) == {1: -1}
    with pytest.raises(ValueError, match="no constraint"):
        t.drop_constraint("x_pos")


def test_update_where_and_merge_into_enforced(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_delta(spark, [(1, 10, "upsert", 1), (2, 1, "upsert", 1)]), "b1")
    t.add_constraint("x_small", "x < 100")
    with pytest.raises(ConstraintViolationError, match="x_small"):
        t.update_where({"x": "x * 20"}, [("x", ">=", 10)])
    assert _state(t) == {1: 10, 2: 1}
    t.update_where({"x": "x + 1"}, [("x", ">=", 10)])
    assert _state(t) == {1: 11, 2: 1}
    src = spark.createDataFrame([(1, 500)], ["k", "x"])
    with pytest.raises(ConstraintViolationError, match="x_small"):
        t.merge_into(src, when_matched_update={"x": "s.x"})
    assert _state(t) == {1: 11, 2: 1}


def test_prune_false_bulk_path_enforced(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.add_constraint("x_pos", "x > 0")
    with pytest.raises(ConstraintViolationError, match="x_pos"):
        t.merge(_delta(spark, [(1, -1, "upsert", 1)]), "b1", prune=False)
    assert t.current_version() == 1  # only the add-constraint commit
    t.merge(_delta(spark, [(1, 7, "upsert", 1)]), "b1", prune=False)
    assert _state(t) == {1: 7}


def test_mor_mode_enforced(spark, tmp_path):
    t = _mk(spark, tmp_path, merge_mode="mor")
    t.add_constraint("x_pos", "x > 0")
    t.merge(_delta(spark, [(1, 1, "upsert", 1)]), "b1")
    with pytest.raises(ConstraintViolationError):
        t.merge(_delta(spark, [(1, -2, "upsert", 2)]), "b2")
    assert _state(t) == {1: 1}


def test_multiple_constraints_reported_together(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.add_constraint("x_pos", "x > 0")
    t.add_constraint("k_not_null", "k IS NOT NULL")
    with pytest.raises(ConstraintViolationError) as ei:
        t.merge(
            spark.createDataFrame(
                [(None, -1, "upsert", 1), (2, -3, "upsert", 1)],
                "k int, x int, op string, seq long",
            ),
            "b1",
        )
    msg = str(ei.value)
    assert "x_pos (2 rows)" in msg and "k_not_null (1 rows)" in msg


def test_constraints_survive_clone_and_history(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_delta(spark, [(1, 10, "upsert", 1)]), "b1")
    t.add_constraint("x_pos", "x > 0")
    c = t.clone(str(tmp_path / "c"))
    assert c.constraints() == {"x_pos": "x > 0"}
    with pytest.raises(ConstraintViolationError):
        c.merge(_delta(spark, [(9, -9, "upsert", 9)]), "cb")
    # time travel: versions BEFORE the add carry no constraint set
    assert not (t.manifest(1).get("constraints") or {})
    # the add itself is invisible to the change feed (no bucket changed)
    assert t.changes(1, 2).count() == 0


def test_add_constraint_name_and_duplicate_validation(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="identifier"):
        t.add_constraint("bad name", "x > 0")
    t.add_constraint("x_pos", "x > 0")
    with pytest.raises(ValueError, match="already exists"):
        t.add_constraint("x_pos", "x > 1")


def test_add_constraint_on_missing_column_refused_without_validation(spark, tmp_path):
    """validate=False skips the scan, not the resolve check: a constraint
    naming a column the stored schema lacks must not commit and then fail
    every later merge."""
    t = _mk(spark, tmp_path)
    t.merge(_delta(spark, [(1, 10, "upsert", 1)]), "b1")
    v = t.current_version()
    with pytest.raises(ValueError, match="no_such_col"):
        t.add_constraint("bad", "no_such_col > 0", validate=False)
    assert t.current_version() == v and t.constraints() == {}
    t.merge(_delta(spark, [(2, 20, "upsert", 2)]), "b2")
    assert _state(t) == {1: 10, 2: 20}
