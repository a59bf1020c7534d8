"""Incremental view maintenance over the change feed (cdc/ivm.py)."""

from __future__ import annotations

import os
import sys
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyetl_spark.cdc.ivm import IncrementalAgg, delta_aggregate  # noqa: E402
from pyetl_spark.cdc.tableio import SnapshotTable  # noqa: E402


def _base(spark, tmp_path):
    return SnapshotTable.create(spark, str(tmp_path / "base"), keys=["k"], nbuckets=4)


def _delta(spark, rows):
    # (k, grp, x, op, seq)
    return spark.createDataFrame(rows, ["k", "grp", "x", "op", "seq"])


def _view_state(view):
    return {
        r["grp"]: (r["count"], r["sum_x"]) for r in view.state().collect()
    }


def _recompute(table):
    return {
        r["grp"]: (r["n"], r["s"])
        for r in table.read()
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("x").cast("decimal(28,6)")).cast("decimal(28,6)").alias("s"),
        )
        .collect()
    }


def test_view_tracks_recompute_through_cdc_lifecycle(spark, tmp_path):
    base = _base(spark, tmp_path)
    view = IncrementalAgg(spark, str(tmp_path / "v"), ["grp"], ["x"])
    batches = [
        [(1, "a", 10.5, "upsert", 1), (2, "a", 1.0, "upsert", 2), (3, "b", 2.0, "upsert", 3)],
        # update k=1 within group, move k=2 a→b, insert k=4
        [(1, "a", 11.5, "upsert", 4), (2, "b", 1.0, "upsert", 5), (4, "b", 7.0, "upsert", 6)],
        # delete k=3 and k=4
        [(3, "x", 0.0, "delete", 7), (4, "x", 0.0, "delete", 8)],
    ]
    v_prev = 0
    for i, rows in enumerate(batches):
        base.merge(_delta(spark, rows), batch_id=f"b{i}")
        v_now = base.current_version()
        view.apply(base.changes(v_prev, v_now), batch_id=f"b{i}")
        v_prev = v_now
        assert _view_state(view) == _recompute(base), f"diverged after batch {i}"
    got = _view_state(view)
    assert got["a"] == (1, Decimal("11.500000"))
    assert got["b"] == (1, Decimal("1.000000"))


def test_group_emptied_leaves_view(spark, tmp_path):
    base = _base(spark, tmp_path)
    view = IncrementalAgg(spark, str(tmp_path / "v"), ["grp"], ["x"])
    base.merge(_delta(spark, [(1, "solo", 5.0, "upsert", 1)]), "b0")
    view.apply(base.changes(0), "b0")
    assert "solo" in _view_state(view)
    v1 = base.current_version()
    base.merge(_delta(spark, [(1, "solo", 0.0, "delete", 2)]), "b1")
    view.apply(base.changes(v1), "b1")
    assert _view_state(view) == {}
    # and the group can come back
    v2 = base.current_version()
    base.merge(_delta(spark, [(9, "solo", 3.0, "upsert", 3)]), "b2")
    view.apply(base.changes(v2), "b2")
    assert _view_state(view) == {"solo": (1, Decimal("3.000000"))}


def test_replayed_slice_is_noop(spark, tmp_path):
    base = _base(spark, tmp_path)
    view = IncrementalAgg(spark, str(tmp_path / "v"), ["grp"], ["x"])
    base.merge(_delta(spark, [(1, "a", 5.0, "upsert", 1)]), "b0")
    feed = base.changes(0)
    view.apply(feed, "b0")
    stats = view.apply(feed, "b0")  # at-least-once redelivery
    assert stats.skipped
    assert _view_state(view) == {"a": (1, Decimal("5.000000"))}


def test_reopen_with_different_definition_raises(spark, tmp_path):
    IncrementalAgg(spark, str(tmp_path / "v"), ["grp"], ["x"])
    with pytest.raises(ValueError, match="view definitions"):
        IncrementalAgg(spark, str(tmp_path / "v"), ["grp"], [])


def test_delta_aggregate_signs(spark):
    rows = [
        ("a", 10.0, "insert"),
        ("a", 10.0, "update_preimage"),
        ("b", 10.0, "update_postimage"),
        ("b", 4.0, "delete"),
    ]
    ch = spark.createDataFrame(rows, ["grp", "x", "_change_type"])
    got = {
        r["grp"]: (r["d_count"], r["d_sum_x"])
        for r in delta_aggregate(ch, ["grp"], ["x"]).collect()
    }
    assert got["a"] == (0, Decimal("0.000000"))
    assert got["b"] == (0, Decimal("6.000000"))


def _mm_recompute(table):
    return {
        r["grp"]: (r["n"], r["mn"], r["mx"])
        for r in table.read()
        .groupBy("grp")
        .agg(F.count("*").alias("n"), F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    }


def _mm_state(view):
    return {
        r["grp"]: (r["count"], r["min_x"], r["max_x"]) for r in view.state().collect()
    }


def test_minmax_insert_only_folds_without_base(spark, tmp_path):
    """Insert-only slices fold min/max for free — no base needed."""
    base = _base(spark, tmp_path)
    view = IncrementalAgg(
        spark, str(tmp_path / "v"), ["grp"], min_cols=["x"], max_cols=["x"]
    )
    base.merge(_delta(spark, [(1, "a", 5.0, "upsert", 1), (2, "a", 9.0, "upsert", 2)]), "b0")
    view.apply(base.changes(0), "b0")  # base intentionally omitted
    v1 = base.current_version()
    base.merge(_delta(spark, [(3, "a", 2.0, "upsert", 3), (4, "b", 7.0, "upsert", 4)]), "b1")
    view.apply(base.changes(v1), "b1")
    assert _mm_state(view) == _mm_recompute(base)
    assert _mm_state(view)["a"] == (3, 2.0, 9.0)


def test_minmax_nonboundary_retraction_skips_base(spark, tmp_path):
    """Deleting a middle value must not need the base table: the boundary
    survives, so the fold is provably exact and base stays unread."""
    base = _base(spark, tmp_path)
    view = IncrementalAgg(
        spark, str(tmp_path / "v"), ["grp"], min_cols=["x"], max_cols=["x"]
    )
    rows = [(i, "a", float(i), "upsert", i) for i in range(1, 6)]  # 1..5
    base.merge(_delta(spark, rows), "b0")
    view.apply(base.changes(0), "b0")
    v1 = base.current_version()
    base.merge(_delta(spark, [(3, "a", 0.0, "delete", 6)]), "b1")
    # pre-image x=3.0 is strictly inside (1.0, 5.0) — no boundary hit,
    # so base=None must succeed
    view.apply(base.changes(v1), "b1")
    assert _mm_state(view) == _mm_recompute(base) == {"a": (4, 1.0, 5.0)}


def test_minmax_boundary_retraction_requires_and_uses_base(spark, tmp_path):
    base = _base(spark, tmp_path)
    view = IncrementalAgg(
        spark, str(tmp_path / "v"), ["grp"], min_cols=["x"], max_cols=["x"]
    )
    rows = [(1, "a", 1.0, "upsert", 1), (2, "a", 3.0, "upsert", 2), (3, "a", 5.0, "upsert", 3)]
    base.merge(_delta(spark, rows), "b0")
    view.apply(base.changes(0), "b0")
    v1 = base.current_version()
    base.merge(_delta(spark, [(1, "a", 0.0, "delete", 4)]), "b1")  # retracts the min
    feed = base.changes(v1)
    with pytest.raises(ValueError, match="boundary"):
        view.apply(feed, "b_err")
    view.apply(feed, "b1", base=base)
    assert _mm_state(view) == _mm_recompute(base) == {"a": (2, 3.0, 5.0)}


def test_minmax_null_only_survivors_stay_null(spark, tmp_path):
    """Retracting a group's only non-null value must leave min/max NULL —
    a coalesce over the fold candidate would wrongly resurrect it."""
    base = _base(spark, tmp_path)
    view = IncrementalAgg(spark, str(tmp_path / "v"), ["grp"], min_cols=["x"])
    base.merge(
        spark.createDataFrame(
            [(1, "a", 4.0, "upsert", 1), (2, "a", None, "upsert", 2)],
            "k long, grp string, x double, op string, seq long",
        ),
        "b0",
    )
    view.apply(base.changes(0), "b0")
    assert _mm_state_min(view) == {"a": (2, 4.0)}
    v1 = base.current_version()
    base.merge(_delta(spark, [(1, "a", 0.0, "delete", 3)]), "b1")
    view.apply(base.changes(v1), "b1", base=base)
    assert _mm_state_min(view) == {"a": (1, None)}


def _mm_state_min(view):
    return {r["grp"]: (r["count"], r["min_x"]) for r in view.state().collect()}


def test_minmax_reopen_with_different_definition_raises(spark, tmp_path):
    IncrementalAgg(spark, str(tmp_path / "v"), ["grp"], min_cols=["x"])
    with pytest.raises(ValueError, match="view definitions"):
        IncrementalAgg(spark, str(tmp_path / "v"), ["grp"], max_cols=["x"])
    # and a pre-min/max count/sum view reopens cleanly with empty lists
    IncrementalAgg(spark, str(tmp_path / "w"), ["grp"], ["x"])
    IncrementalAgg(spark, str(tmp_path / "w"), ["grp"], ["x"])


def test_minmax_property_random_sequences(spark, tmp_path):
    """Randomized op sequences: after every apply the maintained
    count/sum/min/max view equals a from-scratch recompute of the base."""
    import random
    from decimal import Decimal as D

    for seed in range(4):
        rng = random.Random(7000 + seed)
        base = SnapshotTable.create(
            spark, str(tmp_path / f"b{seed}"), keys=["k"], nbuckets=4
        )
        view = IncrementalAgg(
            spark,
            str(tmp_path / f"v{seed}"),
            ["grp"],
            ["x"],
            min_cols=["x"],
            max_cols=["x"],
        )
        live, seq, v_prev = {}, 1, 0
        for b in range(5):
            rows = []
            for _ in range(rng.randint(1, 6)):
                k = rng.randint(0, 9)
                if live and rng.random() < 0.4:
                    k = rng.choice(sorted(live))
                    rows.append((k, "g0", 0.0, "delete", seq))
                    live.pop(k, None)
                else:
                    grp = rng.choice(["g0", "g1"])
                    x = float(rng.randint(0, 20))
                    rows.append((k, grp, x, "upsert", seq))
                    live[k] = (grp, x)
                seq += 1
            base.merge(_delta(spark, rows), f"b{b}")
            v_now = base.current_version()
            view.apply(base.changes(v_prev, v_now), f"b{b}", base=base)
            v_prev = v_now
            want = {}
            for grp, x in live.values():
                n, s, mn, mx = want.get(grp, (0, D(0), None, None))
                want[grp] = (
                    n + 1,
                    s + D(str(x)),
                    x if mn is None else min(mn, x),
                    x if mx is None else max(mx, x),
                )
            got = {
                r["grp"]: (r["count"], r["sum_x"], r["min_x"], r["max_x"])
                for r in view.state().collect()
            }
            want = {g: (n, s.quantize(D("0.000001")), mn, mx) for g, (n, s, mn, mx) in want.items()}
            assert got == want, f"seed {seed} batch {b}: {got} != {want}"


def _distinct_recompute(base):
    return {
        r["grp"]: r["nd"]
        for r in base.read()
        .groupBy("grp")
        .agg(F.countDistinct("x").alias("nd"))
        .collect()
    }


def test_incremental_distinct_lifecycle(spark, tmp_path):
    """Chained two-level IVM: multiplicity drops that keep a value alive
    must not change the distinct count; dropping a value's last carrier
    must decrement it; emptied groups leave the view."""
    from pyetl_spark.cdc.ivm import IncrementalDistinct

    base = _base(spark, tmp_path)
    d = IncrementalDistinct(spark, str(tmp_path / "d"), ["grp"], "x")
    batches = [
        # two keys share x=1.0 in grp a → distinct {a: 2, b: 1}
        [(1, "a", 1.0, "upsert", 1), (2, "a", 1.0, "upsert", 2),
         (3, "a", 7.0, "upsert", 3), (4, "b", 5.0, "upsert", 4)],
        # delete ONE carrier of (a, 1.0): multiplicity 2→1, distinct stays 2
        [(1, "a", 0.0, "delete", 5)],
        # delete the LAST carrier of (a, 1.0): distinct 2→1
        [(2, "a", 0.0, "delete", 6)],
        # move k=3 a→b with a new value: a empties, b gains a value
        [(3, "b", 9.0, "upsert", 7)],
    ]
    v_prev = 0
    for i, rows in enumerate(batches):
        base.merge(_delta(spark, rows), batch_id=f"b{i}")
        v_now = base.current_version()
        d.apply(base.changes(v_prev, v_now), batch_id=f"b{i}")
        v_prev = v_now
        got = {r["grp"]: r["n_distinct"] for r in d.state().collect()}
        assert got == _distinct_recompute(base), f"diverged after batch {i}"
    assert got == {"b": 2}


def test_incremental_distinct_replay_and_crash_healing(spark, tmp_path):
    """A replayed slice no-ops at both levels, and an inner apply whose
    outer half never ran (crash between the chained applies) is finished
    by the next call's cursor catch-up."""
    from pyetl_spark.cdc.ivm import IncrementalDistinct

    base = _base(spark, tmp_path)
    d = IncrementalDistinct(spark, str(tmp_path / "d"), ["grp"], "x")
    base.merge(_delta(spark, [(1, "a", 1.0, "upsert", 1)]), "b0")
    feed0 = base.changes(0)
    d.apply(feed0, "b0")
    d.apply(feed0, "b0")  # replay: both levels skip
    v1 = base.current_version()
    base.merge(_delta(spark, [(2, "a", 3.0, "upsert", 2)]), "b1")
    feed1 = base.changes(v1)
    d.inner.apply(feed1, "b1")  # simulate crash before the outer apply
    d.apply(feed1, "b1")  # inner no-ops, outer catch-up heals
    got = {r["grp"]: r["n_distinct"] for r in d.state().collect()}
    assert got == {"a": 2}


def test_incremental_distinct_random_vs_duckdb(spark, tmp_path):
    """Randomized sequences cross-checked against BOTH a Spark recompute
    and DuckDB's count(DISTINCT) over the same final base rows."""
    import random

    import duckdb

    from pyetl_spark.cdc.ivm import IncrementalDistinct

    for seed in range(3):
        rng = random.Random(4200 + seed)
        base = SnapshotTable.create(
            spark, str(tmp_path / f"b{seed}"), keys=["k"], nbuckets=4
        )
        d = IncrementalDistinct(spark, str(tmp_path / f"d{seed}"), ["grp"], "x")
        live, seq, v_prev = {}, 1, 0
        for b in range(4):
            rows = []
            for _ in range(rng.randint(1, 6)):
                k = rng.randint(0, 9)
                if live and rng.random() < 0.35:
                    k = rng.choice(sorted(live))
                    rows.append((k, "g", 0.0, "delete", seq))
                    live.pop(k, None)
                else:
                    grp = rng.choice(["g0", "g1"])
                    x = float(rng.randint(0, 4))  # few values → real collisions
                    rows.append((k, grp, x, "upsert", seq))
                    live[k] = (grp, x)
                seq += 1
            base.merge(_delta(spark, rows), f"b{b}")
            v_now = base.current_version()
            d.apply(base.changes(v_prev, v_now), f"b{b}")
            v_prev = v_now
            got = {r["grp"]: r["n_distinct"] for r in d.state().collect()}
            assert got == _distinct_recompute(base), f"seed {seed} batch {b}"
        pdf = base.read().select("grp", "x").toPandas()
        con = duckdb.connect()
        con.register("t", pdf)
        oracle = {
            g: n
            for g, n in con.execute(
                "SELECT grp, count(DISTINCT x) FROM t GROUP BY grp"
            ).fetchall()
        }
        assert got == oracle, f"seed {seed} vs duckdb"


def _stats_recompute(table):
    """From-scratch avg/var over the base, via the same exact-decimal
    sums the view maintains (so equality is exact, not approximate)."""
    out = {}
    for r in (
        table.read()
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("x").cast("decimal(28,6)")).cast("decimal(28,6)").alias("s"),
            F.sum(
                (F.col("x").cast("decimal(18,6)") * F.col("x").cast("decimal(18,6)"))
                .cast("decimal(28,6)")
            )
            .cast("decimal(28,6)")
            .alias("sq"),
        )
        .collect()
    ):
        n = float(r["n"])
        m = float(r["s"]) / n
        out[r["grp"]] = (r["n"], m, float(r["sq"]) / n - m * m)
    return out


def test_sumsq_view_tracks_avg_var_through_lifecycle(spark, tmp_path):
    """AVG/VARIANCE via additive sum-of-squares: inserts, within-group
    updates, group moves and deletes all fold with no recompute path,
    and stats() equals a from-scratch computation after every batch."""
    base = _base(spark, tmp_path)
    view = IncrementalAgg(
        spark, str(tmp_path / "v"), ["grp"], ["x"], sumsq_cols=["x"]
    )
    batches = [
        [(1, "a", 10.5, "upsert", 1), (2, "a", 1.0, "upsert", 2), (3, "b", 2.0, "upsert", 3)],
        [(1, "a", 11.5, "upsert", 4), (2, "b", 1.0, "upsert", 5), (4, "b", 7.0, "upsert", 6)],
        [(3, "x", 0.0, "delete", 7), (4, "x", 0.0, "delete", 8)],
    ]
    v_prev = 0
    for i, rows in enumerate(batches):
        base.merge(_delta(spark, rows), batch_id=f"b{i}")
        v_now = base.current_version()
        view.apply(base.changes(v_prev, v_now), batch_id=f"b{i}")
        v_prev = v_now
        got = {
            r["grp"]: (r["count"], r["avg_x"], r["var_x"])
            for r in view.stats().collect()
        }
        assert got == _stats_recompute(base), f"diverged after batch {i}"
    # single-row groups: variance exactly 0.0 (exact sums, no float drift)
    assert got["a"] == (1, 11.5, 0.0)
    # derived stddev: sqrt(var), clamped at 0 so a zero variance that
    # rounds to a tiny negative double never turns into NaN
    stds = {r["grp"]: r["std_x"] for r in view.stats().collect()}
    assert stds["a"] == 0.0 and stds["b"] == 0.0


def test_sumsq_survives_minmax_dirty_recompute(spark, tmp_path):
    """sumsq columns must pass through the min/max dirty-group recompute
    path unharmed (the recompute only replaces min/max candidates)."""
    base = _base(spark, tmp_path)
    view = IncrementalAgg(
        spark,
        str(tmp_path / "v"),
        ["grp"],
        ["x"],
        min_cols=["x"],
        max_cols=["x"],
        sumsq_cols=["x"],
    )
    base.merge(
        _delta(spark, [(1, "a", 1.0, "upsert", 1), (2, "a", 9.0, "upsert", 2)]), "b0"
    )
    view.apply(base.changes(0), "b0", base=base)
    v1 = base.current_version()
    # delete the current max → boundary hit → dirty recompute runs
    base.merge(_delta(spark, [(2, "a", 0.0, "delete", 3)]), "b1")
    view.apply(base.changes(v1), "b1", base=base)
    r = view.stats().collect()[0]
    assert (r["count"], r["min_x"], r["max_x"]) == (1, 1.0, 1.0)
    assert (r["avg_x"], r["var_x"]) == (1.0, 0.0)
    assert r["sumsq_x"] == Decimal("1.000000")


def test_sumsq_reopen_definition_guard(spark, tmp_path):
    IncrementalAgg(spark, str(tmp_path / "v"), ["grp"], ["x"], sumsq_cols=["x"])
    with pytest.raises(ValueError, match="view definitions"):
        IncrementalAgg(spark, str(tmp_path / "v"), ["grp"], ["x"])


# --------------------------------------------- view commits and change feed


def _view_feed(view, v0, v1):
    return sorted(
        (r["grp"], r["_change_type"]) for r in view.table.changes(v0, v1).collect()
    )


def _assert_verified(*tables):
    for t in tables:
        report = t.verify(all_versions=True)
        assert report["ok"], report["issues"]


def test_view_feed_emits_delete_then_insert(spark, tmp_path):
    """A group whose count reaches 0 is written as a tombstone, so the view
    table's own change feed emits ``delete``; re-adding it emits
    ``insert``. The group sharing its (only) bucket is carried over
    unchanged and emits nothing."""
    base = _base(spark, tmp_path)
    view = IncrementalAgg(spark, str(tmp_path / "v"), ["grp"], ["x"], nbuckets=1)
    base.merge(_delta(spark, [(1, "a", 1.0, "upsert", 1), (2, "b", 2.0, "upsert", 2)]), "b0")
    view.apply(base.changes(0), "b0")
    steps = [
        ([(1, "a", 0.0, "delete", 3)], [("a", "delete")]),
        ([(3, "a", 4.0, "upsert", 4)], [("a", "insert")]),
        ([(3, "a", 5.0, "upsert", 5)], [("a", "update_postimage"), ("a", "update_preimage")]),
    ]
    for i, (rows, want) in enumerate(steps, start=1):
        b0, v0 = base.current_version(), view.table.current_version()
        base.merge(_delta(spark, rows), f"b{i}")
        stats = view.apply(base.changes(b0), f"b{i}")
        assert stats.version == view.table.current_version() == v0 + 1
        assert view.table.manifest()["summary"]["operation"] == "replace_buckets"
        assert _view_feed(view, v0, stats.version) == want, f"step {i}"
        assert _view_state(view) == _recompute(base), f"step {i}"
        _assert_verified(view.table)
    # the watermark advanced with every commit, one _seq per apply
    assert view.table.max_seq() == view.table.manifest()["max_seq"] == 3


def test_incremental_distinct_delete_readd_matches_recompute(spark, tmp_path):
    """IncrementalDistinct over a delete / re-add sequence: the outer view
    consumes the inner table's feed, so every tombstone (delete) and
    re-insert there must reach it exactly once."""
    from pyetl_spark.cdc.ivm import IncrementalDistinct

    base = _base(spark, tmp_path)
    d = IncrementalDistinct(spark, str(tmp_path / "d"), ["grp"], "x", nbuckets=2)
    batches = [
        [(1, "a", 1.0, "upsert", 1), (2, "a", 2.0, "upsert", 2), (3, "b", 1.0, "upsert", 3)],
        [(1, "a", 0.0, "delete", 4)],  # (a, 1.0) leaves: a 2→1
        [(4, "a", 1.0, "upsert", 5)],  # (a, 1.0) back: a 1→2
        [(2, "a", 0.0, "delete", 6), (4, "a", 0.0, "delete", 7)],  # a empties
        [(5, "a", 3.0, "upsert", 8), (3, "b", 0.0, "delete", 9)],  # a back, b empties
        [(6, "b", 1.0, "upsert", 10)],  # b back with its old value
    ]
    v_prev = 0
    for i, rows in enumerate(batches):
        base.merge(_delta(spark, rows), batch_id=f"b{i}")
        v_now = base.current_version()
        d.apply(base.changes(v_prev, v_now), batch_id=f"b{i}")
        v_prev = v_now
        got = {r["grp"]: r["n_distinct"] for r in d.state().collect()}
        assert got == _distinct_recompute(base), f"diverged after batch {i}"
        _assert_verified(d.inner.table, d.outer.table)
    assert got == {"a": 1, "b": 1}


def test_view_in_rescale_window_commits_through_merge(spark, tmp_path):
    """A view table with a non-empty ``legacy`` window keeps committing
    through merge() — the only path that migrates legacy buckets — and
    still equals a from-scratch recompute; once compacted, applies
    replace buckets again. replace_buckets itself refuses the window."""
    base = _base(spark, tmp_path)
    view = IncrementalAgg(spark, str(tmp_path / "v"), ["grp"], ["x"], nbuckets=2)
    rows = [(k, f"g{k % 5}", float(k), "upsert", k) for k in range(1, 11)]
    base.merge(_delta(spark, rows), "b0")
    view.apply(base.changes(0), "b0")
    view.table.rescale(4)  # lazy: every stored group now sits in a legacy bucket
    assert view.table.manifest()["legacy"]
    b0 = base.current_version()
    base.merge(_delta(spark, [(1, "g1", 0.0, "delete", 11), (11, "g9", 2.5, "upsert", 12)]), "b1")
    with pytest.raises(ValueError, match="rescale window"):
        view.table.replace_buckets(view.table.read_raw().limit(0), [0], view.table.current_version())
    stats = view.apply(base.changes(b0), "b1")
    assert view.table.manifest()["summary"]["operation"] == "merge"
    assert stats.buckets_migrated > 0
    assert _view_state(view) == _recompute(base)
    _assert_verified(view.table)

    view.table.compact()  # closes the window
    assert not view.table.manifest().get("legacy")
    b1 = base.current_version()
    base.merge(_delta(spark, [(2, "g2", 7.0, "upsert", 13)]), "b2")
    view.apply(base.changes(b1), "b2")
    assert view.table.manifest()["summary"]["operation"] == "replace_buckets"
    assert _view_state(view) == _recompute(base)
    _assert_verified(view.table)


def test_view_with_mor_dirty_buckets_folds_resolved_state(spark, tmp_path):
    """A view table whose buckets carry unresolved merge-on-read appends
    (``dirty``): the fold reads their LWW-resolved state, the rewrite
    clears the flag on the buckets it replaces, and the view still equals
    a from-scratch recompute."""
    base = _base(spark, tmp_path)
    view = IncrementalAgg(spark, str(tmp_path / "v"), ["grp"], ["x"], nbuckets=2)
    rows = [(k, f"g{k % 6}", float(k), "upsert", k) for k in range(1, 13)]
    base.merge(_delta(spark, rows), "b0")
    view.apply(base.changes(0), "b0")
    # append a second, identical version of every live group (higher _seq)
    state = view.state().withColumns(
        {"op": F.lit("upsert"), "seq": F.lit(view.table.max_seq() + 1).cast("long")}
    )
    view.table.merge(state, batch_id="mor-copy", mode="mor")
    dirty = view.table.dirty_buckets()
    assert dirty
    b0 = base.current_version()
    base.merge(_delta(spark, [(1, "g1", 0.0, "delete", 13), (2, "g2", 9.0, "upsert", 14)]), "b1")
    view.apply(base.changes(b0), "b1")
    touched = set(view.table.bucket_ids(spark.createDataFrame([("g1",), ("g2",)], ["grp"])))
    assert not set(view.table.dirty_buckets()) & touched
    assert _view_state(view) == _recompute(base)
    _assert_verified(view.table)


def test_view_committed_by_merge_keeps_its_stored_types(spark, tmp_path):
    """A view table whose state merge() wrote with an int ``seq`` (how
    views were committed before replace_buckets) keeps folding: a commit
    that only touches empty buckets writes the stored ``_seq`` type back."""
    base = _base(spark, tmp_path)
    view = IncrementalAgg(spark, str(tmp_path / "v"), ["grp"], ["x"], nbuckets=4)
    base.merge(_delta(spark, [(1, "a", 1.0, "upsert", 1)]), "b0")
    view.table.merge(
        spark.createDataFrame(
            [("a", 1, Decimal("1.000000"), "upsert", 0)],
            "grp string, count long, sum_x decimal(28,6), op string, seq int",
        ),
        batch_id="b0",
    )
    bucket = {g: view.table.bucket_ids(spark.createDataFrame([(g,)], ["grp"]))[0]
              for g in "abcdefgh"}
    other = next(g for g in "bcdefgh" if bucket[g] != bucket["a"])
    b0 = base.current_version()
    base.merge(_delta(spark, [(2, other, 2.0, "upsert", 2)]), "b1")
    view.apply(base.changes(b0), "b1")
    assert view.table.manifest()["summary"]["operation"] == "replace_buckets"
    seq_type = [f for f in view.table.read_raw().schema.fields if f.name == "_seq"][0]
    assert seq_type.dataType.simpleString() == "int"
    assert _view_state(view) == _recompute(base)
    _assert_verified(view.table)
