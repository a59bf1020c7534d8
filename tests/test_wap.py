"""Branches, tags, and write-audit-publish (Iceberg refs analog).

A branch is an independently-advancing pointer over the shared immutable
manifest chain; a tag pins a version against expiry. WAP: stage commits on
a branch, audit the branch head, publish by fast-forward — main's readers
never see unaudited data and a failed audit never touches main.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pyetl_spark.cdc import SnapshotTable

from conftest import rows  # noqa: E402


def _ev(spark, triples):
    return spark.createDataFrame(triples, ["k", "val", "op", "seq"])


SEED = [("a", 1, "upsert", 1), ("b", 2, "upsert", 2)]
STAGE1 = [("a", 10, "upsert", 3), ("c", 3, "upsert", 4)]
STAGE2 = [("b", 0, "delete", 5), ("d", 4, "upsert", 6)]


@pytest.fixture()
def table(spark, tmp_path):
    t = SnapshotTable.create(spark, os.path.join(str(tmp_path), "t"), keys=["k"], nbuckets=2)
    t.merge(_ev(spark, SEED), batch_id="seed")
    return t


def test_wap_publish_happy_path(spark, table):
    main_before = rows(table.read(), "k", "val")
    audit = table.create_branch("audit")
    audit.merge(_ev(spark, STAGE1), batch_id="s1")
    audit.merge(_ev(spark, STAGE2), batch_id="s2", mode="mor")
    # staged commits are visible on the branch, invisible on main
    assert rows(table.read(), "k", "val") == main_before
    staged = rows(audit.read(), "k", "val")
    assert staged == [("a", 10), ("c", 3), ("d", 4)]
    # audit gate on the branch head: no null keys, expected row count
    assert audit.read().filter(F.col("k").isNull()).count() == 0
    head = table.publish("audit")
    assert table.current_version() == head
    assert rows(table.read(), "k", "val") == staged
    assert "audit" not in table.branches()
    # the branch's batch ledger traveled with the published manifest:
    # redelivery of a staged batch is still exactly-once on main
    st = table.merge(_ev(spark, STAGE1), batch_id="s1")
    assert st.skipped


def test_failed_audit_never_touches_main(spark, table):
    before = rows(table.read(), "k", "val")
    audit = table.create_branch("audit")
    bad = spark.createDataFrame(
        [("a", None, "upsert", 3)], "k string, val bigint, op string, seq bigint"
    )
    audit.merge(bad, batch_id="bad")
    assert audit.read().filter(F.col("val").isNull()).count() == 1  # gate fails
    table.drop_branch("audit")
    assert rows(table.read(), "k", "val") == before
    assert table.branches() == {}
    # the abandoned staged version is collectable once unreferenced
    out = table.expire_snapshots(keep_last=1)
    assert out["removed_manifests"] >= 1


def test_publish_refuses_diverged_branch(spark, table):
    audit = table.create_branch("audit")
    table.merge(_ev(spark, [("z", 9, "upsert", 3)]), batch_id="main-side")
    audit.merge(_ev(spark, STAGE1), batch_id="s1")
    with pytest.raises(ValueError, match="ancestor"):
        table.publish("audit")
    # main kept its commit; branch still exists for re-staging
    assert rows(table.read(), "k", "val") == [("a", 1), ("b", 2), ("z", 9)]
    assert "audit" in table.branches()


def test_branch_pointer_isolation_and_rollback(spark, table):
    b = table.create_branch("dev")
    v0 = b.current_version()
    b.merge(_ev(spark, STAGE1), batch_id="s1")
    assert b.current_version() != table.current_version()
    b.rollback(v0)
    assert b.current_version() == v0
    assert table.current_version() == v0  # main never moved


def test_tag_survives_expiry(spark, table):
    v1 = table.current_version()
    table.create_tag("v1-certified")
    for i in range(3):
        table.merge(_ev(spark, [("a", 100 + i, "upsert", 10 + i)]), batch_id=f"m{i}")
    table.expire_snapshots(keep_last=1)
    assert os.path.exists(table._manifest_path(v1)), "tagged manifest expired"
    assert rows(table.read(version=table.tag_version("v1-certified")), "k", "val") == [
        ("a", 1),
        ("b", 2),
    ]
    table.drop_tag("v1-certified")
    out = table.expire_snapshots(keep_last=1)
    assert not os.path.exists(table._manifest_path(v1))
    assert out["removed_manifests"] >= 1


def test_branch_head_survives_expiry_from_main(spark, table):
    audit = table.create_branch("audit")
    audit.merge(_ev(spark, STAGE1), batch_id="s1")
    head = audit.current_version()
    for i in range(3):
        table.merge(_ev(spark, [("b", 50 + i, "upsert", 20 + i)]), batch_id=f"m{i}")
    table.expire_snapshots(keep_last=1)
    assert os.path.exists(table._manifest_path(head))
    assert rows(audit.read(), "k", "val") == [("a", 10), ("b", 2), ("c", 3)]


def test_in_flight_ref_tmp_is_not_a_ref(spark, table):
    """A ref create stages its pointer in a tmp file before linking it into
    place; a stray one (a crashed or in-flight create) is neither listed as
    a branch nor pins a version against expiry — even half-written."""
    table.create_branch("x")
    table.merge(_ev(spark, STAGE1), batch_id="s1")
    table.merge(_ev(spark, STAGE2), batch_id="s2")
    stray = os.path.join(table.root, "_refs", "branch_x.tmp.0123456789abcdef")
    open(stray, "w").close()  # half-written: empty
    assert table.branches() == {"x": 1}
    res = table.expire_snapshots(keep_last=1)
    assert res["kept_versions"] == [1, 3]
    assert [r["name"] for r in table.refs_df().collect()] == ["main", "x"]
    with pytest.raises(ValueError, match="bad branch name"):
        table.create_branch("y.tmp")


def test_ref_name_hygiene_and_duplicates(spark, table):
    with pytest.raises(ValueError, match="bad branch name"):
        table.create_branch("../evil")
    table.create_branch("dev")
    with pytest.raises(ValueError, match="already exists"):
        table.create_branch("dev")
    table.create_tag("t1")
    with pytest.raises(ValueError, match="already exists"):
        table.create_tag("t1")
    with pytest.raises(ValueError, match="does not exist"):
        table.branch("ghost")
    with pytest.raises(ValueError, match="'main'"):
        table.create_branch("main")
