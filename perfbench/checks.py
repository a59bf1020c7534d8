"""Output checks, run after the timed phase of every run.

Each check returns a list of failure messages; an empty list means the
output is correct. The benchmark counts every failed check in ``failed``.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyetl_spark.cdc.oracle import content_hashes, replay_oracle

KEYS = ["repo", "path"]
SAMPLE_MOD = 16  # one key in SAMPLE_MOD is replayed through the oracle


def sample_keys(df: DataFrame) -> DataFrame:
    """The hash-sampled key subset; the same keys on every run of a seed."""
    return df.filter(F.pmod(F.xxhash64(*KEYS), F.lit(SAMPLE_MOD)) == 0)


def check_against_oracle(events: DataFrame, visible: DataFrame) -> list[str]:
    """Visible table == sequential LWW replay, per key, by sha256(content).

    ``events`` are every change event applied to the table, ``visible`` is
    ``SnapshotTable.read()``; both are restricted to the sampled keys. The
    transform must leave ``content`` as it is (``default_rules()`` does)."""
    ev = sample_keys(events).select("seq", "op", *KEYS, "content").toPandas()
    expected = content_hashes(replay_oracle(ev))
    got_df = sample_keys(visible).select(*KEYS, "content", *(
        ["content_sha"] if "content_sha" in visible.columns else [])).toPandas()
    got = content_hashes(got_df)
    errors = []
    if len(got) != len(got_df):
        errors.append(f"oracle: {len(got_df) - len(got)} duplicate keys in the table")
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    wrong = [k for k in expected.keys() & got.keys() if expected[k] != got[k]]
    if missing or extra or wrong:
        errors.append(f"oracle: {len(missing)} missing, {len(extra)} extra, "
                      f"{len(wrong)} wrong of {len(expected)} sampled keys")
    if "content_sha" in got_df.columns:
        bad = sum(hashlib.sha256(c.encode()).hexdigest() != s
                  for c, s in zip(got_df["content"], got_df["content_sha"]))
        if bad:
            errors.append(f"oracle: {bad} rows whose content_sha is not sha256(content)")
    if not expected:
        errors.append("oracle: the key sample is empty; nothing was checked")
    return errors


def check_view(base_visible: DataFrame, view_state: DataFrame) -> list[str]:
    """View == from-scratch COUNT and exact-decimal SUM(bytes) per repo."""
    truth = base_visible.groupBy("repo").agg(
        F.count(F.lit(1)).cast("long").alias("count"),
        F.sum(F.col("bytes").cast("decimal(28,6)")).cast("decimal(28,6)").alias("sum_bytes"),
    )
    want = {tuple(r) for r in truth.collect()}
    got = {tuple(r) for r in view_state.select("repo", "count", "sum_bytes").collect()}
    if want == got:
        return []
    return [f"view: {len(want - got)} groups missing or wrong, {len(got - want)} unexpected, "
            f"of {len(want)} groups"]


def check_unchanged(what: str, before: int, after: int) -> list[str]:
    if before == after:
        return []
    return [f"exactly-once: {what} moved the version from {before} to {after}"]
