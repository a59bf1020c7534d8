"""The commit log of a :class:`~pyetl_spark.cdc.tableio.SnapshotTable` as
plain files — no Spark import, so the driver-side table code and the
``table_changes`` source (whose planning runs without a SparkSession) share
one reader and one writer of the same on-disk layout:

- ``_versions/v<8-digit version>.json``: one immutable manifest per commit,
  created put-if-absent (:func:`create_exclusive`), so two writers racing to
  the same version cannot both win;
- ``_current`` (and ``_refs/<kind>_<name>`` for branches/tags): a pointer
  file holding one version number, swapped atomically (:func:`write_json`);
- ``data/<version dir>/<bucket dir>/*.parquet``: the immutable data files
  manifests reference, per current-spec bucket plus, inside a rescale
  window, the un-migrated ``legacy`` spec buckets.
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from collections.abc import Iterator


def version_path(root: str, version: int) -> str:
    return os.path.join(root, "_versions", f"v{version:08d}.json")


def load(root: str, version: int) -> dict:
    with open(version_path(root, version)) as f:
        return json.load(f)


def read_pointer(path: str) -> int:
    """The version a pointer file (``_current`` or a ref) names."""
    with open(path) as f:
        return int(f.read().strip())


def current_version(root: str) -> int:
    return read_pointer(os.path.join(root, "_current"))


def write_json(path: str, obj) -> None:
    """write-fsync-rename: readers see the whole file or none of it."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def create_exclusive(path: str, obj) -> None:
    """Create ``path`` holding ``obj`` as JSON, or raise
    :class:`FileExistsError` if it already exists. The content is written
    fully to a private tmp, fsynced, then LINKED to the final name:
    ``os.link`` is atomic AND fails with EEXIST if the name is taken, so one
    call gives both torn-write safety (a crash never leaves a partial file
    at the final path) and put-if-absent arbitration between writers. The
    tmp name is unique PER ATTEMPT (pid + uuid): two writers in one process
    (e.g. two streaming queries merging into the same table) must not share
    a tmp file, or the loser's open('w')/unlink could tear or remove the
    winner's in-flight content. It contains ``.tmp`` and does not end in
    ``.json``, so neither ref listings nor :func:`retained_versions` can
    mistake an in-flight write for a committed one."""
    tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    finally:
        os.unlink(tmp)


def retained_versions(root: str) -> list[int]:
    return sorted(
        int(f[1:-5])
        for f in os.listdir(os.path.join(root, "_versions"))
        if f.startswith("v") and f.endswith(".json")
    )


def lineage(root: str, from_version: int, to_version: int) -> list[int]:
    """Commit lineage ``from_version → … → to_version`` by walking the
    manifest ``parent`` chain (NOT numeric adjacency: after a rollback the
    next merge's parent is the rollback target, so v2 may not be v3's
    ancestor). Raises if ``from_version`` is not an ancestor of
    ``to_version`` or a manifest on the way was expired."""
    if not os.path.exists(version_path(root, from_version)):
        raise ValueError(
            f"version {from_version} not retained (expired or never existed)"
        )
    chain = [to_version]
    v = to_version
    while v != from_version:
        if not os.path.exists(version_path(root, v)):
            raise ValueError(
                f"version {v} not retained (expired) — change feed "
                f"from v{from_version} to v{to_version} is unreadable"
            )
        parent = load(root, v).get("parent")
        if parent is None:
            raise ValueError(
                f"v{from_version} is not an ancestor of v{to_version} "
                "(diverged lineage, e.g. across a rollback)"
            )
        chain.append(parent)
        v = parent
    return list(reversed(chain))


def commit_diffs(
    root: str, from_version: int, to_version: int
) -> Iterator[tuple[int, dict, dict, list[str] | None]]:
    """``(version, parent manifest, manifest, changed buckets)`` for each
    commit on the lineage ``(from_version, to_version]`` — the manifest
    diff both change feeds read. ``changed`` lists the bucket ids whose
    file list differs from the parent's, and is ``None`` for a rescale
    commit: that one is metadata-only by construction (the bucket map moves
    to ``legacy``, no row changes), and its bucket ids are in a different
    spec, so a map diff would be meaningless."""
    chain = lineage(root, from_version, to_version)
    prev = load(root, from_version)
    for v in chain[1:]:
        m = load(root, v)
        changed = None
        if m["nbuckets"] == prev["nbuckets"]:
            changed = sorted(
                b
                for b in set(prev["buckets"]) | set(m["buckets"])
                if prev["buckets"].get(b) != m["buckets"].get(b)
            )
        yield v, prev, m, changed
        prev = m


def legacy_files(m: dict) -> list[str]:
    """Data files of the un-migrated rescale-window specs in ``m``."""
    return [f for sp in m.get("legacy") or [] for fs in sp["buckets"].values() for f in fs]


def referenced_files(m: dict) -> list[str]:
    """Every data file manifest ``m`` references: current-spec buckets, then
    rescale-window legacy buckets."""
    return [f for fs in m["buckets"].values() for f in fs] + legacy_files(m)


def data_files(root: str) -> list[str]:
    """Every data file on disk under ``root`` — referenced or not."""
    return sorted(glob.glob(os.path.join(glob.escape(root), "data", "*", "*", "*.parquet")))
