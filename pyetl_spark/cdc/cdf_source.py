"""Structured-Streaming change-feed SOURCE for :class:`SnapshotTable` via
the PySpark 4 Python Data Source API — the Delta CDF *streaming source*
analog::

    spark.readStream.format("table_changes").option("path", root).load()

Offsets are table VERSIONS (the commit log is the WAL), so Spark's own
checkpoint gives exactly-once offset tracking across restarts: a resumed
stream continues from the last committed version, never re-emitting or
skipping a commit. Each micro-batch covers the commit range
``(start, end]``; one input partition per (commit, changed bucket) — the
same manifest-diff shape as :meth:`SnapshotTable.changes`, so a batch's
read cost is ∝ changed data, not table size, and bucket diffs compute in
parallel across executors.

Executor-side ``read()`` runs WITHOUT a SparkSession (Python Data Source
contract), so the per-bucket LWW resolve + full-outer diff is pyarrow +
pandas over exactly the two file lists the manifests name — Arrow-batch
output, never per-row Python into the JVM. Semantics mirror
``changes()`` row for row (same tombstone edges, same unchanged-copy
suppression); parity is pinned by tests/test_cdf_source.py.

Production seams, handled like Delta handles them:

- **Schema evolution mid-stream**: the stream pins the table schema at
  start; a commit that ADDS columns afterwards raises and asks for a
  restart (Delta's behavior for CDF schema changes). Commits written
  under an older (narrower) schema read fine — missing columns are null.
- **Rescale windows**: commits inside a bucket-spec migration are read
  exactly by widening each changed bucket's file set with the sides'
  un-migrated legacy files — the key-level diff never needs bucket
  identity (which is spec-relative and xxhash64-derived), extra rows
  diff to nothing, at the price of re-reading the legacy set while the
  window is open.
- **Rate limiting**: ``maxCommitsPerBatch`` caps how many commits a
  micro-batch admits (the Delta ``maxFilesPerTrigger`` analog). Scope:
  it governs steady-state ProcessingTime tails (batch 2 onward — the
  first ``latestOffset`` after a [re]start has no prior end to cap
  from, and a capped first offset under Spark's availableNow fallback
  for Python sources, which plans ONE batch for the whole available
  range, would strand the remainder). Data can never be lost to the
  cap: an uncapped first batch reads to the current version, and a
  capped tail keeps polling.

Reference parity: pyetl's incremental DB tail — dbmaxval watermark reads
(moteur/fonctions/traitement_bdd.py) — recast as an offset-tracked
streaming source over the lake table's own commit log.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from pyetl_spark.cdc import manifest as mf

SEQ = "_seq"
DELETED = "_deleted"


# The commit log is read through cdc.manifest (plain JSON, no Spark import),
# the same reader SnapshotTable uses: the source must stay importable and
# picklable without a SparkSession, and planning needs only the commit log.


def _table_feed_schema(root: str, version: int | None = None) -> StructType:
    """Pinned output schema: the table's stored schema minus the storage
    envelope (``_seq``/``_deleted``), plus the CDF columns.

    ``version`` anchors the schema for batch range reads (the schema AT
    the range's end). When the anchor manifest carries no schema — e.g.
    the table was rolled back to the empty root and then received only
    metadata-only commits (alter_props) — walk the parent chain to the
    nearest ancestor WITH one: schema evolution is widening-only, so the
    nearest schema'd ancestor is the widest schema any commit ≤ anchor
    wrote (property-test find)."""
    m = mf.load(root, mf.current_version(root) if version is None else version)
    while not m.get("schema") and m.get("parent") is not None:
        try:
            m = mf.load(root, m["parent"])
        except (FileNotFoundError, ValueError):
            break  # expired ancestor: nothing more to learn
    if not m.get("schema"):
        if version is not None:
            # anchored BATCH range read ending at a schema-less lineage
            # (e.g. rollback to the empty root followed by metadata-only
            # commits): changes() returns an envelope-only empty frame for
            # this case, and the source must agree — no rows can exist, so
            # the feed schema is just the CDF columns
            return StructType(
                [
                    StructField("_change_type", StringType(), False),
                    StructField("_commit_version", IntegerType(), False),
                ]
            )
        raise ValueError(
            "table has no schema yet (no commits) — merge at least one "
            "batch before opening a change-feed stream"
        )
    base = StructType.fromJson(json.loads(m["schema"]))
    fields = [f for f in base.fields if f.name not in (SEQ, DELETED)]
    fields.append(StructField("_change_type", StringType(), False))
    fields.append(StructField("_commit_version", IntegerType(), False))
    return StructType(fields)


# ------------------------------------------------------------- partitions


class ChangesPartition(InputPartition):
    """One (commit, changed-bucket) diff unit. Carries everything read()
    needs — file lists from the two manifests and the pinned output
    layout — so executors never touch the manifest directory."""

    def __init__(
        self,
        commit_version: int,
        a_files: list[str],
        b_files: list[str],
        keys: list[str],
        aliases: dict | None = None,
    ):
        self.commit_version = commit_version
        self.a_files = a_files
        self.b_files = b_files
        self.keys = keys
        # retired physical name → ENDING-version logical name (rename
        # evolution): executors fold old-named file columns into the
        # pinned layout without touching the manifest directory
        self.aliases = dict(aliases or {})


class TableChangesStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self.root = options.get("path") or options.get("tableroot")
        if not self.root:
            raise ValueError("table_changes: option 'path' (table root) is required")
        self.max_commits = int(options.get("maxcommitsperbatch", 64))
        start = str(options.get("startingversion", "current")).lower()
        self.start_version = (
            mf.current_version(self.root) if start in ("current", "latest")
            else int(start)
        )
        self.schema = schema
        # arrow layout for read()'s RecordBatch output, precomputed on the
        # driver (pa.Schema pickles into the partitions' closure)
        from pyspark.sql.pandas.types import to_arrow_schema

        self.arrow_schema = to_arrow_schema(schema)
        self._last_end: int | None = None

    # ------------------------------------------------------------ offsets

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        cur = mf.current_version(self.root)
        if self._last_end is not None:
            cur = min(cur, self._last_end + self.max_commits)
        return {"version": cur}

    def commit(self, end: dict) -> None:
        # manifests are immutable; nothing to clean up. Offset durability
        # is Spark's checkpoint.
        pass

    # --------------------------------------------------------- planning

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        sv, ev = int(start["version"]), int(end["version"])
        self._last_end = ev
        pinned = {f.name for f in self.schema.fields} - {
            "_change_type",
            "_commit_version",
        }
        return _plan_partitions(self.root, sv, ev, pinned)

    # ------------------------------------------------------------- read

    def read(self, partition: ChangesPartition) -> Iterator:
        """Executor-side bucket diff — LWW resolve each side, full-outer
        key join, classify per changes()' semantics; Arrow batches out."""
        return _read_partition(partition, self.arrow_schema)


def _plan_partitions(root: str, sv: int, ev: int, pinned: set) -> list[InputPartition]:
    """Driver-side planning shared by the stream and batch readers: one
    partition per (commit on the (sv, ev] lineage, changed bucket)."""
    if ev <= sv:
        return [ChangesPartition(-1, [], [], [])]
    parts: list[InputPartition] = []
    # the feed anchors at the ENDING version's names (Delta CDF contract):
    # columns renamed inside the range are mapped through the anchor's
    # alias registry — both for the pinned-schema drift check here and for
    # the executor-side physical-name fold in _resolved_pdf
    m_ev = mf.load(root, ev)
    aliases = dict(m_ev.get("aliases") or {})
    dropped = set(m_ev.get("dropped") or {})
    for v, prev_m, m, changed in mf.commit_diffs(root, sv, ev):
        if m.get("schema"):
            # columns dropped inside the range leave the feed (changes()
            # parity), renamed ones count under their ending name
            commit_cols = {
                aliases.get(f["name"], f["name"])
                for f in json.loads(m["schema"])["fields"]
            } - {SEQ, DELETED} - dropped
            new_cols = commit_cols - pinned
            if new_cols:
                raise ValueError(
                    f"table_changes: commit v{v} added column(s) "
                    f"{sorted(new_cols)} after the stream pinned its "
                    "schema — restart the stream to pick them up"
                )
        if changed is None:
            continue  # rescale commit: metadata-only, no row changes
        keys = m["keys"]
        # rescale-migration windows: bucket identity is spec-relative
        # and Spark's xxhash64 can't be recomputed off-JVM, but the
        # key-level diff doesn't need it — widen each changed bucket's
        # read set with the side's un-migrated legacy files. A legacy
        # row whose key belongs elsewhere appears on one/both sides
        # with an unchanged (_seq, _deleted) pair and diffs to nothing;
        # a row migrating INTO a changed bucket is present where it
        # must be. Exact, at the price of re-reading the legacy set
        # per changed bucket while a migration window is open.
        a_legacy = mf.legacy_files(prev_m)
        b_legacy = mf.legacy_files(m)
        for b in changed:
            b_f = m["buckets"].get(b)
            if b_f:
                parts.append(
                    ChangesPartition(
                        v,
                        (prev_m["buckets"].get(b) or []) + a_legacy,
                        b_f + b_legacy,
                        # key names as of the ENDING anchor (a pre-rename
                        # commit's key column folds into its current name)
                        [aliases.get(k, k) for k in keys],
                        aliases,
                    )
                )
    # Spark requires >= 1 partition; an all-metadata range (compaction /
    # expiry only) yields one empty unit
    return parts or [ChangesPartition(-1, [], [], [])]


def _read_partition(partition: ChangesPartition, arrow_schema) -> Iterator:
    """Executor-side bucket diff shared by the stream and batch readers."""
    import pandas as pd
    import pyarrow as pa

    p = partition
    if p.commit_version < 0 or not p.b_files:
        return
    keys = list(p.keys)
    out_cols = [f.name for f in arrow_schema][:-2]  # minus CDF cols
    payload = [c for c in out_cols if c not in keys]

    a = _resolved_pdf(p.a_files, keys, out_cols, p.aliases)
    b = _resolved_pdf(p.b_files, keys, out_cols, p.aliases)

    def _emit(side: pd.DataFrame, suffix: str, mask, ctype) -> pd.DataFrame:
        cols = {k: side[k] for k in keys}
        cols |= {c: side[f"{c}{suffix}"] for c in payload}
        d = pd.DataFrame(cols)[mask.fillna(False).astype(bool)]
        d["_change_type"] = ctype
        return d

    if a is None:
        live = ~b[DELETED].fillna(False).astype(bool)
        out = pd.DataFrame({c: b[c] for c in out_cols})[live]
        out["_change_type"] = "insert"
    else:
        j = a.merge(b, on=keys, how="outer", suffixes=("__a", "__b"))
        a_seq, b_seq = j[f"{SEQ}__a"], j[f"{SEQ}__b"]
        a_live = j[f"{DELETED}__a"].eq(False).fillna(False)
        b_live = j[f"{DELETED}__b"].eq(False).fillna(False)
        a_dead = j[f"{DELETED}__a"].eq(True).fillna(False)
        b_dead = j[f"{DELETED}__b"].eq(True).fillna(False)
        updated = a_live & b_live & (a_seq != b_seq).fillna(False)
        out = pd.concat(
            [
                _emit(j, "__a", a_live & b_dead, "delete"),
                _emit(j, "__a", updated, "update_preimage"),
                _emit(j, "__b", b_live & ~a_live & ~a_dead, "insert"),
                # a tombstone overwritten by a live row is an insert
                _emit(j, "__b", b_live & a_dead, "insert"),
                _emit(j, "__b", updated, "update_postimage"),
            ],
            ignore_index=True,
        )
    if len(out) == 0:
        return
    out["_commit_version"] = p.commit_version
    tab = pa.Table.from_pandas(
        out[[f.name for f in arrow_schema]],
        schema=arrow_schema,
        preserve_index=False,
        safe=False,
    )
    yield from tab.to_batches()


def _resolved_pdf(files, keys, out_cols, aliases=None):
    """One LWW-resolved row per key from ``files`` (max-``_seq`` wins —
    the pandas mirror of resolved_raw, covering merge-on-read appends),
    aligned to the pinned column set (older-schema files → null columns).
    ArrowDtype-backed throughout so integer/boolean columns survive nulls.

    ``aliases`` (retired physical name → anchor logical name) folds
    pre-rename files into the pinned layout: a merge-on-read bucket can
    hold files from both sides of a rename, in which case the permissive
    concat surfaces BOTH physical columns and each row carries a value in
    exactly one of them (writes use the names current at their commit) —
    ``combine_first`` is therefore an exact coalesce, mirroring the JVM
    read path (tableio._read_files)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not files:
        return None
    tabs = [pq.read_table(f) for f in files]
    tbl = tabs[0] if len(tabs) == 1 else pa.concat_tables(
        tabs, promote_options="permissive"
    )
    df = tbl.to_pandas(types_mapper=pd.ArrowDtype)
    for old, new in (aliases or {}).items():
        if old in df.columns:
            if new in df.columns:
                df[new] = df[new].combine_first(df[old])
            else:
                df[new] = df[old]
            df = df.drop(columns=[old])
    df = df.sort_values(SEQ, kind="stable").drop_duplicates(subset=keys, keep="last")
    for c in out_cols:
        if c not in df.columns:
            df[c] = pd.NA
    return df.reset_index(drop=True)


class TableChangesBatchReader(DataSourceReader):
    """``spark.read.format("table_changes")`` — the Delta batch
    ``readChangeFeed`` analog: the feed for commits ``(startingVersion,
    endingVersion]`` as a plain DataFrame, same planning and executor
    diff as the streaming reader."""

    def __init__(self, schema: StructType, options: dict):
        self.root = options.get("path") or options.get("tableroot")
        if not self.root:
            raise ValueError("table_changes: option 'path' (table root) is required")
        self.start = int(options.get("startingversion", 0))
        endo = options.get("endingversion")
        self.end = int(endo) if endo is not None else mf.current_version(self.root)
        self.schema = schema
        from pyspark.sql.pandas.types import to_arrow_schema

        self.arrow_schema = to_arrow_schema(schema)

    def partitions(self) -> Sequence[InputPartition]:
        pinned = {f.name for f in self.schema.fields} - {
            "_change_type",
            "_commit_version",
        }
        return _plan_partitions(self.root, self.start, self.end, pinned)

    def read(self, partition: ChangesPartition) -> Iterator:
        return _read_partition(partition, self.arrow_schema)


class TableChangesDataSource(DataSource):
    """``spark.readStream.format("table_changes")`` (streaming tail) and
    ``spark.read.format("table_changes")`` (batch range read) — options:

    - ``path`` (required): SnapshotTable root
    - ``startingVersion``: int, or ``current`` (stream default — only
      commits made after the stream starts; ``0`` — the batch default —
      replays the whole retained history, initial state as inserts)
    - ``endingVersion`` (batch only): inclusive range end (default: the
      table's current version)
    - ``maxCommitsPerBatch`` (stream only): micro-batch admission cap
      (default 64)
    """

    @classmethod
    def name(cls) -> str:
        return "table_changes"

    def schema(self) -> StructType:
        root = self.options.get("path") or self.options.get("tableroot")
        if not root:
            raise ValueError("table_changes: option 'path' (table root) is required")
        endo = self.options.get("endingversion")
        return _table_feed_schema(root, int(endo) if endo is not None else None)

    def streamReader(self, schema: StructType) -> TableChangesStreamReader:
        return TableChangesStreamReader(schema, dict(self.options))

    def reader(self, schema: StructType) -> TableChangesBatchReader:
        return TableChangesBatchReader(schema, dict(self.options))


def register(spark) -> None:
    """Idempotently register the source with a session."""
    spark.dataSource.register(TableChangesDataSource)


def read_stream_changes(spark, root: str, **options):
    """Convenience: register + open the stream over ``root``."""
    register(spark)
    reader = spark.readStream.format("table_changes").option("path", root)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


def read_changes(spark, root: str, **options):
    """Convenience: register + batch-read the feed over ``root``."""
    register(spark)
    reader = spark.read.format("table_changes").option("path", root)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()
