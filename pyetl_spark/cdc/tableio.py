"""SnapshotTable — the engine's lake-table format (Iceberg contract, local impl).

The engine prefers real Iceberg when its runtime jars are present
(``pyetl_spark.session.iceberg_available``); this module provides the same
contract with zero external dependencies so tests and the sandbox bench run
anywhere:

- **immutable data files + manifest**: every snapshot version is a JSON
  manifest listing, per hash-bucket, the parquet files that make up the
  table. Files are never mutated; a MERGE writes new files only for the
  buckets it touches and re-references untouched buckets' files from the
  parent manifest — i.e. partition-pruned copy-on-write, which is what makes
  a 10^10-row table mergeable: cost ∝ touched buckets, not table size.
- **atomic commit**: the ``_current`` pointer file is swapped with
  ``os.replace`` after the manifest is fully written (single-writer, like
  Iceberg's catalog pointer swap). Readers resolve the pointer once and see
  one consistent snapshot.
- **exactly-once**: each manifest carries a committed-batch ledger
  (batch-id → version). Re-merging an already-committed batch id is a no-op
  — the idempotence guard for ``foreachBatch`` redelivery
  (reference analog: per-block DB transactions, traitement_db.py:782,
  and job-completion marker files, jobcontrol.py:1-44). The ledger is
  BOUNDED (VERDICT r04 finding #1): each commit retains only entries
  committed within the last ``ledger_keep`` versions (table prop, default
  128) plus a per-writer high-water mark ``batch_hwm`` for batch ids of the
  form ``<writer><seq>`` (the Delta ``txnAppId``/``txnVersion`` idempotent-
  write analog) — so manifest size and commit latency stay FLAT over a
  10^10-event stream instead of growing with stream age. The HWM advances
  only over a writer's CONTIGUOUS committed prefix (base 0 or 1), so
  skipping at ``seq <= hwm`` is exact even for out-of-order batch replays
  (gaps are tracked in the window until they fill). Writers with
  unparseable ids — or gaps still open at eviction — keep exactness inside
  the recent window; beyond it a re-merge is STATE-idempotent anyway (LWW
  max-_seq per key: stale events lose, and the change feed drops
  _seq-unchanged rows, so the replayed commit is empty).
- **schema evolution**: a MERGE whose delta carries new columns widens the
  table schema (union-with-nulls; Iceberg schema-merge analog;
  reference analog: schema fusion ``schema_io.py:18-43`` and
  ``diff_schema`` traitement_schema.py:599).
- **LWW + tombstones**: rows are stored with ``_seq`` (commit sequence) and
  ``_deleted``. A MERGE unions current+delta and keeps the max-_seq row per
  key, so late/out-of-order and replayed events can never regress the table
  (order-insensitive replay, SURVEY §2.9). Deletes persist as tombstones so
  a stale pre-delete event cannot resurrect a key; ``read()`` filters them.

- **two commit strategies** (Iceberg v1/v2 analog): copy-on-write (default)
  rewrites touched buckets so files hold one resolved row per key, and
  **merge-on-read** (``merge(mode="mor")`` / ``merge_mode`` table prop)
  appends the in-batch-deduped delta and defers cross-snapshot resolution
  to readers — commit cost ∝ batch, the shape a high-frequency tail needs.
  The explicit ``_seq`` ordering makes LWW associative, so the stored
  multi-version rows play the role of Iceberg's equality deletes and the
  two modes interleave freely with identical final state; ``compact()``
  folds unresolved (``dirty``) buckets back to one row per key.

Row bucketing uses ``pmod(xxhash64(key_cols), nbuckets)`` — recomputed from
the key columns on every write, never stored, so data files stay pure.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pyetl_spark.cdc.dedup import lww_dedup

SEQ = "_seq"
DELETED = "_deleted"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this merge's snapshot read and its
    commit attempt (Iceberg's optimistic-concurrency CommitFailedException
    analog). The merge's data files are orphaned, never referenced — safe to
    retry the merge or let snapshot expiry collect them."""


class ConstraintViolationError(RuntimeError):
    """A write batch (or, for :meth:`SnapshotTable.add_constraint`, the
    existing table state) carries rows that fail a CHECK constraint — the
    Delta ``DeltaInvariantViolationException`` analog. Raised BEFORE the
    manifest commit, so the table never exposes a violating row."""


def _constraint_flags(
    df: DataFrame, constraints: dict, schema_json: str | None
) -> tuple[DataFrame, list[tuple[str, str]]]:
    """``df`` plus one boolean violation flag per CHECK constraint, for
    UPSERT rows only (tombstones are exempt — a delete event carries no
    payload to validate). Stored-schema columns the delta doesn't carry
    evaluate as typed NULLs: a CDC upsert replaces the whole row, so a
    missing payload column IS null after the merge and the constraint must
    see it that way. Null-fails semantics (Delta CHECK analog): a row
    passes only when the expression evaluates to TRUE — so ``col IS NOT
    NULL`` is the NOT NULL constraint, and ``value > 0`` rejects null
    values too. Returns ``(frame, [(constraint_name, flag_col), ...])``."""
    from pyspark.sql.types import StructType

    have = set(df.columns)
    if schema_json:
        stored = StructType.fromJson(json.loads(schema_json))
        missing = {
            f.name: F.lit(None).cast(f.dataType)
            for f in stored.fields
            if f.name not in have and f.name not in (SEQ, DELETED)
        }
        if missing:
            df = df.withColumns(missing)
    flags: list[tuple[str, str]] = []
    for i, name in enumerate(sorted(constraints)):
        vc = f"__viol_{i}"
        passes = F.expr(constraints[name]).eqNullSafe(F.lit(True))
        df = df.withColumn(vc, (~F.col(DELETED)) & ~passes)
        flags.append((name, vc))
    return df, flags


def _raise_violations(counts: dict, batch_id) -> None:
    """Raise when any CHECK constraint counted violating rows (None-safe:
    an empty delta aggregates to null sums)."""
    bad = {n: int(c) for n, c in counts.items() if c}
    if bad:
        detail = ", ".join(f"{n} ({c} rows)" for n, c in sorted(bad.items()))
        raise ConstraintViolationError(
            f"batch {batch_id!r} violates CHECK constraints: {detail}; "
            "nothing was committed"
        )


def _parse_batch_id(batch_id: str) -> tuple[str, int | None]:
    """``(writer, seq)`` from a batch id ending in an integer — the forms
    every shipped writer uses: ``stream:17`` → ("stream:", 17), ``v3`` →
    ("v", 3), bare ``42`` → ("", 42). Ids with no trailing integer return
    ``(id, None)``: they get exact skipping only inside the retained ledger
    window (and LWW state-idempotence beyond it)."""
    m = re.fullmatch(r"(.*?)(\d+)", str(batch_id))
    if m is None:
        return str(batch_id), None
    return m.group(1), int(m.group(2))


def _bucket_col(keys: Sequence[str], nbuckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(nbuckets)).cast("int")


def _zorder_col(cols: Sequence[str], bounds: dict, nbits: int | None = None):
    """Z-order (Morton) clustering key over numeric columns — the Delta
    ``OPTIMIZE ZORDER BY`` / Iceberg sort-order analog for MULTI-column data
    skipping: linear sort localizes file min/max ranges only on the leading
    column, while bit-interleaved ranks localize every participating column
    at once, so :meth:`SnapshotTable.scan` prunes files on predicates over
    ANY of them.

    Ranks are equal-width over creator-declared ``bounds`` ([lo, hi] per
    column, the ``zorder_bounds`` table prop) — a plan-time constant, so the
    z-value is pure codegen'd column arithmetic and costs ZERO extra jobs
    per commit (no rank/percentile pass; Delta pays a range-partitioning
    job here). Out-of-range values clamp to the edge buckets and NULLs rank
    0 — clustering quality degrades gracefully, correctness never depends
    on it (scan() re-applies predicates to rows). ``nbits`` per column
    defaults to the max that fits 63 bits across all columns (16-bit cap:
    65k cells per axis is past file-level granularity already)."""
    n = len(cols)
    if n == 0:
        raise ValueError("zorder: need at least one column")
    nbits = min(16, 63 // n) if nbits is None else nbits
    top = (1 << nbits) - 1
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        lo, hi = (float(x) for x in bounds[c])
        span = (hi - lo) or 1.0
        rank = F.floor(
            (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * F.lit(float(top) + 1.0)
        ).cast("long")
        rank = F.coalesce(F.least(F.lit(top), F.greatest(F.lit(0), rank)), F.lit(0))
        # bit j of column ci lands at interleaved position j*n + (n-1-ci)
        for j in range(nbits):
            z = z + F.shiftleft(
                F.shiftright(rank, j).bitwiseAND(F.lit(1)), j * n + (n - 1 - ci)
            )
    return z


def _cluster_sort_cols(props: dict, columns: Sequence[str]) -> list:
    """Within-bucket clustering expression(s) for a write: the z-order key
    when the table declares ``zorder_cols`` (and the frame carries them
    all), else the linear ``stats_cols`` prefix sort, else nothing."""
    zcols = [c for c in props.get("zorder_cols") or []]
    if zcols and all(c in columns for c in zcols):
        return [_zorder_col(zcols, props.get("zorder_bounds") or {})]
    stats_cols = [c for c in props.get("stats_cols") or [] if c in columns]
    return [F.col(c) for c in stats_cols]


def _file_identity(p: str) -> str:
    """Root-relative file identity (version dir / bucket dir / filename) —
    stable across different spellings of the table root (see
    :meth:`SnapshotTable.expire_snapshots`)."""
    return "/".join(os.path.normpath(p).split(os.sep)[-3:])


def _footer_minmax(path: str, cols: Sequence[str]) -> dict:
    """Per-file ``{col: [min, max]}`` from the parquet FOOTER (driver-side
    metadata read, no data scan — the Iceberg per-data-file column metrics
    analog). A column maps to ``None`` (unprunable) when any row group
    lacks min/max stats or the values aren't JSON scalars (int/float/str;
    timestamps and NaN/Inf are excluded), and to ``"absent"`` when the file
    predates the column entirely (all rows null there — comparison
    predicates can never match, so the file is safely prunable). Parquet
    writers that truncate string stats must widen the bound (min prefix ≤
    true min, max prefix incremented), so pruning on them stays sound."""
    import math

    import pyarrow.parquet as pq

    def _bad(x) -> bool:
        if isinstance(x, bool) or not isinstance(x, (int, float, str)):
            return True
        return isinstance(x, float) and not math.isfinite(x)

    md = pq.ParquetFile(path).metadata
    want = set(cols)
    acc: dict = {}
    seen: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if name not in want:
                continue
            seen.add(name)
            if name in acc and acc[name] is None:
                continue
            st = c.statistics
            mn, mx = (
                (st.min, st.max) if st is not None and st.has_min_max else (None, None)
            )
            if isinstance(mn, bytes) or isinstance(mx, bytes):
                try:
                    mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                except (UnicodeDecodeError, AttributeError):
                    mn = mx = None
            if mn is None or mx is None or _bad(mn) or _bad(mx):
                acc[name] = None
            elif name in acc:
                acc[name] = [min(acc[name][0], mn), max(acc[name][1], mx)]
            else:
                acc[name] = [mn, mx]
    out = {c: (acc.get(c) if c in seen else "absent") for c in want}
    # per-file row count rides along for free (same footer read) — the
    # metadata tables (files_df/snapshots_df) expose it as record_count,
    # like Iceberg's per-data-file record_count metric. The dunder key can
    # never collide with a data column probed by _file_prunable.
    out["__rows"] = md.num_rows
    return out


def _collect_file_stats(spark: SparkSession, files: Sequence[str], cols: Sequence[str]) -> dict:
    """Per-file footer min/max for ``files``, collected EXECUTOR-side as one
    tiny metadata job (the Iceberg pattern: data-file metrics come from the
    write tasks, not a serial driver loop — VERDICT r04 finding #3). Result
    is ``{file_identity: {col: [min, max] | None | "absent"}}``; at a wide
    commit the footer reads parallelize across cores instead of serializing
    on the driver. RDD use is deliberate: this is metadata-plane work over a
    list of paths, not row data."""
    files = list(files)
    if not files:
        return {}
    cols = list(cols)
    sc = spark.sparkContext
    nslices = max(1, min(len(files), sc.defaultParallelism))
    return dict(
        sc.parallelize(files, nslices)
        .map(lambda f: (_file_identity(f), _footer_minmax(f, cols)))
        .collect()
    )


def _file_prunable(
    fstats: dict | None, filters: Sequence[tuple], variants: dict | None = None
) -> bool:
    """True iff the file's stats PROVE no row can satisfy the conjunctive
    ``(col, op, literal)`` filters. Missing/unknown stats always keep the
    file (pruning is an optimization, never a correctness lever).

    ``variants`` maps a logical column to its RETIRED physical names
    (rename aliases): a file's stats are keyed by the names current at its
    write, so a pre-rename file answers the probe under the old name —
    exactly one variant can exist per file, so the first hit is THE
    answer. Without the mapping such files merely stop pruning (kept =
    safe); with it, pruning effectiveness survives renames."""
    if not fstats:
        return False
    for c, op, v in filters:
        s = fstats.get(c, "__missing__")
        if s == "__missing__" and variants:
            for alt in variants.get(c, ()):
                s = fstats.get(alt, "__missing__")
                if s != "__missing__":
                    break
        if s == "absent":
            return True  # column never written in this file: all null
        if s is None or s == "__missing__":
            continue
        mn, mx = s
        try:
            if op == "=" and (v < mn or v > mx):
                return True
            if op == "in" and all(x < mn or x > mx for x in v):
                return True
            if op == "<" and not mn < v:
                return True
            if op == "<=" and not mn <= v:
                return True
            if op == ">" and not mx > v:
                return True
            if op == ">=" and not mx >= v:
                return True
        except TypeError:  # literal/stat type mismatch: keep the file
            continue
    return False


BLOOM_SUFFIX = ".bloom"


def _bloom_hash_pair(value) -> tuple[int, int]:
    """Two independent 64-bit hashes of the value's canonical ``str()``
    utf-8 encoding (one blake2b call, split) — the Kirsch–Mitzenmacher
    double-hash base. Build-time (executor, over parquet column values) and
    probe-time (driver, over the filter literal) MUST agree for equal
    values, which ``str()`` guarantees for the supported str/int columns;
    bit position ``i`` is ``(h1 + i*h2) mod m`` for any sidecar's ``m``."""
    import hashlib

    d = hashlib.blake2b(str(value).encode("utf-8"), digest_size=16).digest()
    return int.from_bytes(d[:8], "little"), int.from_bytes(d[8:], "little") | 1


def _bloom_might_contain(bits: bytes, m_bits: int, k: int, pair: tuple[int, int]) -> bool:
    h1, h2 = pair
    return all(
        bits[p >> 3] & (1 << (p & 7))
        for p in ((h1 + i * h2) % m_bits for i in range(k))
    )


def _write_file_blooms(
    spark: SparkSession, files: Sequence[str], cols: Sequence[str], m_bits: int, k: int
) -> int:
    """Per-data-file bloom-filter sidecars (``<file>.bloom`` JSON), built
    EXECUTOR-side as one parallel job over the just-written files — the
    Iceberg puffin-blob analog. Blooms give point-lookup file skipping on
    high-cardinality UNSORTED columns where min/max ranges span everything
    (a hash-bucketed key column is the canonical case); min/max handles the
    range predicates, blooms handle equality. Sidecars are immutable like
    the data files they describe, live NEXT to them (never in the manifest
    — a per-commit-rewritten manifest carrying per-file bitsets would grow
    with file count, the exact scale-killer the bounded ledger removed),
    and are garbage-collected with their data file by ``expire_snapshots``.
    Only string/integer columns build a bloom (canonical-encoding safety);
    other types record ``None`` (never pruned). A column absent from the
    file's schema records ``"absent"`` (all rows null there — equality can
    never match, so the file is safely prunable). Sizing: ``m_bits`` bits
    per column per file (``bloom_bits`` table prop, default 2^17 = 16 KiB)
    ≈ 1% false-positive at ~13k distinct values per file with k=7; deploys
    size it to ``10 × expected keys-per-file``."""
    files = [f for f in files if f]
    if not files or not cols:
        return 0
    cols = list(cols)
    sc = spark.sparkContext
    nslices = max(1, min(len(files), sc.defaultParallelism))

    def _one(path: str) -> int:
        import base64
        import json as _json

        import pyarrow as pa
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(path)
        names = set(pf.schema_arrow.names)
        present = [c for c in cols if c in names]
        tbl = pq.read_table(path, columns=present) if present else None
        out: dict = {"m": m_bits, "k": k, "cols": {}}
        for c in cols:
            if c not in names:
                out["cols"][c] = "absent"
                continue
            t = tbl.column(c).type
            if not (
                pa.types.is_string(t)
                or pa.types.is_large_string(t)
                or pa.types.is_integer(t)
            ):
                out["cols"][c] = None
                continue
            bits = bytearray(m_bits // 8)
            for v in tbl.column(c).to_pylist():
                if v is None:
                    continue
                h1, h2 = _bloom_hash_pair(v)
                for i in range(k):
                    p = (h1 + i * h2) % m_bits
                    bits[p >> 3] |= 1 << (p & 7)
            out["cols"][c] = base64.b64encode(bytes(bits)).decode("ascii")
        tmp = f"{path}{BLOOM_SUFFIX}.tmp"
        with open(tmp, "w") as fh:
            _json.dump(out, fh)
        os.replace(tmp, path + BLOOM_SUFFIX)
        return 1

    return sum(sc.parallelize(files, nslices).map(_one).collect())


def _bloom_keep_file(path: str, probes: Sequence[tuple]) -> bool:
    """True iff the file's bloom sidecar CANNOT rule out every required
    equality. ``probes`` is ``[(col, [hash_pair, ...]), ...]`` — one pair
    per ``=`` literal, several per ``in`` list (the file survives if ANY
    list member might be present). Missing sidecar/column bloom → keep
    (pruning is an optimization, never a correctness lever)."""
    import base64
    import json as _json

    sp = path + BLOOM_SUFFIX
    try:
        with open(sp) as fh:
            data = _json.load(fh)
    except (OSError, ValueError):
        return True
    m_bits, k = int(data["m"]), int(data["k"])
    for names, pairs in probes:
        # a sidecar keys its blooms by the names current at ITS write;
        # exactly one name variant can be present — first hit is the answer
        cols = data.get("cols", {})
        ent = next((cols[n] for n in names if n in cols), None)
        if ent == "absent":
            return False  # column never written in this file: all null
        if not isinstance(ent, str):
            continue
        bits = base64.b64decode(ent)
        if not any(_bloom_might_contain(bits, m_bits, k, pr) for pr in pairs):
            return False
    return True


def _bloom_prune(
    spark: SparkSession,
    files: Sequence[str],
    filters: Sequence[tuple],
    bloom_cols: set,
    variants: dict | None = None,
) -> list[str]:
    """Files from ``files`` that survive bloom pruning for the equality /
    in-list filters on ``bloom_cols``. Probe hashes are computed ONCE per
    literal on the driver; the per-file sidecar membership checks run as a
    parallel job when the candidate list is wide (driver loop for narrow
    ones — planning latency, not a data scan, either way). ``variants``
    extends each probe to a column's retired physical names (rename
    aliases) so pre-rename sidecars still answer."""
    probes = []
    for c, op, v in filters:
        if c not in bloom_cols:
            continue
        names = (c, *((variants or {}).get(c, ())))
        if op == "=":
            probes.append((names, [_bloom_hash_pair(v)]))
        elif op == "in":
            probes.append((names, [_bloom_hash_pair(x) for x in v]))
    if not probes or not files:
        return list(files)
    files = list(files)
    if len(files) <= 64:
        return [f for f in files if _bloom_keep_file(f, probes)]
    sc = spark.sparkContext
    nslices = max(1, min(len(files), sc.defaultParallelism))
    return (
        sc.parallelize(files, nslices)
        .filter(lambda f: _bloom_keep_file(f, probes))
        .collect()
    )


def _evolve_schema_json(
    stored_json: str | None, delta_schema, blocked: dict | None = None
) -> str:
    """Plan-time schema-merge for MOR commits: the stored union schema plus
    any NEW fields the delta introduces (Iceberg schema-merge analog —
    same result the COW path's ``unionByName(allowMissingColumns=True)``
    produces, without reading the base). Same-name type conflicts raise,
    exactly as the COW union would at analysis time.

    ``blocked`` maps RETIRED physical names (rename aliases + dropped
    columns) to a human reason. Introducing a new column under a retired
    name is refused: live data files (and retained history) still carry
    that physical name, and the by-name parquet read would resurrect the
    old values into the new column — the ambiguity Iceberg field ids
    exist to prevent. ``compact()`` (rewrites the old-named files) +
    ``expire_snapshots()`` (retires the manifests and frees the name via
    its registry prune) lift the block."""
    from pyspark.sql.types import StructType

    if not stored_json:
        return delta_schema.json()
    stored = StructType.fromJson(json.loads(stored_json))
    have = {f.name: f for f in stored.fields}
    out = list(stored.fields)
    for f in delta_schema.fields:
        cur = have.get(f.name)
        if cur is None and blocked and f.name in blocked:
            raise ValueError(
                f"cannot introduce column {f.name!r}: the name is retired "
                f"({blocked[f.name]}) and live files or retained history "
                "still carry it physically — run compact() then "
                "expire_snapshots() to free it, or pick a fresh name"
            )
        if cur is None:
            out.append(f)
        elif cur.dataType != f.dataType:
            raise ValueError(
                f"schema evolution type conflict on {f.name!r}: "
                f"table has {cur.dataType.simpleString()}, "
                f"delta has {f.dataType.simpleString()}"
            )
    return StructType(out).json()


def _write_json(path: str, obj) -> None:
    """write-fsync-rename: readers see the whole file or none of it."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _commit_record(m: dict) -> dict:
    """The part of a manifest that outlives it in the summary archive."""
    return {
        "version": m["version"],
        "parent": m.get("parent"),
        "committed_ts": float(m.get("committed_ts") or m.get("created_ts") or 0.0),
        "summary": m.get("summary") or {},
    }


@dataclass
class MergeStats:
    batch_id: str | None
    version: int
    events_in: int
    keys_after_dedup: int
    buckets_touched: int
    rows_written: int  # rows in the files the commit wrote
    skipped: bool = False
    wall_ms: int = 0
    mode: str = "cow"
    buckets_migrated: int = 0  # legacy-spec buckets folded in (rescale window)
    files_written: int = 0


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str, branch: str = "main"):
        self.spark = spark
        self.root = root
        self.branch_name = branch

    # ------------------------------------------------------------- lifecycle

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        keys: Sequence[str],
        nbuckets: int = 32,
        bucket_cols: Sequence[str] | None = None,
        props: dict | None = None,
    ) -> "SnapshotTable":
        """``bucket_cols`` (default: ``keys``) picks which key columns drive
        row bucketing. Must be a subset of ``keys`` — then same-key rows
        still land in one bucket (MERGE correctness: a key's stale copy can
        never survive in an untouched bucket), while readers that know only
        the bucket_cols prefix (e.g. a band-key registry probing its batch's
        buckets) get exact bucket-pruned reads via :meth:`bucket_ids`.

        ``props``: creator-owned table properties (Iceberg table properties
        analog) carried in every manifest — e.g. the banding parameters a
        near-dup registry was created with, so a reopen can refuse
        incompatible parameters instead of silently probing with band keys
        the stored history never used. Engine-interpreted LAYOUT props
        (stats/zorder/bloom/file-size/merge-mode — see
        ``_ALTERABLE_PROPS``) can later evolve via :meth:`alter_props`;
        everything else is immutable unless forced."""
        if bucket_cols is not None and not set(bucket_cols) <= set(keys):
            raise ValueError(f"bucket_cols {bucket_cols} must be a subset of keys {keys}")
        zcols = (props or {}).get("zorder_cols") or []
        if zcols:
            zb = (props or {}).get("zorder_bounds") or {}
            missing = [c for c in zcols if c not in zb or len(zb[c]) != 2]
            if missing:
                raise ValueError(
                    f"zorder_cols need [lo, hi] zorder_bounds; missing/invalid: {missing}"
                )
            unstatted = [c for c in zcols if c not in ((props or {}).get("stats_cols") or [])]
            if unstatted:
                raise ValueError(
                    "zorder_cols must also be in stats_cols (skipping needs the "
                    f"footer metrics): {unstatted}"
                )
        os.makedirs(os.path.join(root, "_versions"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        t = cls(spark, root)
        manifest = {
            "version": 0,
            "keys": list(keys),
            "bucket_cols": list(bucket_cols) if bucket_cols is not None else list(keys),
            "nbuckets": nbuckets,
            "props": dict(props) if props else {},
            "schema": None,
            "buckets": {},
            "committed_batches": {},
            "batch_hwm": {},
            "max_seq": -1,
            "parent": None,
            "created_ts": time.time(),
            "summary": {"operation": "create"},
        }
        t._write_manifest(manifest)
        t._swap_pointer(0)
        return t

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, "_current"))

    # ------------------------------------------------------------- manifests

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, "_versions", f"v{version:08d}.json")

    def _write_manifest(self, manifest: dict) -> None:
        _write_json(self._manifest_path(manifest["version"]), manifest)

    def _commit_manifest(self, manifest: dict) -> None:
        """Atomic commit arbitration (ADVICE r01): exclusively create the
        version's manifest file (O_EXCL). Two writers racing to the same next
        version cannot both succeed — the loser raises
        :class:`ConcurrentWriteError` and its data files stay unreferenced
        (retry-safe). This closes the check-then-act window a plain
        ``current_version()`` pre-check leaves open. Crash mid-write leaves a
        partial manifest that the pointer never references; recovery = delete
        manifests newer than the pointer."""
        path = self._manifest_path(manifest["version"])
        # write fully to a private tmp, fsync, then LINK to the final name:
        # os.link is atomic AND fails with EEXIST if the version was already
        # committed — one call gives both torn-write safety (a crash can
        # never leave a partial manifest at the final path) and the
        # concurrent-commit arbitration. The tmp name is unique PER ATTEMPT
        # (uuid, not just pid): two writers in one process (e.g. two
        # streaming queries merging into the same table) must not share a
        # tmp file, or the loser's open('w')/unlink could tear or remove the
        # winner's in-flight content (ADVICE r02).
        tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise ConcurrentWriteError(
                f"version {manifest['version']} already committed by a "
                "concurrent writer; retry against the new snapshot"
            ) from None
        finally:
            os.unlink(tmp)

    def _pointer_path(self, branch: str | None = None) -> str:
        b = self.branch_name if branch is None else branch
        if b == "main":
            return os.path.join(self.root, "_current")
        return self._ref_path("branch", b)

    def _swap_pointer(self, version: int) -> None:
        ptr = self._pointer_path()
        tmp = ptr + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, ptr)

    def _next_version(self, planned_against: int) -> int:
        """Next commit's version id: one past BOTH the snapshot this write was
        planned against and any manifest already on disk. After a rollback the
        rolled-past manifests still exist (retained history), so blindly using
        ``current+1`` would collide with — and under the old os.replace commit,
        silently clobber — a retained snapshot's manifest and data dir. Races
        on the same number are arbitrated by ``_commit_manifest``'s O_EXCL."""
        return max([planned_against, *self._retained_versions()]) + 1

    def current_version(self) -> int:
        with open(self._pointer_path()) as f:
            return int(f.read().strip())

    def manifest(self, version: int | None = None) -> dict:
        if version is None:
            version = self.current_version()
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    # ----------------------------------------------------------------- reads

    def _read_files(
        self,
        files: list[str],
        schema_json: str | None = None,
        aliases: dict | None = None,
        alias_files: dict | None = None,
    ) -> DataFrame | None:
        """Read data files. When the caller passes the manifest's stored
        schema the read is planned WITHOUT a schema-inference job (no
        footer-sniffing pass over the files — one fewer Spark job on every
        merge/read, and the job a 10^5-file table can least afford). The
        stored schema is always the union schema of every committed merge,
        so older files simply surface nulls for columns they predate —
        Spark's by-name parquet resolution, same result ``mergeSchema``
        would produce.

        ``aliases`` (manifest ``aliases``, set by :meth:`rename_column`) is
        the Iceberg field-id-mapping analog for a name-addressed layout:
        ``{retired_physical_name: current_logical_name}``. Files written
        before a rename physically carry the retired name, so the read
        schema is widened with the retired names (typed as their logical
        target — types are widening-only, never changed) and each logical
        column is ``coalesce(logical, *retired)`` — exact because any one
        file carries exactly ONE physical variant of a column (writes
        always use the names current at their commit), the others resolve
        to null. Downstream of this method the engine ONLY sees logical
        names; any rewrite (merge COW fold, compact) therefore re-writes
        data under the current names — rename migration rides the writes
        that touch the data, like the rescale window.

        The coalesce wrapper blocks parquet row-group predicate pushdown
        on the wrapped column, so it is applied PER RETIRED NAME only when
        one of the requested ``files`` is still on that name's taint list
        (manifest ``alias_files`` — the files that existed when the rename
        committed). A read of fully-rewritten buckets therefore plans
        exactly like a never-renamed table, even while the alias registry
        lingers until :meth:`expire_snapshots` frees it."""
        if not files:
            return None
        reader = self.spark.read
        if schema_json:
            from pyspark.sql.types import StructField, StructType

            stored = StructType.fromJson(json.loads(schema_json))
            variants: dict[str, list[str]] = {}
            read_fields = list(stored.fields)
            if aliases:
                want = {_file_identity(f) for f in files}
                types = {f.name: f.dataType for f in stored.fields}
                for old, new in aliases.items():
                    if new not in types or old in types:
                        continue
                    taint = (alias_files or {}).get(old)
                    if taint is not None and not want & set(taint):
                        continue  # none of these files can carry the name
                    read_fields.append(StructField(old, types[new], True))
                    variants.setdefault(new, []).append(old)
            df = reader.schema(StructType(read_fields)).parquet(*files)
            if variants:
                df = df.select(
                    *[
                        F.coalesce(
                            F.col(f.name), *[F.col(o) for o in variants[f.name]]
                        ).alias(f.name)
                        if f.name in variants
                        else F.col(f.name)
                        for f in stored.fields
                    ]
                )
            return df
        reader = reader.option("mergeSchema", "true")
        return reader.parquet(*files)

    def read_raw(
        self,
        version: int | None = None,
        buckets: Sequence[int] | None = None,
        include_legacy: bool = True,
    ) -> DataFrame | None:
        """All stored rows (incl. tombstones, ``_seq``/``_deleted``).

        During a rescale window (manifest ``legacy`` non-empty) rows not yet
        migrated to the current bucket spec live in legacy-spec files; they
        are included (and, for a bucket-pruned read, row-filtered by their
        RECOMPUTED current-spec bucket id, so the slice stays exact — the
        transient cost is reading the un-migrated files, which every merge
        and the next ``compact()`` shrink). ``include_legacy=False`` is for
        ``merge()``, which reads whole legacy buckets separately to migrate
        them."""
        m = self.manifest(version)
        items = m["buckets"].items()
        if buckets is not None:
            want = {str(b) for b in buckets}
            items = [(b, fs) for b, fs in items if b in want]
        files = [f for _, fs in items for f in fs]
        cur = self._read_files(files, schema_json=m.get("schema"), aliases=m.get("aliases"), alias_files=m.get("alias_files"))
        legacy = m.get("legacy") or [] if include_legacy else []
        lfiles = [f for sp in legacy for fs in sp["buckets"].values() for f in fs]
        if not lfiles:
            return cur
        lg = self._read_files(lfiles, schema_json=m.get("schema"), aliases=m.get("aliases"), alias_files=m.get("alias_files"))
        if buckets is not None and lg is not None:
            bcols = m.get("bucket_cols", m["keys"])
            lg = lg.filter(
                _bucket_col(bcols, m["nbuckets"]).isin([int(b) for b in buckets])
            )
        if cur is None:
            return lg
        return cur if lg is None else cur.unionByName(lg)

    def resolved_raw(
        self, version: int | None = None, buckets: Sequence[int] | None = None
    ) -> DataFrame | None:
        """One LWW-resolved row per key, envelope (``_seq``/``_deleted``)
        retained. For a fully-compacted table this IS ``read_raw`` (data
        files already hold one row per key); buckets carrying merge-on-read
        appends (manifest ``dirty``) get a read-time max-``_seq`` aggregate
        — and ONLY those buckets are shuffled, clean buckets stream through
        untouched, so the MOR read tax is ∝ unresolved data, not table
        size."""
        m = self.manifest(version)
        if buckets is not None:
            sel = {str(b) for b in buckets}
        else:
            sel = set(m["buckets"])
            if m.get("legacy"):
                # rescale window: un-migrated rows can recompute into
                # current-spec ids with no current files yet — cover them
                sel |= {str(b) for b in range(m["nbuckets"])}
        dirty = sorted(set(m.get("dirty") or []) & sel)
        if not dirty:
            return self.read_raw(version, buckets=buckets)
        clean = sorted(sel - set(dirty))
        parts = []
        clean_raw = self.read_raw(version, buckets=[int(b) for b in clean])
        if clean_raw is not None:
            parts.append(clean_raw)
        dirty_raw = self.read_raw(version, buckets=[int(b) for b in dirty])
        if dirty_raw is not None:
            parts.append(lww_dedup(dirty_raw, keys=m["keys"], seq=SEQ))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(
        self, version: int | None = None, buckets: Sequence[int] | None = None
    ) -> DataFrame:
        """Visible table state (tombstones filtered, CDC envelope dropped).
        ``buckets`` restricts the scan to those bucket ids (see
        :meth:`bucket_ids`) — cost ∝ the slice, not the table."""
        raw = self.resolved_raw(version, buckets=buckets)
        if raw is None:
            m = self.manifest(version)
            if m["schema"]:  # stored as StructType.json() after the first merge
                from pyspark.sql.types import StructType

                schema = StructType.fromJson(json.loads(m["schema"]))
                empty = self.spark.createDataFrame([], schema)
                return empty.drop(SEQ, DELETED)
            return self.spark.createDataFrame(
                [], ", ".join(f"{k} string" for k in m["keys"])
            )
        return raw.filter(~F.col(DELETED)).drop(SEQ, DELETED)

    def scan(
        self,
        filters: Sequence[tuple],
        version: int | None = None,
        buckets: Sequence[int] | None = None,
    ) -> DataFrame:
        """Data-skipping read (Iceberg metrics-based file pruning analog):
        visible table state matching ALL ``filters`` — conjunctive
        ``(col, op, literal)`` with ``op ∈ {=, <, <=, >, >=, in}`` (``in``
        takes a list literal: a batched point lookup) — reading only the
        data files whose footer min/max ranges — and, for tables created
        with ``props={"bloom_cols": [...]}``, whose per-file bloom sidecars
        (see :func:`_write_file_blooms`) — can satisfy them.

        Files carry stats when the table was created with
        ``props={"stats_cols": [...]}``: every MERGE/compact then sorts
        rows by those columns within each bucket (clustering, so file
        ranges are narrow) and records per-file min/max from the parquet
        footers in the manifest. Stats-less files are always read — the
        predicate is ALSO applied to the rows, so results are identical
        with or without pruning; stats only cut I/O. At 10^10 rows the
        hash-bucket layout spreads every key range across all buckets, so
        WITHIN-bucket clustering + file-level skipping is what turns a
        range query from a full-table read into ~(selectivity × table)
        I/O — the same two-level layout (partition → file metrics) Iceberg
        uses. ``self.last_scan`` records files_total/files_read/pruned for
        observability (per-partition lineage discipline)."""
        import operator as _op

        ops = {"=": _op.eq, "<": _op.lt, "<=": _op.le, ">": _op.gt, ">=": _op.ge}
        for c, op, _ in filters:
            if op not in ops and op != "in":
                raise ValueError(f"scan: unsupported op {op!r} on {c!r}")
        m = self.manifest(version)
        stats = m.get("file_stats") or {}
        items = list(m["buckets"].items())
        if buckets is not None:
            want = {str(b) for b in buckets}
            items = [(b, fs) for b, fs in items if b in want]
        # merge-on-read buckets (manifest ``dirty``) are NOT file-prunable:
        # a superseded row version could satisfy the predicate while its
        # max-_seq winner lives in a file the stats would prune — so dirty
        # buckets are read whole and LWW-resolved first, and skipping
        # applies only to resolved (clean) buckets. compact() restores full
        # prunability; stats still cut I/O on the clean rest of the table.
        dirty = set(m.get("dirty") or [])
        clean_files = [f for b, fs in items if b not in dirty for f in fs]
        dirty_files = [f for b, fs in items if b in dirty for f in fs]
        # rename aliases: pre-rename files carry stats/blooms under their
        # old physical names — probe those too (logical → retired variants)
        variants: dict[str, list[str]] = {}
        for _old, _new in (m.get("aliases") or {}).items():
            variants.setdefault(_new, []).append(_old)
        # rescale window: un-migrated legacy-spec files are clean
        # (single-version rows) and identity-keyed like any other file, so
        # min/max and bloom pruning apply to them unchanged; they are read
        # separately only so a bucket-pruned scan can row-filter them by
        # the recomputed current-spec bucket id
        legacy_files = [
            f
            for sp in m.get("legacy") or []
            for fs in sp["buckets"].values()
            for f in fs
        ]
        kept = [
            f
            for f in clean_files
            if not _file_prunable(stats.get(_file_identity(f)), filters, variants)
        ]
        legacy_kept = [
            f
            for f in legacy_files
            if not _file_prunable(stats.get(_file_identity(f)), filters, variants)
        ]
        # second pruning pass: per-file bloom sidecars rule out equality /
        # in-list probes that min/max ranges can't (high-cardinality
        # unsorted columns); applies only to files that survived min/max
        bloom_cols = {c for c in (m.get("props") or {}).get("bloom_cols") or []}
        n_minmax_kept = len(kept) + len(legacy_kept)
        if bloom_cols:
            kept = _bloom_prune(self.spark, kept, filters, bloom_cols, variants)
            legacy_kept = _bloom_prune(
                self.spark, legacy_kept, filters, bloom_cols, variants
            )
        n_clean = len(clean_files) + len(legacy_files)
        n_kept = len(kept) + len(legacy_kept)
        self.last_scan = {
            "files_total": n_clean + len(dirty_files),
            "files_read": n_kept + len(dirty_files),
            "files_pruned": n_clean - n_kept,
            "files_bloom_pruned": n_minmax_kept - n_kept,
        }
        raw = self._read_files(kept, schema_json=m.get("schema"), aliases=m.get("aliases"), alias_files=m.get("alias_files"))
        legacy_raw = self._read_files(legacy_kept, schema_json=m.get("schema"), aliases=m.get("aliases"), alias_files=m.get("alias_files"))
        if legacy_raw is not None:
            if buckets is not None:
                bcols = m.get("bucket_cols", m["keys"])
                legacy_raw = legacy_raw.filter(
                    _bucket_col(bcols, m["nbuckets"]).isin([int(b) for b in buckets])
                )
            raw = legacy_raw if raw is None else raw.unionByName(legacy_raw)
        dirty_raw = self._read_files(dirty_files, schema_json=m.get("schema"), aliases=m.get("aliases"), alias_files=m.get("alias_files"))
        if dirty_raw is not None:
            resolved = lww_dedup(dirty_raw, keys=m["keys"], seq=SEQ)
            raw = resolved if raw is None else raw.unionByName(resolved)
        if raw is None:
            # nothing left to read: reuse read()'s empty-frame schema path
            out = self.read(version, buckets=[])
        else:
            out = raw.filter(~F.col(DELETED)).drop(SEQ, DELETED)
        for c, op, v in filters:
            if c not in out.columns:  # pruned-away evolved column: no match
                out = out.filter(F.lit(False))
            elif op == "in":
                out = out.filter(F.col(c).isin(list(v)))
            else:
                out = out.filter(ops[op](F.col(c), F.lit(v)))
        return out

    def bucket_ids(self, df: DataFrame) -> list[int]:
        """bucket ids the rows of ``df`` hash into (df must carry the
        table's bucket_cols) — ≤nbuckets ints, one distinct + tiny collect.
        Feed to ``read(buckets=...)`` for a bucket-pruned probe."""
        m = self.manifest()
        bcols = m.get("bucket_cols", m["keys"])
        col = _bucket_col(bcols, m["nbuckets"])
        return [r["__b"] for r in df.select(col.alias("__b")).distinct().collect()]

    def committed_batches(self) -> dict[str, int]:
        """The RETAINED ledger window (batch id → committed version): entries
        older than ``ledger_keep`` versions (prop, default 128) are compacted
        away at commit time; use :meth:`is_committed` for the full
        idempotence check (window + per-writer high-water mark)."""
        return self.manifest()["committed_batches"]

    def batch_hwm(self) -> dict[str, int]:
        """Per-writer high-water marks (writer prefix → top of the writer's
        contiguous committed seq prefix) for batch ids of the form
        ``<writer><seq>`` — survives ledger compaction, O(writers) not
        O(commits)."""
        return self.manifest().get("batch_hwm", {})

    def is_committed(self, batch_id: str, manifest: dict | None = None) -> bool:
        """True iff this batch id is known committed: in the retained ledger
        window, or at-or-below its writer's high-water mark (exact: the HWM
        only covers the writer's contiguous committed prefix — Delta
        txnAppId/txnVersion semantics)."""
        m = manifest if manifest is not None else self.manifest()
        sid = str(batch_id)
        if sid in m["committed_batches"]:
            return True
        writer, seq = _parse_batch_id(sid)
        return seq is not None and seq <= m.get("batch_hwm", {}).get(writer, -1)

    def props(self) -> dict:
        """creator-owned table properties (empty for pre-props tables)."""
        return self.manifest().get("props", {})

    def dirty_buckets(self, version: int | None = None) -> list[int]:
        """Buckets carrying unresolved merge-on-read appends at ``version``
        (readers LWW-resolve them; ``compact()`` clears them)."""
        return sorted(int(b) for b in self.manifest(version).get("dirty") or [])

    # -------------------------------------------------------- metadata tables
    #
    # Iceberg metadata-table analogs (`table$history` / `$snapshots` /
    # `$files` / `$refs`): the table's own commit history, per-snapshot
    # summaries, and per-data-file layout exposed AS DataFrames, so lake
    # observability is queryable with the same engine as the data. All four
    # are built from the retained manifests — driver-side JSON metadata,
    # O(versions + files) tiny rows, never a data-file read. Reference
    # analog: pyetl's compteur/statistics reporting surface
    # (moteur/compteurs.py) recast as lake-level inspection.

    def _retained_versions(self) -> list[int]:
        return sorted(
            int(f[1:-5])
            for f in os.listdir(os.path.join(self.root, "_versions"))
            if f.startswith("v") and f.endswith(".json")
        )

    def _current_ancestors(self) -> set[int]:
        """Versions on the current pointer's parent chain (a rollback can
        leave retained versions OFF the chain — Iceberg history keeps an
        ``is_current_ancestor`` flag for exactly this)."""
        anc: set[int] = set()
        v: int | None = self.current_version()
        while v is not None and os.path.exists(self._manifest_path(v)):
            anc.add(v)
            v = self.manifest(v).get("parent")
        return anc

    def commit_summaries(self) -> list[dict]:
        """``{version, parent, committed_ts, summary}`` per commit, sorted by
        version: every retained manifest plus the records
        :meth:`expire_snapshots` archived before unlinking theirs. A crash
        between archiving and unlinking leaves a version in both places;
        the manifest wins, so each version appears once."""
        out = {}
        adir = os.path.join(self.root, "_summary_archive")
        if os.path.isdir(adir):
            for f in sorted(os.listdir(adir)):
                if f.endswith(".json"):
                    with open(os.path.join(adir, f)) as fh:
                        out.update((r["version"], r) for r in json.load(fh))
        for v in self._retained_versions():
            out[v] = _commit_record(self.manifest(v))
        return [out[v] for v in sorted(out)]

    def history_df(self) -> DataFrame:
        """One row per retained version: the commit log (`table$history`)."""
        anc = self._current_ancestors()
        cur = self.current_version()
        rows = []
        for v in self._retained_versions():
            m = self.manifest(v)
            s = m.get("summary") or {}
            rows.append(
                (
                    v,
                    m.get("parent"),
                    float(m.get("committed_ts") or m.get("created_ts") or 0.0),
                    s.get("operation"),
                    s.get("batch_id"),
                    v in anc,
                    v == cur,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version INT, parent INT, committed_ts DOUBLE, operation STRING, "
            "batch_id STRING, is_current_ancestor BOOLEAN, is_current BOOLEAN",
        )

    def _live_files(self, m: dict) -> list[tuple[str, int, str, int]]:
        """(path, bucket, spec, spec_nbuckets) for every file ``m`` references."""
        out = [
            (f, int(b), "current", int(m["nbuckets"]))
            for b, fs in m["buckets"].items()
            for f in fs
        ]
        for sp in m.get("legacy") or []:
            out += [
                (f, int(b), "legacy", int(sp["nbuckets"]))
                for b, fs in sp["buckets"].items()
                for f in fs
            ]
        return out

    def snapshots_df(self) -> DataFrame:
        """One row per retained version with its summary + aggregate file
        metrics (`table$snapshots`). ``total_records`` is the sum of per-file
        footer row counts and is NULL when any live file predates stats
        tracking (``stats_cols`` / ``track_counts`` props). Summaries
        written before ``files_written`` existed stored the file count as
        ``rows_written``; they read as ``files_written`` with NULL rows."""
        rows = []
        for v in self._retained_versions():
            m = self.manifest(v)
            s = m.get("summary") or {}
            stats = m.get("file_stats") or {}
            files = self._live_files(m)
            counts = [
                (stats.get(_file_identity(f)) or {}).get("__rows") for f, *_ in files
            ]
            total = sum(counts) if counts and all(c is not None for c in counts) else (
                0 if not files else None
            )
            old = "rows_written" in s and "files_written" not in s
            rows.append(
                (
                    v,
                    s.get("operation"),
                    float(m.get("committed_ts") or m.get("created_ts") or 0.0),
                    s.get("batch_id"),
                    s.get("mode"),
                    len(files),
                    total,
                    None if old else s.get("rows_written"),
                    s.get("rows_written" if old else "files_written"),
                    s.get("events_in"),
                    s.get("buckets_touched"),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version INT, operation STRING, committed_ts DOUBLE, batch_id STRING, "
            "mode STRING, data_files INT, total_records LONG, rows_written LONG, "
            "files_written INT, events_in LONG, buckets_touched INT",
        )

    def files_df(self, version: int | None = None) -> DataFrame:
        """One row per live data file at ``version`` (`table$files`):
        bucket, spec, record count, and the footer min/max metrics as a
        JSON column (NULL where stats were never collected)."""
        m = self.manifest(version)
        stats = m.get("file_stats") or {}
        dirty = {str(b) for b in m.get("dirty") or []}
        rows = []
        for f, b, spec, spec_n in self._live_files(m):
            fs = stats.get(_file_identity(f))
            rc = (fs or {}).get("__rows")
            cs = {c: s for c, s in (fs or {}).items() if c != "__rows"}
            rows.append(
                (
                    f,
                    b,
                    spec,
                    spec_n,
                    str(b) in dirty and spec == "current",
                    rc,
                    json.dumps(cs, sort_keys=True) if fs else None,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "file_path STRING, bucket INT, spec STRING, spec_nbuckets INT, "
            "is_dirty BOOLEAN, record_count LONG, column_stats STRING",
        )

    def refs_df(self) -> DataFrame:
        """Named refs (`table$refs`): every branch and tag with its pinned
        version; ``main`` is the root pointer itself."""
        rows = [("main", "branch", SnapshotTable(self.spark, self.root).current_version())]
        rows += [(n, "branch", v) for n, v in self._refs("branch").items()]
        rows += [(n, "tag", v) for n, v in self._refs("tag").items()]
        return self.spark.createDataFrame(rows, "name STRING, kind STRING, version INT")

    # --------------------------------------------------------- branches/tags
    #
    # Iceberg branch/tag refs recast on the pointer-file catalog: a BRANCH is
    # an independently-advancing pointer (merges through a branch handle move
    # only that pointer; manifests stay one immutable global parent-chain, so
    # histories are shared and publish is a pointer swap), a TAG is an
    # immutable named version. Together they give write-audit-publish (WAP):
    # stage commits on a branch, audit the branch head, then publish —
    # readers of main never see unaudited data, and a failed audit is
    # dropped without touching main. Reference analog: the job-control
    # staging discipline (jobcontrol.py:1-44 marker files) and `fichier_schema`
    # versioned schema snapshots (schema_io.py).

    def _ref_path(self, kind: str, name: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9._-]{1,64}", name):
            raise ValueError(f"bad {kind} name {name!r}")
        return os.path.join(self.root, "_refs", f"{kind}_{name}")

    def _refs(self, kind: str) -> dict[str, int]:
        d = os.path.join(self.root, "_refs")
        if not os.path.isdir(d):
            return {}
        out = {}
        for f in sorted(os.listdir(d)):
            if f.startswith(f"{kind}_") and not f.endswith(".tmp"):
                with open(os.path.join(d, f)) as fh:
                    out[f[len(kind) + 1 :]] = int(fh.read().strip())
        return out

    def create_branch(self, name: str, at_version: int | None = None) -> "SnapshotTable":
        """Fork an independently-advancing pointer at ``at_version``
        (default: this handle's head) and return a handle bound to it."""
        if name == "main":
            raise ValueError("'main' is the table itself")
        p = self._ref_path("branch", name)
        if os.path.exists(p):
            raise ValueError(f"branch {name!r} already exists")
        v = self.current_version() if at_version is None else at_version
        if not os.path.exists(self._manifest_path(v)):
            raise ValueError(f"version {v} not retained (expired or never existed)")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = f"{p}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(v))
        try:
            os.link(tmp, p)  # O_EXCL: two concurrent creates → one winner
        except FileExistsError:
            raise ValueError(f"branch {name!r} already exists") from None
        finally:
            os.unlink(tmp)
        return self.branch(name)

    def branch(self, name: str) -> "SnapshotTable":
        """Handle bound to an existing branch (same root, own pointer)."""
        if name != "main" and not os.path.exists(self._ref_path("branch", name)):
            raise ValueError(f"branch {name!r} does not exist")
        return SnapshotTable(self.spark, self.root, branch=name)

    def branches(self) -> dict[str, int]:
        return self._refs("branch")

    def drop_branch(self, name: str) -> None:
        os.unlink(self._ref_path("branch", name))

    def publish(self, name: str) -> int:
        """WAP publish: fast-forward THIS handle's pointer to the branch
        head and drop the branch. Refused unless this pointer's version is
        an ancestor of the branch head (a diverged branch cannot silently
        discard commits on this side; Iceberg fast_forward semantics) —
        rollback this side or re-stage the branch instead. The branch
        head's manifest carries its batch ledger with it, so events
        committed on the branch stay exactly-once after publish."""
        with open(self._ref_path("branch", name)) as f:
            head = int(f.read().strip())
        cur = self.current_version()
        if cur != head:
            self._lineage(cur, head)  # raises unless cur is an ancestor
            self._swap_pointer(head)
        self.drop_branch(name)
        return head

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Immutable named version (Iceberg tag): survives snapshot expiry
        and resolves for time-travel reads via :meth:`tag_version`."""
        p = self._ref_path("tag", name)
        v = self.current_version() if version is None else version
        if not os.path.exists(self._manifest_path(v)):
            raise ValueError(f"version {v} not retained (expired or never existed)")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = f"{p}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(v))
        try:
            os.link(tmp, p)
        except FileExistsError:
            raise ValueError(f"tag {name!r} already exists") from None
        finally:
            os.unlink(tmp)
        return v

    def tags(self) -> dict[str, int]:
        return self._refs("tag")

    def tag_version(self, name: str) -> int:
        with open(self._ref_path("tag", name)) as f:
            return int(f.read().strip())

    def drop_tag(self, name: str) -> None:
        os.unlink(self._ref_path("tag", name))

    def max_seq(self) -> int:
        """Highest applied commit sequence — the reference's ``dbmaxval``
        incremental watermark (traitement_db.py:848-885)."""
        return self._seq_watermark(self.manifest())

    def _seq_watermark(self, m: dict) -> int:
        """``m``'s ``max_seq`` key: every merge stores ``max(parent, batch)``
        and every other commit copies it forward. Manifests written before
        the key existed fall back to a scan of their files."""
        if "max_seq" in m:
            return m["max_seq"]
        raw = self.read_raw(version=m["version"])
        if raw is None:
            return -1
        row = raw.agg(F.max(SEQ).alias("m")).first()
        return row["m"] if row["m"] is not None else -1

    def delete_where(
        self, filters: Sequence[tuple], batch_id: str | None = None
    ) -> MergeStats:
        """Row-level DELETE by predicate — the Iceberg/Delta ``DELETE FROM t
        WHERE ...`` analog, and the GDPR-erasure / retention-sweep primitive
        a 10^10-row lake needs as a first-class op. ``filters`` is the same
        conjunctive ``(col, op, literal)`` grammar as :meth:`scan`, so
        file-level min/max + bloom pruning bound the read to ~the matching
        files.

        Plans as: data-skipping scan for the matching VISIBLE rows → project
        the key columns → tombstone delta at ``max_seq()+1`` (one past every
        stored row, so the delete wins LWW over anything already applied;
        late stale events still lose to the tombstone) → the normal MERGE —
        bucket-pruned, exactly-once under ``batch_id``, ``changes()`` emits
        the ``delete`` rows, time travel still sees the pre-delete versions
        until :meth:`expire_snapshots` retires them (complete the erasure
        with ``expire_snapshots`` + ``compact`` — tombstoned content leaves
        the live files at the delete, and history at expiry)."""
        m = self.manifest()
        if not m.get("schema"):
            # nothing was ever written at this version (e.g. fresh table, or
            # rolled back to the empty root): no row can match, and merging
            # the schema-less fallback frame would poison the stored schema
            # with placeholder string key types
            return MergeStats(batch_id, m["version"], 0, 0, 0, 0, skipped=True)
        matches = self.scan(filters).select(*m["keys"])
        seq = self.max_seq() + 1
        delta = matches.withColumn("op", F.lit("delete")).withColumn(
            "seq", F.lit(seq).cast("long")
        )
        return self.merge(delta, batch_id=batch_id, operation="delete")

    def update_where(
        self,
        set_exprs: dict[str, str],
        filters: Sequence[tuple],
        batch_id: str | None = None,
    ) -> MergeStats:
        """Row-level UPDATE by predicate — the Iceberg/Delta ``UPDATE t SET
        col = expr WHERE ...`` analog, completing the DML triad with
        :meth:`delete_where` and :meth:`merge_into` (reference analog:
        pyetl's keyed ``maj:`` UPDATE load mode, traitement_db.py —
        there a per-row DB statement, here one bucket-pruned MERGE).

        ``set_exprs`` maps payload column → a Spark SQL expression over the
        CURRENT row's columns (``value + 10``, ``upper(event_type)``); an
        expression for a column the table doesn't have yet ADDS it through
        the normal widening-only schema evolution. Key columns cannot be
        assigned — an UPDATE that moves a row's identity is a delete plus
        an insert, which is :meth:`merge_into`'s job.

        Plans exactly like :meth:`delete_where`: data-skipping scan for the
        matching VISIBLE rows (file-level min/max + bloom pruning bound the
        read), apply the assignments, re-emit as an upsert delta sequenced
        one past ``max_seq()`` (so the update wins LWW over everything
        stored, and late stale events still lose to it), then the normal
        MERGE — bucket-pruned, exactly-once under ``batch_id``, visible to
        ``changes()`` as update pre/post-image pairs, pre-update state
        reachable by time travel until expiry."""
        m = self.manifest()
        bad = [c for c in set_exprs if c in m["keys"]]
        if bad:
            raise ValueError(
                f"update_where cannot assign key columns {bad} — changing a "
                "row's identity is a delete+insert (use merge_into)"
            )
        if not m.get("schema"):
            # empty-root guard: see delete_where — no row can match, and the
            # fallback frame's placeholder types must not enter the schema
            return MergeStats(batch_id, m["version"], 0, 0, 0, 0, skipped=True)
        matches = self.scan(filters)
        seq = self.max_seq() + 1
        # assignments to EXISTING columns cast to the stored type (Delta's
        # implicit-cast UPDATE semantics — `SET x = 0` on a bigint column
        # must not narrow the table schema to int)
        updated = matches.select(
            *[
                F.expr(set_exprs[c]).cast(matches.schema[c].dataType).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in matches.columns
            ],
            *[
                F.expr(e).alias(c)
                for c, e in set_exprs.items()
                if c not in matches.columns
            ],
        )
        delta = updated.withColumn("op", F.lit("upsert")).withColumn(
            "seq", F.lit(seq).cast("long")
        )
        return self.merge(delta, batch_id=batch_id, operation="update")

    def merge_into(
        self,
        source: DataFrame,
        *,
        when_matched_update: dict[str, str] | str | None = None,
        matched_condition: str | None = None,
        when_matched_delete: str | bool | None = None,
        when_not_matched_insert: dict[str, str] | str | None = "*",
        not_matched_condition: str | None = None,
        batch_id: str | None = None,
        validate_source: bool = True,
    ) -> MergeStats:
        """General conditional MERGE — the Delta/Iceberg ``MERGE INTO t
        USING s ON t.keys = s.keys WHEN MATCHED [AND cond] THEN UPDATE SET
        ... / DELETE WHEN NOT MATCHED [AND cond] THEN INSERT ...`` analog,
        and the engine's recast of pyetl's update-vs-insert load modes
        (``maj:`` keyed UPDATE vs plain INSERT writers, traitement_db.py
        update/insert command split). :meth:`merge` is the LWW fast path
        for CDC event streams; ``merge_into`` is the arbitrary-business-
        logic upsert a lake user writes by hand.

        ``source`` must be unique on the table keys (checked with one
        batch-proportional aggregate when ``validate_source``; Delta raises
        on multiple matches the same way). Clause grammar: assignment dicts
        map payload column → a Spark SQL expression over ``t.<col>`` (the
        stored row) and ``s.<col>`` (the source row); ``"*"`` assigns every
        source payload column from ``s``. Conditions are SQL boolean
        expressions over the same aliases. Per source row, clauses apply in
        the fixed order: matched → delete (if its condition holds) else
        update (if its condition holds) else leave the stored row untouched;
        unmatched → insert (if its condition holds) else drop. Key columns
        join with plain equality, so NULL keys never match (SQL semantics).

        Plan shape (what survives 100×): the source's bucket ids are one
        ≤nbuckets-row collect; ONLY those buckets' resolved state is read
        back (rescale-window legacy rows included row-filtered, MOR dirty
        buckets LWW-resolved) and LEFT-joined under AQE. The preserved
        (source) side of an outer join can never be the broadcast build
        side, but bucket pruning makes the STATE slice ∝ the source's
        bucket coverage — a small source therefore yields a broadcast of
        the pruned state (verified plan: BroadcastHashJoin LeftOuter
        BuildRight) and a large source shuffles both sides on the keys,
        the right shape either way. Emitted
        rows are sequenced one past the touched buckets' max ``_seq`` (a
        key's rows can only live in its own bucket, so the bucket-pruned
        max is sufficient — no full-table pass) and fed through the normal
        :meth:`merge`, which is what makes the clause layer inherit the
        batch ledger (exactly-once), schema evolution (a source-only
        column widens the table), the change feed, time travel, file
        stats/blooms and both commit modes for free. Cost ∝ touched
        buckets + source, never table size. Unmatched STORED rows are
        never read into the join at all — they survive via merge()'s
        union-with-current, so ``WHEN NOT MATCHED BY SOURCE`` (which would
        force a full state read) is deliberately not offered; use
        :meth:`delete_where` for retention sweeps."""
        m = self.manifest()
        keys = m["keys"]
        if batch_id is not None and self.is_committed(batch_id, manifest=m):
            return MergeStats(batch_id, m["version"], 0, 0, 0, 0, skipped=True)
        missing = [k for k in keys if k not in source.columns]
        if missing:
            raise ValueError(f"merge_into: source lacks key columns {missing}")
        has_update = when_matched_update is not None
        has_delete = when_matched_delete not in (None, False)
        has_insert = when_not_matched_insert is not None
        if not (has_update or has_delete or has_insert):
            raise ValueError("merge_into: no clauses given")

        if validate_source:
            dup = (
                source.groupBy(*keys)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    "merge_into: source is not unique on the table keys "
                    f"(e.g. {tuple(dup[0][k] for k in keys)}); pre-aggregate "
                    "it (lww_dedup) or pass validate_source=False at your "
                    "own risk"
                )

        touched = self.bucket_ids(source.select(*keys))
        env = self.resolved_raw(buckets=touched)
        if env is None:
            next_seq = 0
            state = self.read(buckets=touched)  # empty frame, stored schema
            # a never-merged (or rolled-back-to-create) table stores no
            # schema, so the empty frame is keys-only — pad the source's
            # payload columns in as typed nulls so clause expressions over
            # t.<col> still analyze (they never fire: nothing can match)
            for f in source.schema.fields:
                if f.name not in state.columns:
                    state = state.withColumn(f.name, F.lit(None).cast(f.dataType))
        else:
            row = env.agg(F.max(SEQ).alias("m")).first()
            next_seq = (row["m"] if row["m"] is not None else -1) + 1
            state = env.filter(~F.col(DELETED)).drop(SEQ, DELETED)

        s_payload = [c for c in source.columns if c not in keys]
        t_payload = [c for c in state.columns if c not in keys]
        payload = t_payload + [c for c in s_payload if c not in t_payload]

        def _assigns(spec) -> dict[str, str]:
            if spec == "*":
                return {c: f"s.{c}" for c in s_payload}
            return dict(spec or {})

        upd = _assigns(when_matched_update) if has_update else {}
        ins = _assigns(when_not_matched_insert) if has_insert else {}
        bad = [c for c in list(upd) + list(ins) if c in keys]
        if bad:
            raise ValueError(f"merge_into: cannot assign key columns {bad}")

        t = state.withColumn("__tm", F.lit(True)).alias("t")
        s = source.alias("s")
        on = [F.col(f"s.{k}") == F.col(f"t.{k}") for k in keys]
        j = s.join(t, on=on, how="left")
        matched = F.col("__tm").isNotNull()

        action = F.lit(None).cast("string")
        if has_insert:
            cond = F.expr(not_matched_condition) if not_matched_condition else F.lit(True)
            action = F.when(~matched & cond, F.lit("insert")).otherwise(action)
        if has_update:
            cond = F.expr(matched_condition) if matched_condition else F.lit(True)
            action = F.when(matched & cond, F.lit("update")).otherwise(action)
        if has_delete:
            cond = (
                F.expr(when_matched_delete)
                if isinstance(when_matched_delete, str)
                else F.lit(True)
            )
            action = F.when(matched & cond, F.lit("delete")).otherwise(action)

        cols = [F.col(f"s.{k}").alias(k) for k in keys]
        for c in payload:
            keep = F.col(f"t.{c}") if c in t_payload else F.lit(None)
            u = F.expr(upd[c]) if c in upd else keep
            i = F.expr(ins[c]) if c in ins else F.lit(None)
            cols.append(
                F.when(F.col("__act") == "update", u)
                .when(F.col("__act") == "insert", i)
                .otherwise(keep)  # delete rows: payload irrelevant, type-stable
                .alias(c)
            )
        delta = (
            j.withColumn("__act", action)
            .filter(F.col("__act").isNotNull())
            .select(
                *cols,
                F.when(F.col("__act") == "delete", F.lit("delete"))
                .otherwise(F.lit("upsert"))
                .alias("op"),
                F.lit(next_seq).cast("long").alias("seq"),
            )
        )
        return self.merge(delta, batch_id=batch_id, operation="merge_into")

    # ------------------------------------------------------------ maintenance

    # layout/behaviour props the ENGINE interprets — alterable after create
    # (Iceberg ALTER TABLE ... SET TBLPROPERTIES / sort-order evolution
    # analog). Creator-domain props (e.g. a dedup registry's banding
    # parameters, which reopening code validates against) stay immutable
    # unless the caller forces it.
    _ALTERABLE_PROPS = frozenset(
        {
            "stats_cols",
            "zorder_cols",
            "zorder_bounds",
            "bloom_cols",
            "bloom_bits",
            "bloom_hashes",
            "max_file_rows",
            "merge_mode",
            "ledger_keep",
            "track_counts",
        }
    )

    def alter_props(
        self,
        set_props: dict | None = None,
        unset: Sequence[str] = (),
        force: bool = False,
    ) -> int:
        """Evolve the table's layout/behaviour properties — the Iceberg
        ``ALTER TABLE ... SET TBLPROPERTIES`` / sort-order-evolution analog.
        A METADATA-ONLY commit (no data read or written): the new props
        steer every FUTURE write — the next merge/compact clusters by the
        new ``stats_cols``/``zorder_cols``, writes bloom sidecars for the
        new ``bloom_cols``, caps files at the new ``max_file_rows``,
        commits in the new ``merge_mode`` — while existing files are left
        exactly as written (safe because pruning is keep-on-missing: a file
        without footer stats or a bloom sidecar for the probed column is
        always read, so reads stay exact through the transition and
        ``compact()`` finishes the re-layout when asked). Past versions
        keep their own manifests' props, so time travel replays history
        under the props it was written with, and the change feed emits
        nothing for the alter commit (no bucket changed — same contract as
        a rescale's spec commit).

        Only engine-interpreted props (``_ALTERABLE_PROPS``) may change;
        creator-domain props (e.g. an LSH registry's banding parameters,
        whose immutability is what lets a reopen refuse incompatible
        probes) are refused unless ``force=True``. The zorder invariants
        from :meth:`create` are re-validated on the RESULT. Returns the new
        version."""
        m = self.manifest()
        set_props = dict(set_props or {})
        touched = set(set_props) | set(unset)
        if not touched:
            raise ValueError("alter_props: nothing to set or unset")
        if not force:
            outside = sorted(touched - self._ALTERABLE_PROPS)
            if outside:
                raise ValueError(
                    f"alter_props: {outside} are creator-owned (not engine "
                    "layout props); pass force=True to override at your own "
                    "risk"
                )
        props = dict(m.get("props") or {})
        props.update(set_props)
        for k in unset:
            props.pop(k, None)
        zcols = props.get("zorder_cols") or []
        if zcols:
            zb = props.get("zorder_bounds") or {}
            missing = [c for c in zcols if c not in zb or len(zb[c]) != 2]
            if missing:
                raise ValueError(
                    f"zorder_cols need [lo, hi] zorder_bounds; missing/invalid: {missing}"
                )
            unstatted = [c for c in zcols if c not in (props.get("stats_cols") or [])]
            if unstatted:
                raise ValueError(
                    "zorder_cols must also be in stats_cols (skipping needs "
                    f"the footer metrics): {unstatted}"
                )
        if props.get("merge_mode") not in (None, "cow", "mor"):
            raise ValueError(f"merge_mode must be cow|mor, got {props['merge_mode']!r}")
        version = self._next_version(m["version"])
        manifest = {
            **m,
            "version": version,
            "props": props,
            "parent": m["version"],
            "committed_ts": time.time(),
            "summary": {
                "operation": "alter",
                "set": sorted(set_props),
                "unset": sorted(unset),
            },
        }
        if self.current_version() != m["version"]:
            raise ConcurrentWriteError(
                f"table advanced to v{self.current_version()} while altering "
                f"against v{m['version']}; retry"
            )
        self._commit_manifest(manifest)
        self._swap_pointer(version)
        return version

    def constraints(self) -> dict:
        """Current CHECK constraints, ``{name: sql_expr}``."""
        return dict(self.manifest().get("constraints") or {})

    def add_constraint(self, name: str, expr: str, validate: bool = True) -> int:
        """Add a CHECK constraint — the Delta ``ALTER TABLE t ADD CONSTRAINT
        name CHECK (expr)`` analog (Iceberg has no row constraints; Delta's
        are the lake precedent). ``expr`` is any Spark SQL boolean
        expression over the table's columns. Semantics are null-fails: a
        row passes only when the expression evaluates to TRUE, so
        ``"col IS NOT NULL"`` is the NOT NULL constraint and ``"value > 0"``
        rejects null values too.

        Like Delta, adding the constraint first validates the EXISTING
        visible state (one scan; skip with ``validate=False`` when the
        caller just proved it), then commits METADATA-ONLY — no data is
        read or rewritten afterwards, past versions keep their own
        constraint sets (time travel replays history under the rules it was
        written with), and the change feed emits nothing for the commit (no
        bucket changed — same contract as :meth:`alter_props`). Every
        future merge/DML batch is then validated BEFORE its commit
        (:class:`ConstraintViolationError`, nothing written to the
        manifest); on the streaming path the check piggybacks on the
        merge's existing bucket-count job, so enforcement adds zero jobs
        per micro-batch. Upserts that omit a payload column are validated
        with that column as NULL — a CDC upsert replaces the whole row.
        Reference analog: pyetl's fail/abort data-quality gates
        (traitement_alpha.py) applied declaratively at the sink."""
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"constraint name must be an identifier, got {name!r}")
        m = self.manifest()
        cons = dict(m.get("constraints") or {})
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists: {cons[name]!r}")
        passes = F.expr(expr).eqNullSafe(F.lit(True))  # parse check up front
        if m.get("schema"):
            from pyspark.sql.types import StructType

            # a column the schema lacks would commit, then fail every later
            # merge's constraint check with an opaque AnalysisException
            self._check_constraints_resolve(
                {"constraints": {name: expr}},
                StructType.fromJson(json.loads(m["schema"])),
                "add constraint",
            )
        if validate and m.get("schema"):
            bad = self.read(version=m["version"]).filter(~passes).count()
            if bad:
                raise ConstraintViolationError(
                    f"cannot add constraint {name!r}: {bad} existing rows "
                    f"violate CHECK ({expr}); nothing was committed"
                )
        version = self._next_version(m["version"])
        manifest = {
            **m,
            "version": version,
            "constraints": {**cons, name: expr},
            "parent": m["version"],
            "committed_ts": time.time(),
            "summary": {"operation": "add-constraint", "name": name},
        }
        if self.current_version() != m["version"]:
            raise ConcurrentWriteError(
                f"table advanced to v{self.current_version()} while adding a "
                f"constraint against v{m['version']}; retry"
            )
        self._commit_manifest(manifest)
        self._swap_pointer(version)
        return version

    def drop_constraint(self, name: str) -> int:
        """Remove a CHECK constraint (Delta ``DROP CONSTRAINT`` analog) —
        metadata-only commit; data and history untouched."""
        m = self.manifest()
        cons = dict(m.get("constraints") or {})
        if name not in cons:
            raise ValueError(
                f"no constraint {name!r}; have {sorted(cons) or 'none'}"
            )
        del cons[name]
        version = self._next_version(m["version"])
        manifest = {
            **m,
            "version": version,
            "constraints": cons,
            "parent": m["version"],
            "committed_ts": time.time(),
            "summary": {"operation": "drop-constraint", "name": name},
        }
        if self.current_version() != m["version"]:
            raise ConcurrentWriteError(
                f"table advanced to v{self.current_version()} while dropping "
                f"a constraint against v{m['version']}; retry"
            )
        self._commit_manifest(manifest)
        self._swap_pointer(version)
        return version

    def cherry_pick(self, version: int, batch_id: str | None = None) -> MergeStats:
        """Re-apply ONE commit's row-level changes onto the CURRENT head —
        the Iceberg ``cherrypick_snapshot`` analog, and the missing half of
        the write-audit-publish story: :meth:`publish` is a fast-forward
        pointer swap that REFUSES diverged lineages, while cherry-pick
        transplants an audited branch commit onto a main that has moved on.
        Works for any retained commit (branches share the manifest chain,
        so ``version`` may come from any branch).

        Semantics: the commit's one-commit change-feed slice (inserts +
        update post-images → upserts, deletes → deletes; pure-metadata
        commits contribute nothing) is replayed as a fresh delta sequenced
        one past the target's ``max_seq`` through the normal :meth:`merge`.
        The CHANGE is transplanted, not the snapshot: the picked rows win
        LWW over everything currently stored (like a user re-running the
        original write today), later commits win over the pick, untouched
        keys keep their current values even where the source snapshot
        disagreed. Inherits the batch ledger (``batch_id`` makes the pick
        exactly-once), schema evolution (a picked column the target lacks
        widens it; a column the target RENAMED since is refused loudly by
        the retired-name guard — rename the feed or pick before renaming),
        the change feed and time travel, like every merge."""
        m_v = self.manifest(version)
        parent = m_v.get("parent")
        if parent is None:
            raise ValueError(
                f"cannot cherry-pick v{version}: it is a create/clone root "
                "with no parent commit"
            )
        feed = self.changes(parent, version)
        delta = (
            feed.withColumn(
                "op",
                F.when(F.col("_change_type") == "delete", F.lit("delete")).otherwise(
                    F.lit("upsert")
                ),
            )
            .filter(F.col("_change_type") != "update_preimage")
            .drop("_change_type", "_commit_version")
            .withColumn("seq", F.lit(self.max_seq() + 1).cast("long"))
        )
        return self.merge(delta, batch_id=batch_id, operation="cherry-pick")

    # ----------------------------------------------- column rename / drop

    def _live_file_ids(self, m: dict) -> list[str]:
        """Root-relative identities of every data file the manifest
        references (current buckets + un-migrated rescale legacy)."""
        ids = [_file_identity(f) for fs in m["buckets"].values() for f in fs]
        ids += [
            _file_identity(f)
            for sp in m.get("legacy") or []
            for fs in sp["buckets"].values()
            for f in fs
        ]
        return sorted(set(ids))

    def _check_constraints_resolve(self, m: dict, candidate_schema, action: str) -> None:
        """Refuse a schema change, or a new constraint, that would leave a
        CHECK constraint unresolvable: analyze each constraint expression
        against an empty frame with the CANDIDATE schema — exact for the
        only failure mode a rename/drop can cause (a referenced column no
        longer resolving)."""
        cons = m.get("constraints") or {}
        if not cons:
            return
        empty = self.spark.createDataFrame([], candidate_schema)
        for name, expr in sorted(cons.items()):
            try:
                empty.select(F.expr(expr)).schema  # noqa: B018 — forces analysis
            except Exception as exc:
                raise ValueError(
                    f"cannot {action}: CHECK constraint {name!r} "
                    f"({expr}) does not resolve against the table schema"
                    + ("" if action == "add constraint" else " — drop_constraint first")
                    + f" ({exc.__class__.__name__})"
                ) from exc

    def _retired_names(self) -> set[str]:
        """Every column name mentioned by ANY retained manifest (schema
        fields, rename aliases, dropped registry) — the namespace a new
        name must not collide with: historical reads and the change feed
        resolve columns BY NAME, so reusing a name inside the retention
        window would be ambiguous (the problem Iceberg field ids solve)."""
        names: set[str] = set()
        vdir = os.path.join(self.root, "_versions")
        for f in os.listdir(vdir):
            if not (f.startswith("v") and f.endswith(".json")):
                continue
            try:
                rm = self.manifest(int(f[1:-5]))
            except (OSError, ValueError):
                continue
            if rm.get("schema"):
                names |= {fl["name"] for fl in json.loads(rm["schema"])["fields"]}
            names |= set(rm.get("aliases") or {})
            names |= set(rm.get("dropped") or {})
        return names

    def add_column(self, name: str, dtype: str) -> int:
        """Explicit ``ALTER TABLE ... ADD COLUMN`` (Iceberg analog) —
        METADATA-ONLY widening. Columns also appear implicitly when a
        merge's delta first carries them (the north-rule schema-merge
        path); this is the declared-up-front form: readers project the
        typed null column immediately, before any write carries it, so a
        consumer contract can ship ahead of the producer. ``dtype`` is any
        Spark SQL type string (``"double"``, ``"array<string>"``). The
        same retirement guard as the implicit path applies: a name still
        physically present in live files or retained history is refused
        (no by-name resurrection)."""
        from pyspark.sql.types import StructField, StructType

        m = self.manifest()
        if not m.get("schema"):
            raise ValueError(
                "add_column: table has no schema yet — the first merge "
                "defines it (nothing exists to widen)"
            )
        stored = StructType.fromJson(json.loads(m["schema"]))
        if name in [f.name for f in stored.fields]:
            raise ValueError(f"column {name!r} already exists")
        blocked = {
            **{a: f"renamed to {t!r}" for a, t in (m.get("aliases") or {}).items()},
            **{d: "dropped" for d in (m.get("dropped") or {})},
        }
        if name in blocked:
            raise ValueError(
                f"cannot add column {name!r}: the name is retired "
                f"({blocked[name]}) — compact() + expire_snapshots() frees it"
            )
        # robust public-API type parse: analysis rejects bad type strings
        dt = self.spark.sql(f"SELECT CAST(NULL AS {dtype})").schema[0].dataType
        # keep the envelope (_seq/_deleted) last, like every merge writes it
        fields = [f for f in stored.fields if f.name not in (SEQ, DELETED)]
        tail = [f for f in stored.fields if f.name in (SEQ, DELETED)]
        cand = StructType([*fields, StructField(name, dt, True), *tail])
        version = self._next_version(m["version"])
        manifest = {
            **m,
            "version": version,
            "schema": cand.json(),
            "parent": m["version"],
            "committed_ts": time.time(),
            "summary": {"operation": "add-column", "name": name, "type": dtype},
        }
        if self.current_version() != m["version"]:
            raise ConcurrentWriteError(
                f"table advanced to v{self.current_version()} while adding "
                f"a column against v{m['version']}; retry"
            )
        self._commit_manifest(manifest)
        self._swap_pointer(version)
        return version

    def rename_column(self, old: str, new: str) -> int:
        """Rename a column — the Iceberg ``ALTER TABLE ... RENAME COLUMN``
        analog, METADATA-ONLY like Iceberg's (no data file is read or
        rewritten; Delta needs column-mapping mode for the same). Iceberg
        disambiguates renamed columns with field ids; this layout is
        name-addressed, so the manifest records the retired physical name
        in ``aliases`` (old → new) and reads coalesce the physical
        variants into the logical column (see :meth:`_read_files`) — every
        rewrite (merge COW fold, compact) then migrates touched data to
        the new name, and :meth:`expire_snapshots` prunes the alias once
        no live file or retained manifest still carries the old name.

        Key columns may be renamed (bucketing hashes VALUES, not names, so
        bucket placement is unchanged); ``keys``/``bucket_cols`` and the
        layout props (``stats_cols``/``zorder_cols``/``zorder_bounds``/
        ``bloom_cols``) follow the rename, so clustering and pruning keep
        working — old files' footer stats/bloom sidecars are keyed by the
        name current at THEIR write, which :meth:`scan` probes through the
        alias map. The new name must be fresh across the whole retained
        window (current columns, retired aliases, dropped names, any
        retained manifest) — historical reads and the change feed resolve
        by name. Constraints referencing the old name block the rename
        (drop_constraint first). Time travel replays old versions under
        the names they were committed with; :meth:`changes` emits the feed
        in the ENDING version's names. Deltas still arriving under the old
        name are refused loudly (fail-fast, not silent duplication).
        Reference analog: pyetl's ``ren`` attribute command
        (traitement_alpha.py) — there a per-row dict re-key, here a
        metadata commit over immutable files."""
        from pyspark.sql.types import StructField, StructType

        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", new):
            raise ValueError(f"new column name must be an identifier, got {new!r}")
        m = self.manifest()
        if not m.get("schema"):
            raise ValueError("rename_column: table has no schema yet (nothing merged)")
        stored = StructType.fromJson(json.loads(m["schema"]))
        names = [f.name for f in stored.fields]
        if old in (SEQ, DELETED) or old not in names:
            raise ValueError(f"no column {old!r}; have {[n for n in names if n not in (SEQ, DELETED)]}")
        if new in self._retired_names() | set(names):
            raise ValueError(
                f"cannot rename to {new!r}: the name is already a column, a "
                "retired alias, or appears in retained history — reusing it "
                "would make by-name reads ambiguous inside the retention "
                "window (compact + expire_snapshots frees retired names)"
            )
        cand = StructType(
            [
                StructField(new, f.dataType, f.nullable) if f.name == old else f
                for f in stored.fields
            ]
        )
        self._check_constraints_resolve(m, cand, f"rename {old!r} to {new!r}")
        aliases = dict(m.get("aliases") or {})
        alias_files = {k: list(v) for k, v in (m.get("alias_files") or {}).items()}
        for k, v in aliases.items():
            if v == old:  # chain a→old becomes a→new; its file list is kept
                aliases[k] = new
        aliases[old] = new
        # conservative seed: any currently-live file MAY carry the old name
        # physically; rewrites shrink the set, expire_snapshots prunes it
        alias_files[old] = self._live_file_ids(m)
        props = dict(m.get("props") or {})
        for pk in ("stats_cols", "zorder_cols", "bloom_cols"):
            if props.get(pk):
                props[pk] = [new if c == old else c for c in props[pk]]
        zb = props.get("zorder_bounds")
        if zb and old in zb:
            zb = dict(zb)
            zb[new] = zb.pop(old)
            props["zorder_bounds"] = zb
        version = self._next_version(m["version"])
        manifest = {
            **m,
            "version": version,
            "schema": cand.json(),
            "keys": [new if k == old else k for k in m["keys"]],
            "bucket_cols": [
                new if k == old else k for k in m.get("bucket_cols", m["keys"])
            ],
            "props": props,
            "aliases": aliases,
            "alias_files": alias_files,
            "parent": m["version"],
            "committed_ts": time.time(),
            "summary": {"operation": "rename-column", "from": old, "to": new},
        }
        if self.current_version() != m["version"]:
            raise ConcurrentWriteError(
                f"table advanced to v{self.current_version()} while renaming "
                f"against v{m['version']}; retry"
            )
        self._commit_manifest(manifest)
        self._swap_pointer(version)
        return version

    def drop_column(self, name: str) -> int:
        """Drop a payload column — the Iceberg ``ALTER TABLE ... DROP
        COLUMN`` analog, METADATA-ONLY: the field leaves the stored schema,
        so every read stops projecting it (the by-name parquet read simply
        never asks for the physical column — zero read-time cost); the
        bytes leave the data files as rewrites touch them and leave history
        at snapshot expiry (Delta's ``REORG ... PURGE`` + ``VACUUM``
        discipline). The name (plus any retired aliases that pointed at
        it) enters the manifest ``dropped`` registry: re-introducing it is
        refused while live files or retained manifests still carry it
        physically — the by-name read would resurrect the old values into
        the new column (the ambiguity Iceberg field ids prevent);
        ``compact()`` + ``expire_snapshots()`` free the name. Key/bucket
        columns cannot be dropped; columns referenced by layout props
        (``stats_cols``/``zorder_cols``/``bloom_cols``) need
        :meth:`alter_props` first; constraints referencing it block the
        drop. Reference analog: pyetl's ``supp`` attribute command
        (traitement_alpha.py:345-419 family)."""
        from pyspark.sql.types import StructType

        m = self.manifest()
        if not m.get("schema"):
            raise ValueError("drop_column: table has no schema yet (nothing merged)")
        stored = StructType.fromJson(json.loads(m["schema"]))
        names = [f.name for f in stored.fields]
        if name in (SEQ, DELETED) or name not in names:
            raise ValueError(f"no column {name!r}; have {[n for n in names if n not in (SEQ, DELETED)]}")
        if name in m["keys"] or name in m.get("bucket_cols", m["keys"]):
            raise ValueError(f"cannot drop key/bucket column {name!r}")
        props = m.get("props") or {}
        referenced = [
            pk
            for pk in ("stats_cols", "zorder_cols", "bloom_cols")
            if name in (props.get(pk) or [])
        ]
        if referenced:
            raise ValueError(
                f"column {name!r} is referenced by layout props {referenced}; "
                "alter_props first"
            )
        cand = StructType([f for f in stored.fields if f.name != name])
        self._check_constraints_resolve(m, cand, f"drop {name!r}")
        aliases = dict(m.get("aliases") or {})
        alias_files = {k: list(v) for k, v in (m.get("alias_files") or {}).items()}
        dropped = {k: dict(v) for k, v in (m.get("dropped") or {}).items()}
        live = self._live_file_ids(m)
        version = self._next_version(m["version"])
        # retired aliases of the dropped column are dead names too — their
        # (smaller) file lists carry over; the current name conservatively
        # taints every live file
        for a in [k for k, v in aliases.items() if v == name]:
            dropped[a] = {"files": alias_files.pop(a, live), "since": version}
            del aliases[a]
        dropped[name] = {"files": live, "since": version}
        manifest = {
            **m,
            "version": version,
            "schema": cand.json(),
            "aliases": aliases,
            "alias_files": alias_files,
            "dropped": dropped,
            "parent": m["version"],
            "committed_ts": time.time(),
            "summary": {"operation": "drop-column", "name": name},
        }
        if self.current_version() != m["version"]:
            raise ConcurrentWriteError(
                f"table advanced to v{self.current_version()} while dropping "
                f"a column against v{m['version']}; retry"
            )
        self._commit_manifest(manifest)
        self._swap_pointer(version)
        return version

    def verify(self, all_versions: bool = False) -> dict:
        """Metadata fsck — check the table's invariants without reading a
        data row, and report what a maintenance pass should clean. The ops
        complement of the metadata tables (reference analog: pyetl's
        jobcontrol completion-marker audits, jobcontrol.py).

        Checks per verified manifest (the current one; every retained one
        with ``all_versions=True``): schema JSON parses; every referenced
        data file exists on disk; ``file_stats`` keys all map to live
        files; ``dirty`` names current-spec buckets; ledger entries and
        high-water marks don't exceed the manifest's version. Table-wide:
        the pointer (and every named ref) targets a retained manifest, and
        data files no retained manifest references are counted as orphans
        (losers of commit races / interrupted writers — but possibly also a
        LIVE writer's staged pre-commit files, so they are reclaimable by
        :meth:`expire_snapshots` only past its ``orphan_grace_s`` window;
        never a correctness problem).

        Returns ``{"ok": bool, "issues": [str, ...], "orphan_files": int,
        "checked_versions": [...]}`` — ``ok`` means zero issues; orphans
        are reported but are not an issue."""
        issues: list[str] = []
        retained = set(self._retained_versions())

        cur = self.current_version()
        if cur not in retained:
            issues.append(f"pointer targets v{cur}, which is not retained")
        for kind in ("branch", "tag"):
            for name, v in self._refs(kind).items():
                if v not in retained:
                    issues.append(f"{kind} {name!r} pins v{v}, not retained")

        check = sorted(retained) if all_versions else [cur]
        referenced: set[tuple[str, str, str]] = set()
        for v in sorted(retained):
            mv = self.manifest(v)
            for fs in mv["buckets"].values():
                referenced.update(_file_identity(f) for f in fs)
            for sp in mv.get("legacy") or []:
                for fs in sp["buckets"].values():
                    referenced.update(_file_identity(f) for f in fs)

        for v in check:
            if v not in retained:
                continue
            m = self.manifest(v)
            if m.get("schema"):
                try:
                    from pyspark.sql.types import StructType

                    StructType.fromJson(json.loads(m["schema"]))
                except Exception as e:  # noqa: BLE001
                    issues.append(f"v{v}: schema JSON unparseable ({e})")
            live = set()
            for b, fs in m["buckets"].items():
                if not str(b).lstrip("-").isdigit() or not (
                    0 <= int(b) < m["nbuckets"]
                ):
                    issues.append(f"v{v}: bucket key {b!r} outside spec")
                for f in fs:
                    live.add(_file_identity(f))
                    if not os.path.exists(f):
                        issues.append(f"v{v}: missing data file {f}")
            for sp in m.get("legacy") or []:
                for fs in sp["buckets"].values():
                    for f in fs:
                        live.add(_file_identity(f))
                        if not os.path.exists(f):
                            issues.append(f"v{v}: missing legacy file {f}")
            for fid in m.get("file_stats") or {}:
                if fid not in live:
                    issues.append(f"v{v}: file_stats entry for dead file {fid}")
            for b in m.get("dirty") or []:
                if str(b) not in m["buckets"]:
                    issues.append(f"v{v}: dirty bucket {b} has no files")
            for bid, bv in (m.get("committed_batches") or {}).items():
                if bv > m["version"]:
                    issues.append(f"v{v}: ledger {bid!r} claims future v{bv}")

        orphans = 0
        data_root = os.path.join(self.root, "data")
        if os.path.isdir(data_root):
            for vdir in os.listdir(data_root):
                vfull = os.path.join(data_root, vdir)
                if not os.path.isdir(vfull):
                    continue
                for bdir in os.listdir(vfull):
                    bfull = os.path.join(vfull, bdir)
                    if not os.path.isdir(bfull):
                        continue
                    for f in os.listdir(bfull):
                        if f.endswith(".parquet") and _file_identity(
                            os.path.join(bfull, f)
                        ) not in referenced:
                            orphans += 1
        return {
            "ok": not issues,
            "issues": issues,
            "orphan_files": orphans,
            "checked_versions": [v for v in check if v in retained],
        }

    def expire_snapshots(self, keep_last: int = 2, orphan_grace_s: float = 0.0) -> dict:
        """Iceberg ``expireSnapshots`` analog: drop manifests older than the
        last ``keep_last`` versions and delete data files no kept manifest
        references. Copy-on-write MERGE rewrites touched buckets into new
        version dirs, so without expiry a long-running tail accumulates one
        obsolete copy of every rewritten bucket per batch — at 10^10 events
        that is the table size times the batch count. Metadata-only driver
        work (file moves/deletes); current readers of kept versions are
        unaffected (files are immutable, the pointer swap already happened).

        Two classes of dead file, per Iceberg's expireSnapshots /
        removeOrphanFiles split: files some EXPIRED manifest referenced were
        committed and superseded — always safe to delete. Files NO manifest
        ever referenced are true orphans: commit-race losers, but also an
        in-flight writer's staged files, which exist on disk BEFORE its
        manifest commit arbitrates (see the staging-dir note in
        :meth:`merge`). Deleting those mid-write corrupts the commit the
        writer is about to win, so orphans are reclaimed only once older
        than ``orphan_grace_s`` seconds (mtime; Iceberg's ``older_than``,
        default 3 days there). The 0.0 default keeps single-maintainer
        callers exact; a maintenance job that can race live writers must
        pass a grace comfortably above one micro-batch's write time —
        ``jobs/table_maintain.py --orphan-grace`` defaults to 600.
        """
        current = self.current_version()
        versions = self._retained_versions()
        # named refs pin their versions: a tag or another branch's head must
        # survive expiry no matter how old (Iceberg retention semantics)
        refs = set(self._refs("branch").values()) | set(self._refs("tag").values())
        keep = (set(versions[-keep_last:]) | {current} | refs) & set(versions)

        # liveness compares ROOT-RELATIVE identities (version dir, bucket dir,
        # filename), never raw path strings: manifests record paths as the
        # writer spelled self.root, and a reader opening the table through a
        # different spelling (relative cwd, symlinked root like /dev/shm)
        # must not see every referenced file "missing" and delete live data.
        def _file_id(p: str) -> tuple[str, str, str]:
            parts = os.path.normpath(p).split(os.sep)
            return tuple(parts[-3:])

        referenced: set[tuple[str, str, str]] = set()
        ever_referenced: set[tuple[str, str, str]] = set()
        expired: list[dict] = []
        for v in versions:
            mv = self.manifest(v)
            if v not in keep:
                expired.append(_commit_record(mv))
            ids: set[tuple[str, str, str]] = set()
            for files in mv["buckets"].values():
                ids.update(_file_id(f) for f in files)
            for sp in mv.get("legacy") or []:  # un-migrated rescale files
                for files in sp["buckets"].values():
                    ids.update(_file_id(f) for f in files)
            ever_referenced |= ids
            if v in keep:
                referenced |= ids

        removed_files = 0
        skipped_orphans = 0
        grace_cutoff = time.time() - max(orphan_grace_s, 0.0)
        data_root = os.path.join(self.root, "data")
        for vdir in sorted(os.listdir(data_root)):
            for bdir in os.listdir(os.path.join(data_root, vdir)):
                full_b = os.path.join(data_root, vdir, bdir)
                if not os.path.isdir(full_b):
                    continue
                for f in os.listdir(full_b):
                    full = os.path.join(full_b, f)
                    if not f.endswith(".parquet"):
                        continue
                    fid = _file_id(full)
                    if fid in referenced:
                        continue
                    if fid not in ever_referenced:
                        # never committed: possibly an in-flight writer's
                        # staged files — reclaim only past the grace window
                        try:
                            young = os.path.getmtime(full) >= grace_cutoff
                        except OSError:
                            continue  # vanished under us (racing maintainer)
                        if young:
                            skipped_orphans += 1
                            continue
                    os.remove(full)
                    # bloom sidecars are GC'd with their data file
                    if os.path.exists(full + BLOOM_SUFFIX):
                        os.remove(full + BLOOM_SUFFIX)
                    removed_files += 1

        # the expired commits' summaries (batch metrics + lineage) move to
        # an append-only archive BEFORE their manifests go, so expiry never
        # erases telemetry (commit_summaries reads both)
        if expired:
            adir = os.path.join(self.root, "_summary_archive")
            os.makedirs(adir, exist_ok=True)
            name = f"v{expired[0]['version']:08d}-v{expired[-1]['version']:08d}-{uuid.uuid4().hex[:8]}.json"
            _write_json(os.path.join(adir, name), expired)
        removed_manifests = 0
        for v in versions:
            if v not in keep:
                os.remove(self._manifest_path(v))
                removed_manifests += 1

        # rename/drop name-registry prune: a retired name (alias or dropped
        # column) is freed once no LIVE file can still carry it physically
        # (its taint list no longer intersects the current manifest's
        # files — rewrites replaced them) AND no still-retained manifest's
        # SCHEMA has it as a logical column (historical reads + the feed's
        # ending-version anchor resolve by name). Freeing is a best-effort
        # metadata-only commit — on a race with a live writer it simply
        # waits for the next expiry.
        pruned_names = 0
        m_cur = self.manifest(current)
        ali = dict(m_cur.get("aliases") or {})
        alias_files = {k: list(v) for k, v in (m_cur.get("alias_files") or {}).items()}
        dropped = {k: dict(v) for k, v in (m_cur.get("dropped") or {}).items()}
        if ali or dropped:
            live_ids = set(self._live_file_ids(m_cur))
            mentioned: set[str] = set()
            for v in sorted(keep):
                if v == current:
                    continue
                try:
                    rm = self.manifest(v)
                except OSError:
                    continue
                if rm.get("schema"):
                    mentioned |= {f["name"] for f in json.loads(rm["schema"])["fields"]}
            changed = False
            for nm in list(ali):
                still = sorted(set(alias_files.get(nm, [])) & live_ids)
                if not still and nm not in mentioned:
                    del ali[nm]
                    alias_files.pop(nm, None)
                    changed, pruned_names = True, pruned_names + 1
                elif still != sorted(alias_files.get(nm, [])):
                    alias_files[nm] = still
                    changed = True
            for nm in list(dropped):
                still = sorted(set(dropped[nm].get("files", [])) & live_ids)
                if not still and nm not in mentioned:
                    del dropped[nm]
                    changed, pruned_names = True, pruned_names + 1
                elif still != sorted(dropped[nm].get("files", [])):
                    dropped[nm]["files"] = still
                    changed = True
            if changed and self.current_version() == current:
                version = self._next_version(current)
                try:
                    self._commit_manifest(
                        {
                            **m_cur,
                            "version": version,
                            "aliases": ali,
                            "alias_files": alias_files,
                            "dropped": dropped,
                            "parent": current,
                            "committed_ts": time.time(),
                            "summary": {
                                "operation": "prune-names",
                                "freed": pruned_names,
                            },
                        }
                    )
                except ConcurrentWriteError:
                    pruned_names = 0  # lost to a live writer; next expiry
                else:
                    self._swap_pointer(version)
        return {
            "kept_versions": sorted(keep),
            "removed_manifests": removed_manifests,
            "removed_files": removed_files,
            "skipped_orphans": skipped_orphans,
            "freed_names": pruned_names,
        }

    def compact(self, min_files: int = 2) -> dict:
        """Iceberg ``rewrite_data_files`` analog: rewrite any bucket whose
        snapshot spans >= ``min_files`` files into one file, commit as a new
        version. Data is untouched (pure rewrite, LWW state identical) and
        the commit is the same atomic pointer swap as a MERGE. Buckets can
        fragment when AQE splits a skewed write or maxRecordsPerFile caps
        file size; read amplification of a fragmented hot bucket is the
        scale cost this repays."""
        m = self.manifest()
        dirty = set(m.get("dirty") or [])
        # dirty (merge-on-read) buckets are always candidates: folding their
        # appended row versions back to one resolved row per key is this
        # method's second job (Iceberg minor-compaction analog), and a dirty
        # bucket has >= 2 files by construction
        frag = {
            b: fs
            for b, fs in m["buckets"].items()
            if len(fs) >= min_files or b in dirty
        }
        # third job: finish any in-progress rescale — remaining legacy-spec
        # buckets are read and rewritten under the current spec (their rows
        # fan out to the current buckets they hash into), closing the window
        legacy = m.get("legacy") or []
        legacy_files = [
            f for sp in legacy for fs in sp["buckets"].values() for f in fs
        ]
        if not frag and not legacy_files:
            return {"compacted_buckets": 0, "files_before": 0, "files_after": 0}

        version = self._next_version(m["version"])
        # staging dir is unique PER ATTEMPT (not just per version): two
        # writers racing to the same next version must never share a write
        # directory — mode("overwrite") would clobber the other attempt's
        # in-flight files BEFORE _commit_manifest arbitrates the winner.
        # The manifest references absolute file paths, so the suffix is
        # invisible downstream; the loser's files stay unreferenced and are
        # swept by expire_snapshots once older than its orphan grace window
        # (which is also what keeps a concurrent maintainer from sweeping
        # a live attempt's files before _commit_manifest arbitrates).
        vdir = os.path.join(
            self.root, "data", f"v{version:08d}-{uuid.uuid4().hex[:8]}"
        )
        props = m.get("props") or {}
        stats_cols = props.get("stats_cols") or []
        bcols = m.get("bucket_cols", m["keys"])
        new_buckets = dict(m["buckets"])
        file_stats = dict(m.get("file_stats") or {})

        # ONE write job for every fragmented bucket (not a per-bucket driver
        # loop — serial per-bucket jobs would make compaction cost
        # O(buckets × job overhead)): rows re-derive their bucket from the
        # key columns exactly as merge() does, dirty (merge-on-read) buckets
        # get their row versions folded to the max-_seq winner per key, and
        # the partitionBy write lands each bucket in its own dir.
        parts = []
        clean_files = [f for b, fs in frag.items() if b not in dirty for f in fs]
        clean_files += legacy_files  # legacy rows are single-version (clean)
        dirty_files = [f for b, fs in frag.items() if b in dirty for f in fs]
        if clean_files:
            parts.append(self._read_files(clean_files, schema_json=m.get("schema"), aliases=m.get("aliases"), alias_files=m.get("alias_files")))
        if dirty_files:
            d = self._read_files(dirty_files, schema_json=m.get("schema"), aliases=m.get("aliases"), alias_files=m.get("alias_files"))
            parts.append(lww_dedup(d, keys=m["keys"], seq=SEQ))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        nparts = len(frag) + sum(len(sp["buckets"]) for sp in legacy)
        df = df.withColumn("__b", _bucket_col(bcols, m["nbuckets"])).repartition(
            max(nparts, 1), "__b"
        )
        # sort-rewrite (Iceberg rewrite_data_files with sort order):
        # re-clusters each bucket — linear stats_cols or the z-order key —
        # so scan()'s file skipping stays effective after many small
        # merges interleave key ranges
        cluster = _cluster_sort_cols(props, df.columns)
        if cluster:
            df = df.sortWithinPartitions("__b", *cluster)
        w = df.write.partitionBy("__b").mode("overwrite")
        if props.get("max_file_rows"):
            w = w.option("maxRecordsPerFile", int(props["max_file_rows"]))
        for c in props.get("bloom_cols") or []:
            w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
        w.parquet(vdir)

        before = after = 0
        for b, files in frag.items():
            bdir = os.path.join(vdir, f"__b={b}")
            out = (
                sorted(
                    os.path.join(bdir, f)
                    for f in os.listdir(bdir)
                    if f.endswith(".parquet")
                )
                if os.path.isdir(bdir)
                else []
            )
            if out:
                new_buckets[b] = out
            else:  # a dirty bucket can resolve to zero rows only if it was
                new_buckets.pop(b, None)  # empty to begin with; stay safe
            before += len(files)
            after += len(out)
        fanout_files: list[str] = []
        if legacy_files:
            # legacy fan-out: rows migrated into buckets outside frag land
            # in extra written dirs — append to those buckets' file lists
            # (their keys exist in no other file)
            for d in sorted(os.listdir(vdir)) if os.path.isdir(vdir) else []:
                if not d.startswith("__b=") or d.split("=", 1)[1] in frag:
                    continue
                bdir = os.path.join(vdir, d)
                out = sorted(
                    os.path.join(bdir, f)
                    for f in os.listdir(bdir)
                    if f.endswith(".parquet")
                )
                if out:
                    b = d.split("=", 1)[1]
                    new_buckets[b] = new_buckets.get(b, []) + out
                    fanout_files.extend(out)
                    after += len(out)
            before += len(legacy_files)
            legacy = []
        rewritten = [f for b in frag for f in new_buckets.get(b, [])] + fanout_files
        if stats_cols or props.get("track_counts"):
            file_stats.update(_collect_file_stats(self.spark, rewritten, stats_cols))
        live = {_file_identity(f) for fs in new_buckets.values() for f in fs}
        file_stats = {k: v for k, v in file_stats.items() if k in live}
        bloom_cols = [c for c in props.get("bloom_cols") or []]
        if bloom_cols:
            _write_file_blooms(
                self.spark,
                rewritten,
                bloom_cols,
                int(props.get("bloom_bits", 1 << 17)),
                int(props.get("bloom_hashes", 7)),
            )

        if self.current_version() != m["version"]:
            raise ConcurrentWriteError("table advanced during compaction; retry")
        self._commit_manifest(
            {
                **m,
                "version": version,
                "buckets": new_buckets,
                "dirty": sorted(dirty - set(frag)),
                "legacy": legacy,
                "file_stats": file_stats,
                "parent": m["version"],
                "committed_ts": time.time(),
                "summary": {
                    "operation": "compact",
                    "compacted_buckets": len(frag),
                    "files_before": before,
                    "files_after": after,
                },
            }
        )
        self._swap_pointer(version)
        return {"compacted_buckets": len(frag), "files_before": before, "files_after": after}

    def merge_retry(
        self, delta: DataFrame, batch_id: str | None = None, retries: int = 5, **kw
    ) -> MergeStats:
        """Optimistic-concurrency commit loop (the Iceberg
        ``commit.retry.num-retries`` analog): re-plan the merge against the
        fresh snapshot whenever another writer's commit wins the pointer
        swap. Each attempt is a FULL re-plan — the losing attempt's data
        files are unreferenced by any manifest, so a retry can never
        double-apply (and the batch ledger makes the whole loop idempotent
        even across process crashes: if the batch actually committed before
        the crash, the rerun is a no-op). Exponential backoff, capped at
        1s, keeps N writers from livelocking on a hot table."""
        last: ConcurrentWriteError | None = None
        for attempt in range(retries + 1):
            try:
                return self.merge(delta, batch_id=batch_id, **kw)
            except ConcurrentWriteError as e:
                last = e
                time.sleep(min(0.05 * (2**attempt), 1.0))
        raise last

    def merge_into_retry(
        self, source: DataFrame, retries: int = 5, **kw
    ) -> MergeStats:
        """:meth:`merge_retry`'s optimistic-concurrency loop for the clause
        layer. Each attempt re-runs :meth:`merge_into` WHOLE — re-reading
        the fresh snapshot and re-planning the join — because retrying only
        the inner merge would commit a delta computed against a stale state
        (the classic lost-update anomaly: an UPDATE based on a pre-image
        another writer already replaced). The batch ledger keeps the loop
        idempotent across crashes exactly as for :meth:`merge_retry`."""
        last: ConcurrentWriteError | None = None
        for attempt in range(retries + 1):
            try:
                return self.merge_into(source, **kw)
            except ConcurrentWriteError as e:
                last = e
                time.sleep(min(0.05 * (2**attempt), 1.0))
        raise last

    def rescale(self, nbuckets: int, migrate: str = "lazy") -> int:
        """Bucket-spec evolution (Iceberg partition-spec-evolution analog):
        change the table's bucket count WITHOUT an upfront full rewrite.
        The day-1 bucket count is the one layout decision a 10^10-row
        stream outgrows (too few buckets → giant merge units; too many →
        small-file pressure), and a full-table rewrite to fix it is exactly
        the cost a lake format exists to avoid.

        The commit is METADATA-ONLY: the current bucket map moves to the
        manifest's ``legacy`` list (tagged with its spec's nbuckets) and an
        empty map opens under the new spec. From then on:

        - ``merge()`` migrates legacy buckets ON TOUCH: a batch whose keys
          hash (under the OLD spec) into un-migrated buckets folds those
          whole buckets through its LWW and rewrites their rows under the
          new spec — so migration cost rides the merges that need it, hot
          buckets migrate first, and the window shrinks monotonically.
        - reads (``read``/``scan``/``changes``) remain exact throughout:
          un-migrated files are included, row-filtered by their recomputed
          current-spec bucket id when the read is bucket-pruned.
        - ``compact()`` (or ``migrate="now"``) finishes the job, rewriting
          whatever legacy buckets remain.

        MOR buckets are folded first (their multi-version rows must resolve
        within one spec), and a merge that touches un-migrated buckets runs
        as COW for that batch. Returns the rescale commit's version."""
        if migrate not in ("lazy", "now"):
            raise ValueError(f"rescale: unknown migrate mode {migrate!r}")
        if nbuckets < 1:
            raise ValueError("rescale: nbuckets must be >= 1")
        if self.manifest().get("dirty"):
            self.compact(min_files=1 << 30)  # fold MOR appends only
        m = self.manifest()
        if nbuckets == m["nbuckets"] and not m.get("legacy"):
            return m["version"]
        legacy = list(m.get("legacy") or [])
        if m["buckets"]:
            legacy.append({"nbuckets": m["nbuckets"], "buckets": m["buckets"]})
        version = self._next_version(m["version"])
        manifest = {
            **m,
            "version": version,
            "nbuckets": nbuckets,
            "buckets": {},
            "dirty": [],
            "legacy": legacy,
            "parent": m["version"],
            "committed_ts": time.time(),
            "summary": {
                "operation": "rescale",
                "nbuckets": nbuckets,
                "legacy_specs": len(legacy),
            },
        }
        if self.current_version() != m["version"]:
            raise ConcurrentWriteError("table advanced during rescale; retry")
        self._commit_manifest(manifest)
        self._swap_pointer(version)
        if migrate == "now":
            self.compact(min_files=1 << 30)  # migrates all legacy buckets
        return version

    def rollback(self, version: int) -> None:
        """Iceberg ``rollback_to_snapshot`` analog: point the table back at a
        retained earlier version (manifests/files are immutable, so this is
        one atomic pointer swap). Batches committed after that version leave
        the ledger with it, so they can be legitimately re-merged."""
        if not os.path.exists(self._manifest_path(version)):
            raise ValueError(f"version {version} not retained (expired or never existed)")
        self._swap_pointer(version)

    def clone(self, dest_root: str, version: int | None = None) -> "SnapshotTable":
        """Delta ``SHALLOW CLONE`` analog: a new table at ``dest_root``
        whose v0 manifest references THIS table's data files — zero data
        copied, metadata-only driver work, optionally from a time-travel
        ``version``. Writes to the clone are copy-on-write into its own
        ``data/`` dir, so the clone diverges bucket by bucket as it is
        touched (``compact()`` fully de-references the source); the source
        is never modified through the clone, and the clone's
        ``expire_snapshots`` only scans its OWN data dir, so it can never
        reclaim source files. Two documented Delta-parity caveats: (1) the
        SOURCE's ``expire_snapshots``/vacuum does not know about clones —
        expiring source versions whose files a clone still references
        breaks the clone (Delta shallow clones share this); (2) the
        idempotency ledger (``committed_batches``/``batch_hwm``) is NOT
        carried over — a clone is a new sink, and inheriting the source's
        batch ids would silently no-op a legitimate first delivery to the
        clone (Delta clones likewise drop stream/txn metadata). File paths
        are absolutized so the clone works from any working directory."""
        if self.exists(dest_root):
            raise ValueError(f"table already exists at {dest_root}")
        m = self.manifest(version)
        missing = [
            f
            for fs in m["buckets"].values()
            for f in fs
            if not os.path.exists(f)
        ]
        if missing:
            raise ValueError(
                f"source v{m['version']} references missing files: {missing[:3]}"
            )
        os.makedirs(os.path.join(dest_root, "_versions"), exist_ok=True)
        os.makedirs(os.path.join(dest_root, "data"), exist_ok=True)

        def _abs(fs: list[str]) -> list[str]:
            return [os.path.abspath(f) for f in fs]

        nm = {
            "version": 0,
            "keys": list(m["keys"]),
            "bucket_cols": list(m.get("bucket_cols", m["keys"])),
            "nbuckets": m["nbuckets"],
            "props": dict(m.get("props") or {}),
            "schema": m.get("schema"),
            "buckets": {b: _abs(fs) for b, fs in m["buckets"].items()},
            "committed_batches": {},
            "batch_hwm": {},
            "max_seq": self._seq_watermark(m),
            "parent": None,
            "created_ts": time.time(),
            "summary": {
                "operation": "clone",
                "source_root": os.path.abspath(self.root),
                "source_version": m["version"],
            },
        }
        if m.get("legacy"):
            nm["legacy"] = [
                {**sp, "buckets": {b: _abs(fs) for b, fs in sp["buckets"].items()}}
                for sp in m["legacy"]
            ]
        if m.get("file_stats"):
            nm["file_stats"] = dict(m["file_stats"])
        if m.get("dirty"):
            nm["dirty"] = list(m["dirty"])
        if m.get("constraints"):
            nm["constraints"] = dict(m["constraints"])
        # rename/drop registries travel too: file taint lists are keyed by
        # root-relative identity, which clone's absolute paths preserve
        for reg in ("aliases", "alias_files", "dropped"):
            if m.get(reg):
                nm[reg] = json.loads(json.dumps(m[reg]))
        t = SnapshotTable(self.spark, dest_root)
        t._write_manifest(nm)
        t._swap_pointer(0)
        return t

    # ------------------------------------------------------------ change feed

    def _lineage(self, from_version: int, to_version: int) -> list[int]:
        """Commit lineage ``from_version → … → to_version`` by walking the
        manifest ``parent`` chain (NOT numeric adjacency: after a rollback
        the next merge's parent is the rollback target, so v2 may not be
        v3's ancestor). Raises if ``from_version`` is not an ancestor of
        ``to_version`` or an intermediate manifest was expired."""
        if not os.path.exists(self._manifest_path(from_version)):
            raise ValueError(
                f"version {from_version} not retained (expired or never existed)"
            )
        chain = [to_version]
        v = to_version
        while v != from_version:
            if not os.path.exists(self._manifest_path(v)):
                raise ValueError(
                    f"version {v} not retained (expired) — change feed "
                    f"from v{from_version} to v{to_version} is unreadable"
                )
            parent = self.manifest(v).get("parent")
            if parent is None:
                raise ValueError(
                    f"v{from_version} is not an ancestor of v{to_version} "
                    "(diverged lineage, e.g. across a rollback)"
                )
            chain.append(parent)
            v = parent
        return list(reversed(chain))

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        checkpoint_every: int = 64,
    ) -> DataFrame:
        """Row-level change feed for commits ``(from_version, to_version]``
        — the Delta CDF / Iceberg ``create_changelog_view`` analog:
        ``_change_type ∈ insert | delete | update_preimage |
        update_postimage`` plus ``_commit_version``, with the row's column
        values as of the relevant side (pre-images carry the old values,
        inserts/post-images the new).

        Scale shape: for each commit on the lineage, the MANIFEST DIFF
        names the buckets whose file list changed — only those buckets are
        read on either side, so a streaming tail's feed costs ∝ changed
        data per commit, not table size. Within a rewritten bucket,
        copied-but-untouched rows are dropped by (``_seq``, ``_deleted``)
        equality (LWW keeps exactly one row per key, so an unchanged
        ``_seq`` means an identical row). Pure-rewrite commits
        (:meth:`compact`) therefore contribute nothing, as they should.

        Semantics at the edges: a key that FIRST appears as a tombstone
        emits nothing (a delete of a row that never existed is not a
        change); a tombstone refreshed by a later delete event emits
        nothing; a tombstone overwritten by a live row emits ``insert``.

        Plan growth over long lineages: the feed is a per-commit union of
        manifest-diff joins, so a (v0, v10000] range would otherwise build
        a 10k-branch driver plan (quadratic analysis cost). Every
        ``checkpoint_every`` contributing commits the accumulated feed is
        cut over to an eager ``localCheckpoint`` — the plan stays bounded
        at O(checkpoint_every) branches while results are identical. The
        shipped consumers (jobs/cdf_view.py) read a few commits per
        catch-up and never hit this; the knob exists for bulk historical
        replays of a whole retained lineage.
        """
        if to_version is None:
            to_version = self.current_version()
        m_to = self.manifest(to_version)
        keys = m_to["keys"]
        # feed schema is the ENDING version's (Delta CDF contract): columns
        # renamed inside the range are mapped to their ending names (the
        # anchor's alias map covers every retired name still in the
        # retention window — rename_column refuses name reuse inside it, so
        # the mapping is unambiguous), and columns dropped inside the range
        # leave the feed
        ali_to = m_to.get("aliases") or {}
        anchor_cols = (
            {f["name"] for f in json.loads(m_to["schema"])["fields"]}
            if m_to.get("schema")
            else None
        )

        def _state(version: int, buckets: list[str]) -> tuple[DataFrame, list[str]] | None:
            # resolved_raw: one row per key even across merge-on-read
            # appends, so the full-outer diff below stays a 1:1 key join
            raw = self.resolved_raw(version, buckets=[int(b) for b in buckets])
            if raw is None:
                return None
            if ali_to:
                ren = {
                    c: ali_to[c]
                    for c in raw.columns
                    if c in ali_to and ali_to[c] not in raw.columns
                }
                if ren:
                    raw = raw.withColumnsRenamed(ren)
            if anchor_cols is not None:
                gone = [c for c in raw.columns if c not in anchor_cols]
                if gone:
                    raw = raw.drop(*gone)
            pay = [c for c in raw.columns if c not in (*keys, SEQ, DELETED)]
            return raw, pay

        lineage = self._lineage(from_version, to_version)
        out: DataFrame | None = None
        branches = 0
        prev_m = self.manifest(from_version)
        for v in lineage[1:]:
            m = self.manifest(v)
            if m["nbuckets"] != prev_m["nbuckets"]:
                # rescale commit: metadata-only by construction (the bucket
                # map moves to `legacy`, no row changes) — and its bucket
                # ids are in a different spec, so a map diff is meaningless
                prev_m = m
                continue
            changed = sorted(
                b
                for b in set(prev_m["buckets"]) | set(m["buckets"])
                if prev_m["buckets"].get(b) != m["buckets"].get(b)
            )
            prev_m = m
            if not changed:
                continue
            a = _state(m["parent"], changed)
            b = _state(v, changed)
            if b is None:
                continue
            b_raw, b_pay = b
            a_pay = a[1] if a is not None else []
            all_pay = b_pay + [c for c in a_pay if c not in b_pay]

            def _side(raw: DataFrame, pay: list[str], tag: str) -> DataFrame:
                cols = [
                    (F.col(c) if c in pay else F.lit(None)).alias(c) for c in all_pay
                ]
                return raw.select(
                    *keys,
                    F.struct(*cols).alias(f"__{tag}"),
                    F.col(SEQ).alias(f"__{tag}_seq"),
                    F.col(DELETED).alias(f"__{tag}_del"),
                )

            bd = _side(b_raw, b_pay, "b")
            if a is not None:
                j = _side(a[0], a_pay, "a").join(bd, on=list(keys), how="full")
            else:
                j = bd.select(
                    *keys,
                    F.lit(None).cast(bd.schema["__b"].dataType).alias("__a"),
                    F.lit(None).cast("long").alias("__a_seq"),
                    F.lit(None).cast("boolean").alias("__a_del"),
                    "__b",
                    "__b_seq",
                    "__b_del",
                )
            a_live = F.col("__a_del").eqNullSafe(F.lit(False))
            b_live = F.col("__b_del").eqNullSafe(F.lit(False))
            updated = a_live & b_live & (F.col("__a_seq") != F.col("__b_seq"))
            pre = j.filter(
                (a_live & F.col("__b_del").eqNullSafe(F.lit(True))) | updated
            ).select(
                *keys,
                "__a.*",
                F.when(F.col("__b_del"), F.lit("delete"))
                .otherwise(F.lit("update_preimage"))
                .alias("_change_type"),
            )
            post = j.filter(
                (b_live & ~a_live) | updated
            ).select(
                *keys,
                "__b.*",
                F.when(updated, F.lit("update_postimage"))
                .otherwise(F.lit("insert"))
                .alias("_change_type"),
            )
            delta = pre.unionByName(post).withColumn("_commit_version", F.lit(v))
            out = (
                delta
                if out is None
                else out.unionByName(delta, allowMissingColumns=True)
            )
            branches += 1
            if checkpoint_every and branches % checkpoint_every == 0:
                out = out.localCheckpoint(eager=True)
        if out is None:
            from pyspark.sql.types import StructType

            base = (
                StructType.fromJson(json.loads(m_to["schema"]))
                if m_to["schema"]
                else StructType()
            )
            empty = self.spark.createDataFrame([], base).drop(SEQ, DELETED)
            return empty.withColumn(
                "_change_type", F.lit(None).cast("string")
            ).withColumn("_commit_version", F.lit(None).cast("int"))
        return out

    # ----------------------------------------------------------------- merge

    def merge(
        self,
        delta: DataFrame,
        batch_id: str | None = None,
        op_col: str = "op",
        seq_col: str = "seq",
        with_stats: bool = False,
        prune: bool = True,
        mode: str | None = None,
        operation: str = "merge",
    ) -> MergeStats:
        """MERGE the change-event delta into the table (LWW upsert).

        delta: key columns + payload + ``op`` (upsert|delete) + ``seq``.
        Equivalent SQL (Iceberg): MERGE INTO t USING d ON t.keys = d.keys
        WHEN MATCHED AND d.seq > t._seq [AND d.op='delete'] THEN DELETE /
        UPDATE ... WHEN NOT MATCHED THEN INSERT — realized here as
        union + max_by-per-key over only the touched buckets.

        Cost shape: ONE small driver-side collect (per-bucket delta counts,
        ≤nbuckets rows — also yields events_in for free), one hash-agg
        shuffle for the LWW (in-batch duplicates and cross-snapshot winners
        resolved in the same aggregate; map-side partial combine), one
        bucket-aligned write. The pre-pass also yields the batch facts the
        commit summary records (per-bucket lineage, max ``_seq``);
        ``with_stats=True`` adds a per-bucket distinct-key count to it for
        the post-dedup key count (streaming metrics path).

        ``prune=False`` skips the bucket-count pre-pass entirely (touched :=
        every bucket; events_in and max ``_seq`` observed during the write
        job, no per-bucket lineage, ``with_stats`` costs a separate count). Right when
        the batch is known to span the keyspace — bulk replay/backfill —
        where pruning buys nothing and the extra job is pure fixed cost.
        Keep the default for streaming tails, whose small batches hit few
        buckets and skip reading + rewriting the rest of the table.

        ``mode`` — commit strategy (default: the ``merge_mode`` table prop,
        else ``"cow"``):

        - ``"cow"`` (copy-on-write): read + rewrite the touched buckets so
          every data file holds exactly one resolved row per key. Cheap
          reads, commit cost ∝ touched-bucket DATA.
        - ``"mor"`` (merge-on-read, Iceberg v2 row-delta analog): APPEND the
          in-batch-deduped delta as new files on the touched buckets and
          leave the base files alone — commit cost ∝ BATCH size only, the
          shape a high-frequency streaming tail over a 10^10-row table
          needs (a hot bucket's full rewrite per micro-batch is exactly the
          write amplification Iceberg v2 deletes exist to avoid). Readers
          resolve LWW (max-``_seq`` per key) over the appended versions at
          read time — the explicit ``_seq`` ordering plays the role of
          Iceberg's equality-delete files, so no separate delete files are
          needed. Buckets carrying unresolved appends are tracked in the
          manifest (``dirty``); :meth:`compact` folds them back to one
          resolved file (Iceberg ``rewrite_position_delete_files`` /
          minor-compaction analog) and any later COW merge of the same
          bucket resolves it as a side effect. Modes interleave freely —
          the final state is mode-independent because LWW is associative.
        """
        t0 = time.time()
        m = self.manifest()
        keys, nbuckets = m["keys"], m["nbuckets"]
        bcols = m.get("bucket_cols", keys)
        mode = mode or (m.get("props") or {}).get("merge_mode", "cow")
        if mode not in ("cow", "mor"):
            raise ValueError(f"merge: unknown mode {mode!r} (cow|mor)")
        mor = mode == "mor"

        if batch_id is not None and self.is_committed(batch_id, manifest=m):
            return MergeStats(batch_id, m["version"], 0, 0, 0, 0, skipped=True, mode=mode)

        normalized = (
            delta.withColumn(DELETED, F.col(op_col) == "delete")
            .withColumnRenamed(seq_col, SEQ)
            .drop(op_col)
            .withColumn("__b", _bucket_col(bcols, nbuckets))
        )

        # CHECK constraints (add_constraint): validate the incoming batch's
        # upsert rows BEFORE anything is written or committed. On the
        # streaming path (prune=True) the violation counts piggyback on the
        # existing bucket-count job — zero extra jobs per micro-batch; the
        # bulk path (prune=False) pays one dedicated aggregate over the
        # delta. Existing rows were validated when the constraint was added
        # and merges are full-row replacements, so batch-level enforcement
        # keeps the table invariant inductively.
        cons = m.get("constraints") or {}
        viol_flags: list[tuple[str, str]] = []
        eval_frame = normalized
        if cons:
            eval_frame, viol_flags = _constraint_flags(normalized, cons, m.get("schema"))

        # batch facts for the commit summary: events and deletes per bucket
        # (the lineage), the batch's max _seq (the watermark) and, with
        # with_stats, the distinct keys per bucket (a key hashes to one
        # bucket, so the sum is the batch's distinct-key count; a struct
        # counts null keys like distinct() does)
        facts = [
            F.count(F.lit(1)).alias("count"),
            F.count(F.when(F.col(DELETED), 1)).alias("deletes"),
            F.max(SEQ).alias("max_seq"),
        ]
        obs = None
        lineage = None
        if prune:
            # 1. bucket pruning + batch facts (+ constraint violation counts)
            #    in ONE aggregate (≤nbuckets result rows)
            aggs = facts + [
                F.sum(F.col(vc).cast("long")).alias(vc) for _, vc in viol_flags
            ]
            if with_stats:
                aggs.append(F.count_distinct(F.struct(*keys)).alias("keys"))
            bucket_counts = eval_frame.groupBy("__b").agg(*aggs).collect()
            touched = [r["__b"] for r in bucket_counts]
            events_in = int(sum(r["count"] for r in bucket_counts))
            lineage = {
                str(r["__b"]): [r["count"], r["count"] - r["deletes"], r["deletes"]]
                for r in bucket_counts
            }
            seqs = [r["max_seq"] for r in bucket_counts if r["max_seq"] is not None]
            batch_max_seq = max(seqs, default=None)
            if viol_flags:
                _raise_violations(
                    {
                        n: sum(r[vc] or 0 for r in bucket_counts)
                        for n, vc in viol_flags
                    },
                    batch_id,
                )
        else:
            if viol_flags:
                row = eval_frame.select(
                    *[F.sum(F.col(vc).cast("long")).alias(vc) for _, vc in viol_flags]
                ).first()
                _raise_violations({n: row[vc] for n, vc in viol_flags}, batch_id)
            touched = list(range(nbuckets))
            obs = Observation()
            normalized = normalized.observe(obs, *facts)

        # rescale window (manifest ``legacy``): delta keys may have their
        # stored row in an un-migrated legacy-spec bucket. Those buckets are
        # migrated ON TOUCH — read whole, folded through the LWW, and
        # rewritten under the current spec (their rows fan out to whatever
        # current buckets they hash into) — so the migration cost rides the
        # merges that need it and the window shrinks monotonically.
        legacy = [dict(sp) for sp in m.get("legacy") or []]
        legacy_touched: dict[int, list[str]] = {}
        if legacy:
            if prune:
                for i, sp in enumerate(legacy):
                    lcol = _bucket_col(bcols, sp["nbuckets"]).alias("__lb")
                    ids = {
                        str(r["__lb"])
                        for r in normalized.select(lcol).distinct().collect()
                    }
                    hit = sorted(ids & set(sp["buckets"]))
                    if hit:
                        legacy_touched[i] = hit
            else:
                legacy_touched = {
                    i: sorted(sp["buckets"]) for i, sp in enumerate(legacy) if sp["buckets"]
                }
            if legacy_touched and mor:
                # a MOR append can't supersede a row it doesn't co-bucket
                # with: batches touching un-migrated buckets run as COW
                # (documented migration-window cost; once migrated, MOR
                # resumes append-only)
                mor = False
                mode = "cow"

        blocked_names = {
            **{a: f"renamed to {t!r}" for a, t in (m.get("aliases") or {}).items()},
            **{d: "dropped" for d in (m.get("dropped") or {})},
        }
        if mor:
            # merge-on-read: never read the base — resolve ONLY the
            # in-batch duplicates; cross-snapshot winners are resolved by
            # readers (resolved_raw) / compact(). Schema evolution is a
            # plan-time field union against the stored schema (old files
            # surface nulls for new columns via the by-name parquet read,
            # new files surface nulls for columns they don't carry).
            merged = lww_dedup(normalized, keys=keys, seq=SEQ)
            schema_json = _evolve_schema_json(
                m.get("schema"), merged.drop("__b").schema, blocked=blocked_names
            )
        else:
            current = self.read_raw(buckets=touched, include_legacy=False)
            migrating = [
                f
                for i, bids in legacy_touched.items()
                for b in bids
                for f in legacy[i]["buckets"][b]
            ]
            if migrating:
                lg = self._read_files(migrating, schema_json=m.get("schema"), aliases=m.get("aliases"), alias_files=m.get("alias_files"))
                if lg is not None:
                    current = (
                        lg
                        if current is None
                        else current.unionByName(lg, allowMissingColumns=True)
                    )
            if current is not None:
                current = current.withColumn("__b", _bucket_col(bcols, nbuckets))
                # 2. schema evolution: union-with-nulls both directions
                union = current.unionByName(normalized, allowMissingColumns=True)
            else:
                union = normalized

            # 3. single LWW aggregate resolves in-batch duplicates AND
            #    cross-snapshot winners (tombstones retained)
            merged = lww_dedup(union, keys=keys, seq=SEQ)
            # evolve, never replace: a delta that touches zero buckets (or
            # carries fewer columns than untouched buckets store) must not
            # narrow the table schema — schema changes are widening-only
            schema_json = _evolve_schema_json(
                m.get("schema"), merged.drop("__b").schema, blocked=blocked_names
            )

        # 5. write only the touched buckets to the new version dir. When the
        #    table declares stats_cols, cluster rows by them within each
        #    bucket (sortWithinPartitions also satisfies the writer's
        #    partition-column ordering requirement, so no extra sort is
        #    inserted) and cap file size so footer min/max ranges stay
        #    narrow — that's what makes scan()'s file skipping effective.
        version = self._next_version(m["version"])
        # staging dir is unique PER ATTEMPT (not just per version): two
        # writers racing to the same next version must never share a write
        # directory — mode("overwrite") would clobber the other attempt's
        # in-flight files BEFORE _commit_manifest arbitrates the winner.
        # The manifest references absolute file paths, so the suffix is
        # invisible downstream; the loser's files stay unreferenced and are
        # swept by expire_snapshots once older than its orphan grace window
        # (which is also what keeps a concurrent maintainer from sweeping
        # a live attempt's files before _commit_manifest arbitrates).
        vdir = os.path.join(
            self.root, "data", f"v{version:08d}-{uuid.uuid4().hex[:8]}"
        )
        props = m.get("props") or {}
        stats_cols = [c for c in props.get("stats_cols") or []]
        to_write = merged.withColumn("__b", _bucket_col(bcols, nbuckets)).repartition(
            max(len(touched), 1), "__b"
        )
        cluster = _cluster_sort_cols(props, to_write.columns)
        if cluster:
            to_write = to_write.sortWithinPartitions("__b", *cluster)
        # rows written, counted by the write job itself (no extra job)
        written_obs = Observation()
        to_write = to_write.observe(written_obs, F.count(F.lit(1)).alias("rows"))
        writer = to_write.write.partitionBy("__b").mode("overwrite")
        if props.get("max_file_rows"):
            writer = writer.option("maxRecordsPerFile", int(props["max_file_rows"]))
        for c in props.get("bloom_cols") or []:
            # parquet-native row-group blooms too: Spark's vectorized reader
            # uses them for within-file row-group skipping on point lookups
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer.parquet(vdir)

        # 6. new manifest: COW swaps the touched buckets' file lists for the
        #    just-written files; MOR appends them to the parent's list and
        #    marks the bucket dirty (readers must LWW-resolve it). A COW
        #    rewrite resolves whatever it touches, so it clears the flag.
        new_buckets = dict(m["buckets"])
        dirty = set(m.get("dirty") or [])
        written_files: list[str] = []
        files_written = 0
        for b in touched:
            bdir = os.path.join(vdir, f"__b={b}")
            files = (
                sorted(
                    os.path.join(bdir, f)
                    for f in os.listdir(bdir)
                    if f.endswith(".parquet")
                )
                if os.path.isdir(bdir)
                else []
            )
            written_files.extend(files)
            files_written += len(files)
            if mor and files:
                prior = new_buckets.get(str(b), [])
                new_buckets[str(b)] = prior + files
                if prior:
                    dirty.add(str(b))
            elif not mor:
                if files:
                    new_buckets[str(b)] = files
                else:
                    new_buckets.pop(str(b), None)
                dirty.discard(str(b))

        if legacy_touched:
            touched_set = {str(b) for b in touched}
            extra = [
                d.split("=", 1)[1]
                for d in (os.listdir(vdir) if os.path.isdir(vdir) else [])
                if d.startswith("__b=") and d.split("=", 1)[1] not in touched_set
            ]
            for b in sorted(extra, key=int):
                bdir = os.path.join(vdir, f"__b={b}")
                files = sorted(
                    os.path.join(bdir, f)
                    for f in os.listdir(bdir)
                    if f.endswith(".parquet")
                )
                written_files.extend(files)
                files_written += len(files)
                if files:
                    # migration fan-out: rows from migrated legacy buckets,
                    # whose keys exist in no other file — append, not replace
                    new_buckets[b] = new_buckets.get(b, []) + files
            # migrated legacy buckets drop out of the rescale window
            new_legacy = []
            for i, sp in enumerate(legacy):
                hit = set(legacy_touched.get(i, []))
                rest = {b: fs for b, fs in sp["buckets"].items() if b not in hit}
                if rest:
                    new_legacy.append({"nbuckets": sp["nbuckets"], "buckets": rest})
            legacy = new_legacy

        if obs is not None:  # prune=False: batch facts observed during the write
            events_in = int(obs.get["count"])
            batch_max_seq = obs.get["max_seq"]
        rows_written = int(written_obs.get["rows"])

        # per-file column metrics: new files get footer-derived min/max
        # (one executor-side metadata job over the touched buckets' files,
        # never a serial driver loop), untouched files carry their
        # parent-manifest stats forward, dereferenced files drop out
        # (keyed by root-relative identity, like expiry)
        file_stats = dict(m.get("file_stats") or {})
        if stats_cols or props.get("track_counts"):
            file_stats.update(_collect_file_stats(self.spark, written_files, stats_cols))
        live = {_file_identity(f) for fs in new_buckets.values() for f in fs} | {
            _file_identity(f)
            for sp in legacy
            for fs in sp["buckets"].values()
            for f in fs
        }
        file_stats = {k: v for k, v in file_stats.items() if k in live}
        bloom_cols = [c for c in props.get("bloom_cols") or []]
        if bloom_cols:
            _write_file_blooms(
                self.spark,
                written_files,
                bloom_cols,
                int(props.get("bloom_bits", 1 << 17)),
                int(props.get("bloom_hashes", 7)),
            )

        committed = dict(m["committed_batches"])
        hwm = dict(m.get("batch_hwm") or {})
        if batch_id is not None:
            committed[str(batch_id)] = version
            writer, seq = _parse_batch_id(batch_id)
            if seq is not None:
                # the HWM advances only over the writer's CONTIGUOUS
                # committed prefix (base 0 or 1), absorbing any in-window
                # entries that now connect — so skipping at seq <= hwm is
                # EXACT even when batches are applied out of order (gaps
                # live in the window; a gap still open when its later
                # entries get evicted falls back to LWW state-idempotence).
                h = hwm.get(writer, -1)
                if (h == -1 and seq in (0, 1)) or seq == h + 1:
                    h = seq
                    wseqs = {
                        s
                        for k in committed
                        for w2, s in (_parse_batch_id(k),)
                        if w2 == writer and s is not None
                    }
                    while h + 1 in wseqs:
                        h += 1
                    hwm[writer] = h
        # ledger compaction (VERDICT r04 #1): retain only the recent window —
        # older entries are covered by batch_hwm (parseable ids) or by LWW
        # state-idempotence. Manifest size stays FLAT over a long stream.
        ledger_keep = int((m.get("props") or {}).get("ledger_keep", 128))
        committed = {k: v for k, v in committed.items() if v > version - ledger_keep}
        if not (with_stats and events_in):
            keys_after = -1
        elif prune:
            keys_after = sum(r["keys"] for r in bucket_counts)
        else:  # an observed metric cannot count distinct values
            keys_after = delta.select(*keys).distinct().count()
        watermark = self._seq_watermark(m)
        if batch_max_seq is not None:
            watermark = max(watermark, batch_max_seq)
        wall_ms = int((time.time() - t0) * 1000)

        manifest = {
            **m,
            "version": version,
            "schema": schema_json,
            "buckets": new_buckets,
            "dirty": sorted(dirty),
            "legacy": legacy,
            "file_stats": file_stats,
            "committed_batches": committed,
            "batch_hwm": hwm,
            "max_seq": watermark,
            "parent": m["version"],
            "committed_ts": time.time(),
            # per-commit summary (Iceberg snapshot-summary analog) — what the
            # metadata tables (history_df/snapshots_df) and the batch
            # metrics/lineage views (cdc.metrics) surface per version. It
            # lands atomically with the commit, so a committed batch's
            # telemetry can never be lost. lineage: bucket -> [events_in,
            # upserts, deletes]; None on the prune=False path.
            "summary": {
                "operation": operation,
                "mode": mode,
                "batch_id": batch_id,
                "events_in": events_in,
                "keys_upserted": keys_after if keys_after >= 0 else None,
                "dupes_dropped": events_in - keys_after if keys_after >= 0 else None,
                "buckets_touched": len(touched),
                "files_written": files_written,
                "rows_written": rows_written,
                "wall_ms": wall_ms,
                "lineage": lineage,
            },
        }
        # optimistic concurrency: the snapshot this merge was planned against
        # must still be current at commit time (single-writer contract; on a
        # conflict the new version's files are unreferenced → retry-safe)
        if self.current_version() != m["version"]:
            raise ConcurrentWriteError(
                f"table advanced to v{self.current_version()} while merging "
                f"against v{m['version']}; retry the merge"
            )
        self._commit_manifest(manifest)
        self._swap_pointer(version)

        return MergeStats(
            batch_id=batch_id,
            version=version,
            events_in=events_in,
            keys_after_dedup=keys_after,
            buckets_touched=len(touched),
            rows_written=rows_written,
            wall_ms=wall_ms,
            mode=mode,
            buckets_migrated=sum(len(v) for v in legacy_touched.values()),
            files_written=files_written,
        )
