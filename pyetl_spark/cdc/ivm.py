"""Incremental view maintenance over the change feed (Delta/Flink
"materialized view over CDF" analog; reference analog: pyetl recomputes its
stat tables from scratch per run — traitement_stats.py — which at 10^10
events is exactly what a change feed exists to avoid).

``delta_aggregate`` turns a :meth:`SnapshotTable.changes` slice into
ADDITIVE per-group deltas (inserts/post-images count +1, deletes/pre-images
count −1 — an update that moves a row between groups therefore debits the
old group and credits the new one with no special casing).
:class:`IncrementalAgg` folds those deltas into a persistent aggregate
table: cost per apply ∝ the groups the batch touched, never the size of the
base table or of the view. The fold reads the live groups of the state
buckets the deltas hash into, so its output IS those buckets' complete new
content: it is committed as such (:meth:`SnapshotTable.replace_buckets`,
the Iceberg ReplacePartitions analog) — one write job, with no second read,
LWW aggregate or pre-pass of a generic merge. Groups whose count reaches
zero are written as tombstones, so the view's own change feed emits
``delete`` for them (chained views, :class:`IncrementalDistinct`, consume
that feed).

Sums are maintained in DECIMAL so incremental (+x then −x) arithmetic is
exact — float sums drift under reordering, and a maintained view must stay
byte-equal to the recomputed truth indefinitely. ``sumsq_cols`` maintains
sums of squares under the same exact-decimal discipline, which makes AVG
and VARIANCE purely additive too (:meth:`IncrementalAgg.stats` derives
them from the exact sums at read time — the Flink incremental-AVG/STDDEV
accumulator analog, with no retract special-casing because retraction is
just a sign flip on an exact number).

MIN/MAX are NOT additive under retraction (deleting the current minimum
tells you nothing about the runner-up), so they are maintained with the
standard boundary-hit discipline (the Flink retract-stream analog): inserts
fold for free (``least(cur_min, batch_min)``), and a group needs a
recompute ONLY when some retracted value touches the boundary —
``del_min <= least(cur_min, ins_min)`` (symmetric with greatest/>= for
max). Non-dirty folds are exact: every retracted value is strictly greater
than m = least(cur_min, ins_min), so the row carrying m survives the slice
and every other survivor is >= m. Dirty groups (typically a tiny fraction
of touched groups) are recomputed from the base table restricted to those
groups via a broadcast inner join — cost ∝ base rows in dirty groups, and
the base read prunes with whatever file metrics / clustering the source
table carries. When no retraction hits a boundary the base table is not
read at all.
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pyetl_spark.cdc.tableio import DELETED, SEQ, MergeStats, SnapshotTable, _bucket_col

_SIGN = {
    "insert": 1,
    "update_postimage": 1,
    "delete": -1,
    "update_preimage": -1,
}


def delta_aggregate(
    changes: DataFrame,
    group_cols: Sequence[str],
    sum_cols: Sequence[str] = (),
    decimal: str = "decimal(28,6)",
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    sumsq_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-group additive deltas for a CDF slice: ``d_count`` plus one
    ``d_sum_<col>`` per ``sum_cols`` entry (cast to ``decimal`` for exact
    fold-in/fold-out). One hash aggregate; groups whose net effect cancels
    within the slice (e.g. a row updated without changing group or summed
    values) still emit a zero row — harmless, and filtering them would cost
    more than merging them.

    ``sumsq_cols`` adds ``d_sumsq_<col>`` — the signed sum of SQUARES,
    which is additive under retraction exactly like a plain sum, so AVG
    and VARIANCE views need no boundary-hit machinery at all (contrast
    min/max below). The operand is cast to decimal(18,6) BEFORE squaring:
    the product is then decimal-exact (scale 12), and re-casting to the
    accumulator ``decimal`` stays exact whenever inputs carry ≤3 fractional
    digits — drift-free fold-in/fold-out indefinitely.

    For ``min_cols`` / ``max_cols`` the slice is split by sign inside the
    same aggregate: ``ins_min_<c>`` / ``del_min_<c>`` (and ``ins_max_<c>``
    / ``del_max_<c>``) carry the inserted-side and retracted-side extremes
    the fold-vs-recompute decision needs."""
    sign = F.col("_change_type")
    expr = F.lit(None).cast("int")
    for ct, s in _SIGN.items():
        expr = F.when(sign == ct, F.lit(s)).otherwise(expr)
    base = changes.withColumn("__sign", expr)
    ins = F.col("__sign") == 1
    aggs = [F.sum("__sign").cast("long").alias("d_count")]
    for c in sum_cols:
        aggs.append(
            F.sum(F.col("__sign") * F.col(c).cast(decimal))
            .cast(decimal)
            .alias(f"d_sum_{c}")
        )
    for c in sumsq_cols:
        v = F.col(c).cast("decimal(18,6)")
        aggs.append(
            F.sum(F.col("__sign") * (v * v).cast(decimal))
            .cast(decimal)
            .alias(f"d_sumsq_{c}")
        )
    for c in min_cols:
        aggs.append(F.min(F.when(ins, F.col(c))).alias(f"ins_min_{c}"))
        aggs.append(F.min(F.when(~ins, F.col(c))).alias(f"del_min_{c}"))
    for c in max_cols:
        aggs.append(F.max(F.when(ins, F.col(c))).alias(f"ins_max_{c}"))
        aggs.append(F.max(F.when(~ins, F.col(c))).alias(f"del_max_{c}"))
    return base.groupBy(*group_cols).agg(*aggs)


class IncrementalAgg:
    """A persistent COUNT/SUM/MIN/MAX-per-group view maintained from
    change-feed slices. State lives in a :class:`SnapshotTable` keyed on
    the group columns, so applies inherit the table's exactly-once batch
    ledger (a replayed slice is a no-op), atomic commits, time travel,
    expiry and rollback. Groups whose count returns to zero are deleted
    from the view (tombstoned), mirroring what a recompute would show.

    ``min_cols`` / ``max_cols`` enable the non-additive extremes: applies
    whose retractions hit a group's boundary value need ``base=`` (the
    source table's state AT THE SLICE'S END VERSION — pass the
    :class:`SnapshotTable` itself, or a time-travel read for historical
    catch-up) to recompute exactly those groups; every other group folds
    without touching the base (see the module docstring for the
    correctness argument)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        group_cols: Sequence[str],
        sum_cols: Sequence[str] = (),
        nbuckets: int = 16,
        min_cols: Sequence[str] = (),
        max_cols: Sequence[str] = (),
        sumsq_cols: Sequence[str] = (),
    ):
        self.spark = spark
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols)
        self.min_cols = list(min_cols)
        self.max_cols = list(max_cols)
        self.sumsq_cols = list(sumsq_cols)
        cfg = {
            "view_group_cols": self.group_cols,
            "view_sum_cols": self.sum_cols,
            "view_min_cols": self.min_cols,
            "view_max_cols": self.max_cols,
            "view_sumsq_cols": self.sumsq_cols,
        }
        if SnapshotTable.exists(root):
            self.table = SnapshotTable(spark, root)
            # `or []`: count/sum views created before min/max support
            # carry no min/max props — same definition as empty lists
            got = {k: self.table.props().get(k) or [] for k in cfg}
            if got != cfg:
                raise ValueError(
                    f"IncrementalAgg at {root} was created with {got}, "
                    f"reopened with {cfg} — refusing to mix view definitions"
                )
        else:
            self.table = SnapshotTable.create(
                spark, root, keys=self.group_cols, nbuckets=nbuckets, props=cfg
            )

    def apply(
        self,
        changes: DataFrame,
        batch_id: str,
        base: DataFrame | SnapshotTable | None = None,
    ) -> MergeStats:
        """Fold one CDF slice into the view and commit the result as the
        new content of the state buckets the slice's groups hash into
        (:meth:`SnapshotTable.replace_buckets`). Reads ONLY those buckets
        (cost ∝ touched groups); a group the slice touched gets a fresh
        ``_seq``, a group whose count reaches zero becomes a tombstone (so
        the view's own change feed emits ``delete``), every other live
        group of the bucket is carried over unchanged. Idempotent per
        ``batch_id`` via the table ledger. While the view table is inside
        a rescale window (``legacy`` buckets) the touched groups go
        through :meth:`SnapshotTable.merge` instead, which migrates them.

        With ``min_cols``/``max_cols`` configured, pass ``base`` (the
        source at the slice's END version) whenever the slice may contain
        retractions — it is read only if some group's boundary value was
        actually retracted, and then only the dirty groups' rows."""
        m = self.table.manifest()
        if self.table.is_committed(batch_id, manifest=m):
            return MergeStats(batch_id, m["version"], 0, 0, 0, 0, skipped=True)
        deltas = delta_aggregate(
            changes,
            self.group_cols,
            self.sum_cols,
            min_cols=self.min_cols,
            max_cols=self.max_cols,
            sumsq_cols=self.sumsq_cols,
        )
        # pin the (small) delta frame: the fold below reuses it (without
        # the pin the CDF diff would run again), and the job that pins it
        # also observes the state buckets its groups hash into
        bucket = _bucket_col(m.get("bucket_cols", m["keys"]), m["nbuckets"])
        touched_obs = Observation()
        deltas = deltas.observe(touched_obs, F.collect_set(bucket).alias("b"))
        deltas = deltas.localCheckpoint(eager=True)
        touched = sorted(touched_obs.get["b"])
        seq = self.table.max_seq() + 1
        sum_names = [f"sum_{c}" for c in self.sum_cols]
        sumsq_names = [f"sumsq_{c}" for c in self.sumsq_cols]
        min_names = [f"min_{c}" for c in self.min_cols]
        max_names = [f"max_{c}" for c in self.max_cols]
        state_cols = [*self.group_cols, "count", *sum_names, *sumsq_names, *min_names, *max_names]
        # the fold is ONE aggregate over (live state rows ∪ delta rows):
        # counts and sums add, mins/maxes take least/greatest, and a state
        # row brings its _seq, a delta row the __hit mark. del_min/del_max
        # only come from the deltas (the boundary-hit test below).
        fold_in = deltas.select(
            *self.group_cols,
            F.col("d_count").alias("count"),
            *[F.col(f"d_sum_{c}").alias(n) for c, n in zip(self.sum_cols, sum_names)],
            *[F.col(f"d_sumsq_{c}").alias(n) for c, n in zip(self.sumsq_cols, sumsq_names)],
            *[F.col(f"ins_min_{c}").alias(n) for c, n in zip(self.min_cols, min_names)],
            *[F.col(f"ins_max_{c}").alias(n) for c, n in zip(self.max_cols, max_names)],
            *[F.col(f"del_min_{c}") for c in self.min_cols],
            *[F.col(f"del_max_{c}") for c in self.max_cols],
            F.lit(True).alias("__hit"),
            F.lit(None).cast("long").alias("__seq"),
        )
        # the view's stored column types: the fold writes back the same ones
        stored = (
            {f.name: f.dataType for f in StructType.fromJson(json.loads(m["schema"])).fields}
            if m.get("schema")
            else {}
        )
        # live groups of the touched buckets, each with its own _seq
        raw = self.table.resolved_raw(m["version"], buckets=touched)
        if raw is not None:
            live = raw.filter(~F.col(DELETED)).select(
                *state_cols, F.lit(False).alias("__hit"), F.col(SEQ).alias("__seq")
            )
            fold_in = live.unionByName(fold_in, allowMissingColumns=True)
        # one exchange, by state bucket: the fold groups on (bucket,
        # group_cols), and replace_buckets' write reuses the partitioning
        fold_in = fold_in.repartition(max(len(touched), 1), bucket)
        folded = fold_in.groupBy(bucket, *self.group_cols).agg(
            F.sum("count").alias("count"),
            *[
                F.sum(n).cast(stored.get(n, fold_in.schema[n].dataType)).alias(n)
                for n in sum_names + sumsq_names
            ],
            *[F.min(n).alias(n) for n in min_names],
            *[F.max(n).alias(n) for n in max_names],
            *[F.min(f"del_min_{c}").alias(f"del_min_{c}") for c in self.min_cols],
            *[F.max(f"del_max_{c}").alias(f"del_max_{c}") for c in self.max_cols],
            F.max("__hit").alias("__hit"),
            F.max("__seq").alias("__seq"),
        )
        # the boundary-hit flag (module docstring): a retraction <= the
        # folded min (= least(cur_min, ins_min)) may have removed the
        # minimum's carrier row — only those groups need the base table
        dirty = F.lit(False)
        for c, n in zip(self.min_cols, min_names):
            dirty = dirty | F.coalesce(F.col(f"del_min_{c}") <= F.col(n), F.lit(False))
        for c, n in zip(self.max_cols, max_names):
            dirty = dirty | F.coalesce(F.col(f"del_max_{c}") >= F.col(n), F.lit(False))
        folded = folded.select(*state_cols, dirty.alias("__dirty"), "__hit", "__seq")
        if self.min_cols or self.max_cols:
            folded = self._recompute_dirty(folded, base)
        if m.get("legacy"):
            # rescale window: merge() is the path that migrates the legacy
            # buckets these groups may still live in
            return self.table.merge(
                folded.where("__hit").select(
                    *state_cols,
                    F.when(F.col("count") <= 0, F.lit("delete"))
                    .otherwise(F.lit("upsert"))
                    .alias("op"),
                    F.lit(seq).alias("seq"),
                ),
                batch_id=batch_id,
            )
        rows = folded.select(
            *state_cols,
            F.when(F.col("__hit"), F.lit(seq))
            .otherwise(F.col("__seq"))
            .cast(stored.get(SEQ, "long"))
            .alias(SEQ),
            (F.col("count") <= 0).alias(DELETED),
        )
        return self.table.replace_buckets(rows, touched, m["version"], batch_id=batch_id)

    def _recompute_dirty(self, folded: DataFrame, base) -> DataFrame:
        """Replace fold candidates with base-table recomputes for the
        (usually empty) set of groups whose boundary value was retracted.
        folded is pinned first: it gates whether base is read at all, and
        is reused by the commit — without the pin the CDF diff and the
        state read would both run twice."""
        folded = folded.localCheckpoint(eager=True)
        min_names = [f"min_{c}" for c in self.min_cols]
        max_names = [f"max_{c}" for c in self.max_cols]
        dirty_keys = folded.where(F.col("__dirty") & (F.col("count") > 0)).select(
            *self.group_cols
        )
        if dirty_keys.isEmpty():
            return folded.drop("__dirty")
        if base is None:
            raise ValueError(
                "this change slice retracts a group's min/max boundary "
                "value — pass base= (the source at the slice's end "
                "version) so the dirty groups can be recomputed"
            )
        if isinstance(base, SnapshotTable):
            base = base.read()
        rec = (
            base.join(F.broadcast(dirty_keys), on=self.group_cols, how="inner")
            .groupBy(*self.group_cols)
            .agg(
                *[F.min(c).alias(f"rec_{n}") for c, n in zip(self.min_cols, min_names)],
                *[F.max(c).alias(f"rec_{n}") for c, n in zip(self.max_cols, max_names)],
            )
        )
        j = folded.join(rec, on=self.group_cols, how="left")
        # recomputed values win on dirty groups even when NULL (a group
        # whose only non-null value was retracted has min NULL — coalesce
        # would wrongly resurrect the fold candidate)
        return j.select(
            *[
                F.when(F.col("__dirty"), F.col(f"rec_{c}")).otherwise(F.col(c)).alias(c)
                if c in min_names + max_names
                else F.col(c)
                for c in folded.columns
                if c != "__dirty"
            ]
        )

    def state(self) -> DataFrame:
        """Current view contents (group_cols, count, sum_<col>…,
        sumsq_<col>…, min_<col>…, max_<col>…)."""
        return self.table.read()

    def stats(self) -> DataFrame:
        """:meth:`state` plus derived ``avg_<c>`` / ``var_<c>`` (population
        variance) for every column maintained in BOTH ``sum_cols`` and
        ``sumsq_cols``. The stored sums are decimal-exact, so the derived
        values are a single deterministic double computation over exact
        inputs — a maintained view's AVG/VAR stays equal to a from-scratch
        recompute no matter how many folds produced it. Formula is the
        textbook E[x²] − E[x]² over exact sums (no Welford needed: there is
        no float accumulation anywhere)."""
        df = self.state()
        n = F.col("count").cast("double")
        for c in self.sumsq_cols:
            if c not in self.sum_cols:
                continue
            m = F.col(f"sum_{c}").cast("double") / n
            var = F.col(f"sumsq_{c}").cast("double") / n - m * m
            df = (
                df.withColumn(f"avg_{c}", m)
                .withColumn(f"var_{c}", var)
                # greatest(0, var) before sqrt: E[x²]−E[x]² over exact sums
                # can still round a true-zero variance to a tiny negative
                # double; sqrt of that would be NaN
                .withColumn(f"std_{c}", F.sqrt(F.greatest(var, F.lit(0.0))))
            )
        return df


class IncrementalDistinct:
    """COUNT(DISTINCT col)-per-group, maintained incrementally as TWO
    chained :class:`IncrementalAgg` views: an inner multiplicity view
    keyed ``group_cols + [col]`` absorbs the base change feed (its count
    is how many base rows carry that (group, value) pair), and an outer
    view counts the inner table's live rows per group by consuming the
    INNER TABLE'S OWN change feed. Distinct-count deltas fall out of the
    chain with no special casing: a pair's multiplicity reaching zero
    tombstones the inner row, whose feed 'delete' decrements the outer
    count; multiplicity changes on a surviving pair emit paired pre/post
    images that cancel (the Flink two-level distinct-agg analog —
    reference analog: pyetl's cnt_val_uniq statistics, which recompute
    from scratch per run, traitement_stats.py).

    Scale shape: inner state ∝ live DISTINCT (group, value) pairs and is
    bucket-pruned per apply like any view; outer state ∝ groups; per-batch
    cost ∝ pairs the batch touched. Both levels sit on the table ledger —
    the outer keeps a cursor over inner commit versions (``iv<version>``
    keys), so a crash between the two applies, or a replayed slice, is
    healed by the next call."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        group_cols: Sequence[str],
        col: str,
        nbuckets: int = 16,
    ):
        import os

        self.group_cols = list(group_cols)
        self.col = col
        self.inner = IncrementalAgg(
            spark,
            os.path.join(root, "multiplicity"),
            self.group_cols + [col],
            nbuckets=nbuckets,
        )
        self.outer = IncrementalAgg(
            spark, os.path.join(root, "distinct"), self.group_cols, nbuckets=nbuckets
        )

    def apply(self, changes: DataFrame, batch_id: str) -> MergeStats:
        """Fold one base-feed slice through both levels. Idempotent: the
        inner apply no-ops on a replayed ``batch_id``; the outer catch-up
        below is cursor-driven off the inner ledger, so it also finishes
        any outer work a previous crash left behind."""
        stats = self.inner.apply(changes, batch_id)
        applied = {
            int(b[2:])
            for b in self.outer.table.committed_batches()
            if b.startswith("iv") and b[2:].isdigit()
        }
        cursor = max(applied, default=0)
        current = self.inner.table.current_version()
        prev = cursor
        for v in self.inner.table._lineage(cursor, current)[1:]:
            if v not in applied:
                self.outer.apply(self.inner.table.changes(prev, v), batch_id=f"iv{v}")
            prev = v
        return stats

    def state(self) -> DataFrame:
        """(group_cols…, n_distinct) — live groups only."""
        return self.outer.state().select(
            *self.group_cols, F.col("count").alias("n_distinct")
        )
