"""Structured Streaming CDC tail: file-source change events → exactly-once
MERGE into the snapshot table.

This is the engine's recast of the reference's polling batch loop
(``iter_boucle`` parallel.py:729-763, calendar triggers
traitement_conditions.py:825-988) and streaming writes
(generic_io.py:943-959) into genuine Structured Streaming (SURVEY §2.9):

- source: ``readStream`` over a directory of event-batch parquet files
  (deterministic files → the source offset log is exactly replayable, so a
  killed job resumes from its checkpoint with no loss and no double-apply).
- per micro-batch (``foreachBatch``):
    1. apply the transform-rule pipeline (vectorized Columns / pandas UDFs),
    2. LWW-dedup + MERGE into the SnapshotTable keyed (repo, path) —
       idempotent via the committed-batch ledger (``stream:<epochId>``), so
       Spark's at-least-once foreachBatch redelivery becomes exactly-once.
       The commit's summary carries the batch metrics and per-bucket
       lineage (``cdc.metrics.read_metrics``/``read_lineage``), so they
       land exactly once with the data and need no job of their own.
- watermark bookkeeping: the table's ``max_seq()`` is the replay watermark
  (reference: ``dbmaxval`` traitement_db.py:848-885), kept in the manifest
  by every commit.

At cluster scale the same code runs against a Kafka/binlog source — the
source swap is one line (``readStream.format("kafka")`` + from_json), the
sink path is unchanged.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from pyetl_spark.cdc.datagen import EVENT_SCHEMA
from pyetl_spark.cdc.metrics import record_batch_metrics, record_lineage  # noqa: F401 (no-ops, kept importable)
from pyetl_spark.cdc.tableio import SnapshotTable


class StreamingIngest:
    def __init__(
        self,
        spark: SparkSession,
        events_dir: str,
        table: SnapshotTable,
        checkpoint_dir: str,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        schema: str = EVENT_SCHEMA,
        max_files_per_trigger: int = 4,
        processing_time: str | None = None,
        reader_factory: Callable[[SparkSession], DataFrame] | None = None,
    ):
        self.spark = spark
        self.events_dir = events_dir
        self.table = table
        self.checkpoint_dir = checkpoint_dir
        self.transform = transform
        self.schema = schema
        self.max_files_per_trigger = max_files_per_trigger
        # polling-cadence trigger (the reference's minute-granularity
        # calendar triggers, is:valid_date/time traitement_conditions.py:
        # 825-988, recast as Trigger.ProcessingTime). None = availableNow:
        # drain everything present, then stop (batch-replay mode).
        self.processing_time = processing_time
        # alternate streaming source (e.g. cdc.kafka_source.kafka_ingest):
        # replaces the default file tail; the sink/exactly-once path is
        # source-agnostic. When set, events_dir is only advisory.
        self.reader_factory = reader_factory
        self.batches_seen: list[str] = []

    # ----------------------------------------------------------------- sink

    def _apply_transform(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        """run the transform; a transform whose second POSITIONAL parameter
        has no default — or is explicitly named ``epoch_id``/``batch_id`` —
        also receives the micro-batch epoch id, so side-effecting transforms
        (dead-letter sinks, per-batch audit writes) can key their output by
        batch and stay idempotent under foreachBatch's at-least-once
        redelivery — the same guard the MERGE ledger gives the main sink.
        An unrelated default kwarg (``lambda df, limit=10: …``) or
        ``**kwargs`` never receives it."""
        if self.transform is None:
            return batch_df
        import inspect

        takes_epoch = False
        try:
            params = list(inspect.signature(self.transform).parameters.values())
            takes_epoch = (
                len(params) >= 2
                and params[1].kind
                in (params[1].POSITIONAL_ONLY, params[1].POSITIONAL_OR_KEYWORD)
                and (
                    params[1].default is params[1].empty
                    or params[1].name in ("epoch_id", "batch_id")
                )
            )
        except (TypeError, ValueError):  # builtins / odd callables
            pass
        return self.transform(batch_df, epoch_id) if takes_epoch else self.transform(batch_df)

    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        batch_id = f"stream:{epoch_id}"
        self.batches_seen.append(batch_id)
        df = self._apply_transform(batch_df, epoch_id)
        self.table.merge(df, batch_id=batch_id, with_stats=True)

    # ---------------------------------------------------------------- driver

    def start(self) -> StreamingQuery:
        if self.reader_factory is not None:
            reader = self.reader_factory(self.spark)
        else:
            reader = (
                self.spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", str(self.max_files_per_trigger))
                .option("recursiveFileLookup", "true")
                .parquet(self.events_dir)
            )
        writer = reader.writeStream.foreachBatch(self._process_batch).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if self.processing_time:
            writer = writer.trigger(processingTime=self.processing_time)
        else:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_until_drained(self, timeout_sec: int = 600) -> None:
        """process everything currently in events_dir, then stop."""
        q = self.start()
        q.awaitTermination(timeout_sec)
        if q.isActive:
            q.stop()
