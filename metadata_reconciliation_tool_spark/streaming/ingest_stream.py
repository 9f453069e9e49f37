"""Streaming incremental reconciliation — ST1 micro-batching composed with
the atomic batch-commit contract of :mod:`..plans.incremental`.

Production shape at 10^12 turns: the historical corpus is reconciled once
with :class:`..plans.pipeline.ReconPipeline` (bootstrap state), then new
transcripts arrive continuously (an Iceberg/file stream) and each
micro-batch is reconciled against the checkpointed state via
``IncrementalRecon.ingest_batch`` inside ``foreachBatch``:

- per-batch candidates touch the batch only (old↔old pairs are never
  materialized);
- Spark's streaming checkpoint gives at-least-once micro-batch delivery;
  redelivery is safe because the batch id is the (stable) streaming batch
  id and ingest_batch overwrites its own uncommitted leftovers before
  dropping the ``_COMMITTED`` marker — an exactly-once *effect* from an
  at-least-once channel;
- the seen-key anti-join makes re-mentions of known entities free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..plans.incremental import IncrementalRecon
from ..schemas import TRANSCRIPTS


def stream_ingest_transcripts(
    spark: SparkSession,
    input_path: str,
    dictionary: DataFrame,
    work_dir: str,
    job_id: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Reconcile a growing directory/table of transcripts incrementally.

    ``available_now=True`` drains everything currently available then stops
    (backfill / test mode); leave False for a continuously-running query.
    """
    inc = IncrementalRecon(spark, work_dir, job_id)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        inc.ingest_batch(batch_df, dictionary, batch_id=f"s{batch_id:06d}")

    reader = spark.readStream.schema(TRANSCRIPTS)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)
    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
