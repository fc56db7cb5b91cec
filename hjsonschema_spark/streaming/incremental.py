"""Incremental validation via Structured Streaming.

The north rule's primary mode is checkpointed incremental BATCH
(checks/checkpoint.py). This module is the streaming face of the same
engine: a file-source stream + ``foreachBatch`` runs the identical
check suite on every new micro-batch and appends violations +
per-batch verdicts. ``Trigger.AvailableNow`` gives catch-up-then-stop
semantics (process everything new, then exit), which composes with a
scheduler into exactly the incremental-batch pattern — with Spark's
own streaming checkpoint tracking processed files.

Row-level and within-batch table checks apply per micro-batch;
cross-batch global checks (table-wide uniqueness) belong to the batch
engine, not the stream (documented limitation, same as checkpoint.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hjsonschema_spark.checks.engine import run_suite
from hjsonschema_spark.checks.ir import CheckSuite


def validate_stream(
    spark: SparkSession,
    input_path: str,
    schema_ddl: str,
    suite: CheckSuite,
    out_path: str,
    checkpoint_dir: str,
    vocab_tables: dict[str, DataFrame] | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start (and with available_now=True, run to completion) a
    streaming validation over a growing parquet directory.

    Outputs under ``out_path``:
      violations/  — violation rows + batch_id
      verdicts/    — per-check verdict rows + batch_id
    Returns the StreamingQuery (already awaited if available_now)."""
    reader = spark.readStream.schema(schema_ddl)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = run_suite(batch_df, suite, vocab_tables=vocab_tables, persist=True)
        # violations FIRST (cache-fill ordering), verdicts second,
        # unpersist before the next micro-batch — without it a long
        # stream accumulates one violation-union cache per trigger and
        # GC-thrashes the executors (same leak fixed in bench/checkpoint)
        res.violations.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            f"{out_path}/violations"
        )
        res.verdicts.filter("scope = 'check'").withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(f"{out_path}/verdicts")
        res.unpersist()

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
