"""Streaming monitoring: windowed counts + threshold alerts.

Batch analogue of the reference's KQL alert (README.md:239-244: fire when
filtered row count ≥ 1 within the evaluation window, severity attached) is
``operators.relational.count_alert``; this module is the continuous form.

Scale posture: watermark bounds state; the windowed count is a streaming
partial+final aggregate (state keyed by window × event_type — thousands of
keys, not rows); ``foreachBatch`` gives exactly-once alert emission against
an idempotent sink.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pyspark.sql import types as T

from datalake_brief_spark.catalog import TABLES

# Streamed events carry a real (µs) timestamp — the catalog's raw-ns long is
# a TESTDATA parquet artifact that load_table converts on read; anything our
# engine lands for streaming has the converted layout.
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        f if f.name != "ts" else T.StructField("ts", T.TimestampType())
        for f in TABLES["events"].fields
    ]
)


@dataclass
class Alert:
    window_start: str
    window_end: str
    key: str
    n: int
    severity: int


def stream_events(spark: SparkSession, directory: str) -> DataFrame:
    """File-source stream over the events table layout (new parquet files in
    ``directory`` become micro-batches). Kafka would be the production
    source; the file source exercises identical plan machinery."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(directory)
    )


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling (or sliding) windowed count + value sum per key with a
    watermark bounding late data and state size."""
    win = F.window(F.col("ts"), window, slide) if slide else F.window(F.col("ts"), window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.col(key_col),
            "n",
            "total_value",
        )
    )


def threshold_alert_stream(
    counts: DataFrame,
    threshold: int,
    on_alert: Callable[[list[Alert]], None],
    severity: int = 1,
    key_col: str = "event_type",
    query_name: str = "alerts",
) -> StreamingQuery:
    """Fire ``on_alert`` per micro-batch with the windows whose count crossed
    the threshold (reference alert semantics: ≥ N rows ⇒ fire, severity
    attached; README.md:243-244 uses N=1, severity 1 'Error')."""

    def emit(batch_df: DataFrame, epoch_id: int) -> None:
        fired = batch_df.filter(F.col("n") >= threshold).collect()
        if fired:
            on_alert(
                [
                    Alert(
                        window_start=str(r["window_start"]),
                        window_end=str(r["window_end"]),
                        key=r[key_col],
                        n=r["n"],
                        severity=severity,
                    )
                    for r in fired
                ]
            )

    return (
        counts.writeStream.outputMode("update")
        .queryName(query_name)
        .foreachBatch(emit)
        .start()
    )


def alerts_to_parquet(
    counts: DataFrame,
    path: str,
    threshold: int,
    query_name: str = "alert_sink",
) -> StreamingQuery:
    """Durable alert sink: fired windows land in parquet, exactly-once.

    ``foreachBatch`` gives at-least-once by default (a batch may replay
    after failure); idempotency comes from writing each micro-batch into
    its own ``epoch=<id>`` partition with DYNAMIC partition overwrite —
    a replayed epoch overwrites its own directory instead of appending
    duplicates. This is the standard exactly-once recipe for file sinks
    behind foreachBatch; a transactional table format replaces the
    directory trick with a MERGE on (epoch, window, key).
    """

    def emit(batch_df: DataFrame, epoch_id: int) -> None:
        fired = batch_df.filter(F.col("n") >= threshold).withColumn(
            "epoch", F.lit(epoch_id).cast("long")
        )
        (
            fired.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(path)
        )

    return (
        counts.writeStream.outputMode("update")
        .queryName(query_name)
        .foreachBatch(emit)
        .start()
    )
