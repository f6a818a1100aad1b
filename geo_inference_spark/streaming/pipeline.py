"""Streaming pipelines over the pages table shape.

readStream -> (stateless geocode / extract) -> watermarked windowed
aggregation -> sink. Stateless stages are the SAME functions the
batch engine uses (the geocode and text JVM expressions); only the
aggregation differs (event-time window + watermark instead of a
plain groupBy), which is exactly Structured Streaming's contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.geocode import hex_cell_udf

PAGES_DDL = (
    "page_id long, url string, warc_ts timestamp, html binary, "
    "text string, lang string, lat double, lon double"
)


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream of page parquet drops (the CC-crawl
    ingestion shape: WARC batches land as files; at scale this is a
    Kafka/queue source with the same downstream plan)."""
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def geocode_stream(stream: DataFrame, res: int = 8) -> DataFrame:
    """Stateless geocode — identical operator as batch."""
    return stream.withColumn(
        "cell", hex_cell_udf(res)(F.col("lat"), F.col("lon"))
    )


def windowed_lang_counts(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling window counts per lang with late-data
    tolerance = watermark."""
    return (
        stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n",
        )
    )


def run_stream_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
):
    """availableNow run into a memory sink (tests / backfills): drains
    everything currently in the source, then stops."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def foreach_batch_pip(
    spark: SparkSession, stream: DataFrame, polygons_pdf, res: int, sink_path: str
):
    """PIP join per micro-batch via foreachBatch — reuses the exact
    batch operator (operators/pip_join.pip_join) against each batch,
    appending matches to a parquet/Iceberg sink."""
    from ..operators.pip_join import pip_join

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        out = pip_join(
            spark, batch_df, polygons_pdf, res=res, keep_cols=("page_id",)
        )
        out.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            sink_path
        )

    return (
        stream.writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )


def sessionize_stream(stream: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Custom STATEFUL operator via applyInPandasWithState: per-user
    gap-based sessionization with state carried across micro-batches
    (the Structured Streaming form of q_events_sessions' lag-window).

    State per user = (last event epoch, session count, event count);
    each trigger folds its rows in event-time order into the carried
    state and emits the running totals (update mode). With input
    files ordered by event time the final emitted row per user equals
    the batch computation exactly — pinned in test_streaming.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap = float(gap_seconds)

    def fn(key, pdf_iter, state: GroupState):
        if state.exists:
            last_ts, n_sessions, n_events = state.get
        else:
            last_ts, n_sessions, n_events = None, 0, 0
        rows = pd.concat(list(pdf_iter))
        for ts in rows["ts"].sort_values():
            t = ts.timestamp()
            if last_ts is None or t - last_ts > gap:
                n_sessions += 1
            last_ts = t
            n_events += 1
        state.update((last_ts, n_sessions, n_events))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_sessions long, n_events long",
        stateStructType="last_ts double, n_sessions long, n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming EXACT dedup on content hash: md5(text) ->
    dropDuplicatesWithinWatermark. The ingest-time dedup shape for a
    10^12-page crawl: duplicates overwhelmingly arrive close together
    (same crawl wave / mirror set), so state is bounded by the
    event-time watermark instead of growing with the corpus; the
    historical long-range pass stays the batch MinHash+LSH pipeline
    (text/dedup.py). Streamed == batch distinct proven in
    test_streaming.py."""
    return (
        stream.withColumn("text_hash", F.md5(F.col("text")))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def attribution_join_stream(
    views: DataFrame,
    purchases: DataFrame,
    window_seconds: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """STREAM-STREAM inner join with event-time range condition: each
    purchase joins the same user's views in the preceding
    ``window_seconds`` — the attribution shape. Both sides carry
    watermarks and the join predicate bounds event-time distance, so
    Structured Streaming can drop buffered view state older than
    watermark + window instead of holding both streams forever — the
    state-boundedness contract stream-stream joins require at 100 TB.
    Streamed == batch join proven in test_streaming.py."""
    v = views.withWatermark("ts", watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    return v.join(
        p,
        F.expr(
            "v_user = p_user AND purchase_ts >= view_ts AND "
            f"purchase_ts <= view_ts + INTERVAL {int(window_seconds)} SECONDS"
        ),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id", "purchase_id", "view_ts", "purchase_ts",
        "purchase_value",
    )
