"""Structured Streaming surface — incremental ingest of the web-page /
events stream.

The reference is strictly batch; its closest analog is the API's multipart
ingest + background job (/root/reference/api/app/endpoints/refined_api.py:55-167,
noted in SURVEY.md §2.6). We expose the genuine Spark streaming model:

- windowed aggregation with watermarks (late-data-tolerant counts)
- incremental ER front-end: the extraction + mention stages are stateless
  maps, so the same operators run under ``readStream`` unchanged.

Tests drive these with the file source + ``Trigger.AvailableNow`` so they
are deterministic (no wall-clock dependence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(events: DataFrame,
                          window: str = "10 minutes",
                          watermark: str = "30 minutes") -> DataFrame:
    """events(ts TIMESTAMP, event_type STRING, value DOUBLE) →
    per-(window, event_type) count + value sum. Works identically on a
    batch or streaming DataFrame (same logical plan; the streaming planner
    adds state + watermark eviction)."""
    # parquet written by pandas/arrow can carry TIMESTAMP_NTZ; watermarks
    # require TIMESTAMP (with local tz), so normalize first
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if events.isStreaming:
        src = src.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"),
             F.sum("value").alias("value_sum"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "n_events", "value_sum")
    )


def streaming_dedup_first_seen(docs: DataFrame,
                               text_col: str = "text",
                               ts_col: str = "warc_ts",
                               watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming exact-dedup: keep the first-arrived row per
    content hash, with state EVICTION bounded by the event-time watermark
    (``dropDuplicatesWithinWatermark`` — without the watermark bound the
    dedup state grows with the full stream history, which is the thing
    that kills a 100 TB continuous ingest). Only the content hash is
    projected downstream, so the emitted set is deterministic even
    though which duplicate row arrives first is not."""
    src = docs.withColumn("content_hash",
                          F.md5(F.col(text_col).cast("binary"))) \
              .withColumn("_ts", F.col(ts_col).cast("timestamp"))
    if docs.isStreaming:
        src = (src.withWatermark("_ts", watermark)
               .dropDuplicatesWithinWatermark(["content_hash"]))
    else:
        src = src.dropDuplicates(["content_hash"])
    return src.select("content_hash")


def streaming_dedup_against_manifest(docs: DataFrame,
                                     manifest: DataFrame,
                                     text_col: str = "text",
                                     ) -> DataFrame:
    """Cross-snapshot dedup as a stream: the arriving increment
    anti-joins the STATIC corpus fingerprint manifest
    (incremental.corpus_manifest — key-width history state). Spark
    does not support stream-static left_anti, so the stateless
    equivalent is left_outer against the static side + null filter:
    no state store, no watermark — history membership is a property of
    the static frame, not of stream time. Composes with
    :func:`streaming_dedup_first_seen` (within-stream state) the way
    incremental.dedup_increment composes its manifest cut with the
    batch keep-first election. Schema preserved."""
    from ..operators.incremental import content_fingerprint

    helper, hit = "_fp", "_hit"
    while helper in docs.columns:
        helper += "_"
    while hit in docs.columns:
        hit += "_"
    probe = docs.withColumn(helper, content_fingerprint(text_col))
    m = manifest.select(F.col("fingerprint").alias(helper),
                        F.lit(True).alias(hit))
    fresh = (probe.join(m, [helper], "left_outer")
             .where(F.col(hit).isNull()))
    return fresh.select(*docs.columns)


RUNNING_TOTALS_SCHEMA = ("event_type string, n_events long, "
                         "value_sum double")
_RUNNING_STATE_SCHEMA = "n long, s double"


def running_type_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per
    event_type running (count, sum) totals carried in GroupState across
    micro-batches, re-emitted on every update — the pattern for custom
    incremental aggregates Spark's built-ins don't cover (the reference's
    closest analog is the API's per-job progress accumulator,
    api/app/services/job_service.py). Totals are order-insensitive, so
    the final emission is deterministic for a finite input regardless of
    batch boundaries."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame({"event_type": [key[0]], "n_events": [n],
                            "value_sum": [round(s, 4)]})

    return events.groupBy("event_type").applyInPandasWithState(
        fn, RUNNING_TOTALS_SCHEMA, _RUNNING_STATE_SCHEMA,
        "update", GroupStateTimeout.NoTimeout)


def run_stream_to_batch(stream_df: DataFrame, mode: str = "append",
                        timeout: int = 180) -> DataFrame:
    """Execute a finite streaming plan (Trigger.AvailableNow) into a temp
    parquet sink and return the result as a batch DataFrame — the
    harness that lets streaming operators sit behind the same
    batch-comparing oracle gate as everything else. ``foreachBatch``
    rather than the file sink so update-mode stateful operators
    (applyInPandasWithState) are writable too; with update mode the
    caller must ensure per-key final emissions are the ones compared
    (finite single-batch input, or a downstream keep-last)."""
    import tempfile

    out = tempfile.mkdtemp(prefix="rs_stream_out_")
    ckpt = tempfile.mkdtemp(prefix="rs_stream_ckpt_")
    q = (stream_df.writeStream
         .foreachBatch(lambda df, _id: df.write.mode("append").parquet(out))
         .option("checkpointLocation", ckpt)
         .outputMode(mode)
         .trigger(availableNow=True)
         .start())
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"stream did not drain within {timeout}s — failing loudly "
            "rather than comparing a partial sink")
    return stream_df.sparkSession.read.parquet(out)


def streaming_mentions(spark, documents_path: str, match_keys: list[str],
                       schema) -> DataFrame:
    """Incremental mention detection over a parquet-file stream of
    input_hint-shaped documents. Stateless → no watermark needed."""
    from ..operators.extract import with_extracted_text
    from ..operators.mentions import detect_mention_rows

    stream = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", "16")
        .load(documents_path)
    )
    docs = with_extracted_text(stream).withColumn(
        "text", F.col("extracted")).drop("extracted")
    return detect_mention_rows(spark, docs, match_keys)
