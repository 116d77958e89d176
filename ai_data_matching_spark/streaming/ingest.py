"""Structured Streaming ingest — the incremental front half of the
pipeline (extract → normalize → sketch → exact-dedup → append sink).

The reference is batch-only; at web scale new WARC drops arrive
continuously, so the graft exposes the extraction/sketch stages as a
stream: a parquet file source (the open-source stand-in for a WARC drop
folder or Kafka topic) feeds the SAME narrow per-row transformations the
batch pipeline uses — ``with_extract_sketch_keys`` is
projection-only (no shuffle), so it is
streaming-safe verbatim; nothing is reimplemented.

In-stream exact dedup uses ``dropDuplicatesWithinWatermark`` on the
exact-match key (norm_domain, simhash): state is bounded by the event-time
watermark instead of growing forever — the streaming twin of the batch
exact phase. Pair scoring + clustering stay batch jobs over the landed
table (micro-batch CC over an unbounded graph is not a streaming-shaped
problem; the landed table is exactly the batch pipeline's stage-2 input).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def read_page_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of page drops (explicit schema — streaming
    sources must not infer)."""
    reader = spark.readStream.schema(PAGE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_extract_sketch(pages: DataFrame) -> DataFrame:
    """Stage 1+2 on a stream: the batch path's fully-fused
    extract+normalize+sketch kernel (ONE Arrow round trip per micro-batch)
    + native blocking keys — projection-only, stream-safe. The source
    ``text`` column is kept in the landed table (``drop_cols=()``)."""
    from ..operators.blocking import with_extract_sketch_keys

    return with_extract_sketch_keys(pages, drop_cols=())


def stream_dedup_exact(df: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Drop exact duplicates ((norm_domain, simhash) equality ⇒ the batch
    exact phase's match) within the event-time watermark; state size is
    bounded by the watermark window."""
    return df.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["norm_domain", "simhash"]
    )


def run_ingest(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    available_now: bool = True,
):
    """Start (and with ``available_now`` drain + stop) the ingest stream:
    read drops → extract/sketch → in-stream exact dedup → append parquet.
    The checkpoint dir makes re-runs exactly-once over new files only —
    the streaming counterpart of the batch snapshot/resume contract."""
    out = stream_dedup_exact(
        stream_extract_sketch(read_page_stream(spark, input_dir)), watermark
    ).drop("block_keys")  # array key column is for the pairing job, not the sink
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
