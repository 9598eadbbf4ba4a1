"""Structured Streaming ingest: a stream of pages → index segments.

The reference's incremental indexing reopens the builder and appends
posting-list continuation chains (PersistentBuilder.cs:69-80, SURVEY.md
§2.C9). The streaming analog: `readStream` over an arriving-pages
directory, `foreachBatch` committing one index segment per micro-batch
through the exact same batch builder — so streaming and batch builds
produce identical index semantics, and the manifest stays the single
commit log. foreachBatch is at-least-once, so the sink itself must be
idempotent: each commit carries a (pages_dir, batch_id) batch_key and
`build_index` no-ops when a committed segment with that key already
exists — a crash between manifest commit and Spark checkpoint cannot
duplicate documents on redelivery.

At scale this is the continuous-crawl ingestion path: watermarking/
dedup-by-url can be layered with `withWatermark("warc_ts", ...)` +
`dropDuplicates(["url"])` before the sink.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from fulltextsearch_spark.sources.index_io import build_index
from fulltextsearch_spark.sources.pages import PAGES_SCHEMA


def stream_pages_to_index(
    spark: SparkSession,
    pages_dir: str,
    index_root: str,
    checkpoint_dir: str,
    mode: str = "blocks",
    dedup_by_url: bool = True,
    watermark: str = "1 hour",
) -> StreamingQuery:
    """Start a stream that appends an index segment per micro-batch.

    `pages_dir` receives parquet files of PAGES_SCHEMA rows.
    """
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .parquet(pages_dir)
    )
    if dedup_by_url:
        stream = stream.withWatermark("warc_ts", watermark).dropDuplicates(["url"])

    def commit_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        build_index(
            spark,
            batch_df,
            index_root,
            mode=mode,
            input_desc=f"stream batch {batch_id} from {pages_dir}",
            batch_key=f"{pages_dir}#batch={batch_id}",
        )

    return (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
