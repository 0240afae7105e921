"""Streaming twin of the FLAGSHIP enrichment pipeline.

The batch headline job (`plans/enrich.enrich_tile_counts`) is
extract → count per entity → geocode with the enriched gazetteer (PIP
countries, cell encodes) → tile counts. Its streaming twin keeps one row
per mention and splits exactly where the operators' algebra says to:

* the ENRICHMENT half (extract/geocode/PIP/cells — per-row transforms and
  broadcast joins, no shuffle) runs INSIDE the stream via `foreachBatch`,
  calling the batch `enrich_pages` verbatim on every micro-batch — one
  code path, zero drift between batch and stream semantics;
* the AGGREGATE half (`tile_counts_from_enriched`) runs over the sink,
  because its count_distinct partials are not incrementally mergeable
  across micro-batches (a per-cell distinct-set state store would grow
  with the key space). For mergeable windowed counts the existing
  `streaming/cellcounts.py` stays the right tool; for the full flagship
  row shape, enriched-rows-to-sink + aggregate-on-read is the standard
  incremental-ETL split and is exactly-once under the file-source +
  checkpoint contract.

At 100 TB scale this is the shape you want anyway: the stream keeps up
because nothing in the hot path shuffles (the gazetteer/polygon index are
broadcast), and the expensive aggregate runs on whatever cadence the
dashboards need, over columnar sink files that prune to the aggregate's
columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.enrich import enrich_pages, tile_counts_from_enriched


def run_enrich_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    sink_dir: str,
    features=None,
    gazetteer: DataFrame | None = None,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """File-source pages stream → enriched-rows parquet sink (checkpointed).

    Returns the StreamingQuery. available_now=True drains the existing
    files in bounded micro-batches (max_files_per_trigger each) and stops —
    the replay/testing mode; False runs continuously.
    """
    from ..sources.pages import pages_df

    schema = pages_df(spark, 1).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        enriched = enrich_pages(
            batch_df.sparkSession, batch_df,
            features=features, gazetteer=gazetteer, with_geometry=False,
        )
        enriched.write.mode("append").parquet(sink_dir)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("enrich_stream")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def tile_counts_from_sink(
    spark: SparkSession, sink_dir: str, salted: bool = True
) -> DataFrame:
    """The aggregate half over the streamed sink — the aggregate the batch
    `enrich_tile_counts` finishes with (shared implementation), here over
    one row per mention."""
    return tile_counts_from_enriched(spark.read.parquet(sink_dir), salted=salted)
