"""Incremental page-stream → triple-stream pipeline.

Design (idiomatic Structured Streaming, scales to a real cluster
unchanged):

- **Source**: file-stream over the pages directory.  Each micro-batch is
  a set of newly-arrived parquet files; ``maxFilesPerTrigger`` bounds
  batch size so executor memory is independent of backlog depth.
- **Transform**: the SAME ``extract_triples`` ``mapInArrow`` kernel as
  the batch path — map-only, so the streaming plan is stateless and
  needs no state store; ``warc_ts`` rides through as a passthrough
  column to serve as event time downstream.
- **Sink**: append-mode parquet (Iceberg ``toTable`` on a cluster) with
  a checkpoint directory.  Restarting after a crash resumes from the
  last committed micro-batch — no reprocessing, no loss (north-rule
  resumability, streaming flavor).
- **Late data**: ``windowed_pred_counts`` adds a watermark on
  ``warc_ts`` and a tumbling window, the standard pattern for
  crawl-time triple-rate monitoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (BinaryType, LongType, StringType,
                               StructField, StructType, TimestampType)

from ..operators.extract import extract_triples
from ..operators.storage import checkpoint, release

PAGES_SCHEMA = StructType([
    StructField("page_id", LongType()),
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])


def read_page_stream(spark: SparkSession, pages_dir: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """File-stream source over a directory of page parquet files."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(pages_dir)


def extract_triples_stream(pages: DataFrame) -> DataFrame:
    """Streaming triples with event-time: identical kernel as batch."""
    return extract_triples(pages, passthrough=("warc_ts",))


def windowed_pred_counts(triples: DataFrame, window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Triple rate per predicate per event-time window, tolerating
    ``watermark`` of out-of-order crawl timestamps before a window is
    finalized and its state dropped."""
    return (triples
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("win"), "pred")
            .agg(F.count(F.lit(1)).alias("n_triples"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    "pred", "n_triples"))


def run_extraction_stream(spark: SparkSession, pages_dir: str,
                          out_dir: str, checkpoint_dir: str,
                          max_files_per_trigger: int | None = None,
                          ) -> StreamingQuery:
    """Process all currently-available page files, then stop.

    ``Trigger.AvailableNow``: drains the backlog in bounded micro-batches
    and commits the checkpoint, so the next invocation processes only
    files that arrived since — incremental crawl ingestion as repeated
    bounded jobs (the recommended pattern for scheduled pipelines).
    """
    pages = read_page_stream(spark, pages_dir, max_files_per_trigger)
    triples = extract_triples_stream(pages)
    return (triples.writeStream
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def run_kg_maintenance_stream(spark: SparkSession, pages_dir: str,
                              graph_dir: str, checkpoint_dir: str,
                              max_files_per_trigger: int | None = None,
                              ) -> StreamingQuery:
    """Continuous KG maintenance: drain newly-crawled page files and
    merge each micro-batch into the graph table with recrawl-replace
    semantics (operators/incremental.merge_by_url) — the streaming
    composition of extraction + incremental merge.

    Within a micro-batch, only the LATEST crawl of each url is applied
    (same-instant duplicates are indistinguishable and resolved
    arbitrarily).  A retried micro-batch is harmless: replace-merge is
    idempotent, so crash-between-write-and-checkpoint re-runs converge
    to the same table.

    Sink note: the sandbox sink is CRASH-ATOMIC read-modify-swap
    parquet: each batch writes the merged table to a staging directory
    first (data-first), then swaps it in with two renames (current →
    ``.old``, staging → current) and drops the backup.  A crash at any
    point leaves either the previous committed table, or a complete
    staging/backup that ``_recover`` promotes on the next batch — the
    graph table is never truncated.  On a real deployment
    ``foreachBatch`` issues ``MERGE INTO`` on the url-bucketed Iceberg
    graph table instead (snapshot-atomic, only the buckets containing
    the batch's urls rewrite) — this function's shape (extract →
    latest-per-url → replace-merge) is unchanged.
    """
    import os
    import shutil

    from pyspark.errors.exceptions.captured import AnalysisException

    from ..operators.incremental import merge_by_url

    staging = graph_dir.rstrip("/") + ".staging"
    backup = graph_dir.rstrip("/") + ".old"

    def _complete(d: str) -> bool:  # Spark marks finished writes
        return os.path.exists(os.path.join(d, "_SUCCESS"))

    def _recover() -> None:
        """Re-establish the committed table after a mid-swap crash:
        a complete staging dir is the newer state (its write finished
        before any rename started) — promote it; otherwise restore the
        backup.  No-op when the current table exists."""
        if os.path.exists(graph_dir):
            return
        if _complete(staging):
            os.rename(staging, graph_dir)
        elif _complete(backup):
            os.rename(backup, graph_dir)

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        _recover()
        latest = batch.groupBy("url").agg(F.max("warc_ts").alias("warc_ts"))
        pages_latest = (batch.join(latest, ["url", "warc_ts"])
                        .dropDuplicates(["url"]))
        new_triples = extract_triples(pages_latest)
        old = None
        try:
            old = checkpoint(spark.read.parquet(graph_dir))
        except AnalysisException:  # first batch: no table yet
            merged = new_triples
        else:
            merged = merge_by_url(old, new_triples)
        # data first: the swap below only involves metadata renames
        merged.write.mode("overwrite").parquet(staging)
        if old is not None:
            # the write above consumed the checkpointed snapshot; free
            # it or every micro-batch pins one full graph copy for the
            # stream's lifetime (unpersist is a no-op on LogicalRDDs)
            release(old)
        shutil.rmtree(backup, ignore_errors=True)
        if os.path.exists(graph_dir):
            os.rename(graph_dir, backup)
        os.rename(staging, graph_dir)
        shutil.rmtree(backup, ignore_errors=True)

    _recover()  # a restart with no new files never fires _merge
    pages = read_page_stream(spark, pages_dir, max_files_per_trigger)
    return (pages.writeStream
            .foreachBatch(_merge)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
