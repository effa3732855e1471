"""Per-partition lineage + resumable checkpointed extraction.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + triple-count metrics".  The reference has no analogue (a Node
stream dies with its process); this is distributed-systems design on top
of the extraction kernel:

- the corpus is split into ``n_buckets`` url-hash buckets
  (``pmod(xxhash64(url), n_buckets)``) — the unit of checkpointing,
  deterministic at any parallelism (``sources/warc.WarcIngestion`` uses
  the crawl's shard files instead);
- each commit (:meth:`_Checkpoint._commit`, shared by both) is ONE
  distributed job over its chunk of buckets, the write that extracts
  them into ``triples/bucket=K/`` via **dynamic partition overwrite**,
  so a re-run of a bucket whose job died mid-write replaces partial
  output instead of duplicating it (idempotent restart).  The
  per-bucket page and triple counts are observed on that write
  (``DataFrame.observe``), not counted by jobs of their own — Delta
  Lake's statistics-on-write (under AQE the write's shuffle map stage
  runs as a Spark job of its own, and the manifest append is one more
  small job);
- only after a chunk's data is fully written is its lineage recorded in
  the ``_manifest`` table ``(run_id, bucket, n_pages, n_triples,
  commit_wall_sec, committed_at)`` — write-ahead data, commit-behind
  metadata, exactly the Iceberg snapshot-commit ordering (data files
  first, metadata pointer last);
- ``run()`` anti-joins the manifest, so a restarted job processes only
  buckets without a committed manifest row.

On a real cluster the parquet dirs become Iceberg tables and the
manifest a snapshot log; the control flow is identical.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType, DoubleType)

from ..operators.extract import TRIPLES_SCHEMA, extract_triples

MANIFEST_SCHEMA = StructType([
    StructField("run_id", StringType()),
    StructField("bucket", LongType()),
    StructField("n_pages", LongType()),
    StructField("n_triples", LongType()),
    StructField("commit_wall_sec", DoubleType()),  # whole chunk's wall
    StructField("committed_at", DoubleType()),     # epoch sec of commit
])


def url_bucket(n_buckets: int, url_col: str = "url") -> F.Column:
    """Deterministic corpus partition id — stable across restarts,
    parallelism levels, and input ordering.  It stays ``xxhash64``, not
    the graph tables' ``sources/catalog.bucket_id``: re-bucketing pages
    would invalidate the manifests of a resumed run."""
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("long")


def _chunks(keys: list, per_commit: int,
            stop_after_commits: int | None) -> list[list]:
    """``keys`` in commit-sized chunks — only the first
    ``stop_after_commits`` of them when that is set."""
    return [keys[i:i + per_commit]
            for i in range(0, len(keys), per_commit)][:stop_after_commits]


class _Checkpoint:
    """Triples partitioned by the checkpoint key column ``key`` under
    ``triples/``, and one ``schema`` manifest row per committed key under
    ``_manifest/``."""

    key: str
    schema: StructType

    def __init__(self, out_dir: str):
        self.out_dir = out_dir.rstrip("/")
        self.triples_dir = f"{self.out_dir}/triples"
        self.manifest_dir = f"{self.out_dir}/_manifest"

    def manifest(self, spark: SparkSession) -> DataFrame:
        # Test for the directory rather than catch the failed read: once a
        # session has run an Observation, Spark's observation listener
        # logs a stack trace for every failed query.
        path = spark._jvm.org.apache.hadoop.fs.Path(self.manifest_dir)
        if not path.getFileSystem(
                spark._jsc.hadoopConfiguration()).exists(path):
            return spark.createDataFrame([], self.schema)
        return spark.read.schema(self.schema).parquet(self.manifest_dir)

    def _completed(self, spark: SparkSession) -> set:
        return {r[0] for r in
                self.manifest(spark).select(self.key).distinct().collect()}

    def triples(self, spark: SparkSession) -> DataFrame:
        try:
            return spark.read.parquet(self.triples_dir)
        except Exception:  # empty corpus: no data files written yet
            key_type = self.schema[self.key].dataType.simpleString()
            return spark.createDataFrame(
                [], f"{TRIPLES_SCHEMA}, {self.key} {key_type}")

    def _commit(self, pages: DataFrame, keys: list, run_id: str,
                **extract_kw) -> None:
        """Commit ``keys``: extract and write the triples of ``pages``
        (which hold rows of those keys only) in ONE job, then append one
        manifest row per key with the page and triple counts that job
        observed.  ``extract_kw`` goes to ``extract_triples``."""
        t0 = time.time()

        def observed(df: DataFrame) -> tuple[DataFrame, Observation]:
            obs = Observation()
            return df.observe(obs, *[
                F.count_if(F.col(self.key) == F.lit(k)).alias(f"k{i}")
                for i, k in enumerate(keys)]), obs

        # Page counts come from the INPUT chunk, not the extracted
        # triples: a page that parses to zero triples was still
        # processed and must be counted (quarantine/monitoring reads
        # n_pages as "work done", not "pages with output").  Both
        # observations run in the write's result stage (``pages`` comes
        # straight from a scan or a shuffle read): Spark applies each
        # result task's metrics once, whereas a map-stage task that is
        # retried or recomputed (a lost shuffle file) would count again.
        pages, page_obs = observed(pages)
        triples, triple_obs = observed(extract_triples(
            pages, passthrough=(self.key,), **extract_kw))
        # Data first: dynamic overwrite replaces any partial output of a
        # previously-failed attempt at these keys.  A failed write raises
        # here, before any manifest row exists.
        (triples.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(self.key)
         .parquet(self.triples_dir))
        # Metadata last: the manifest row IS the commit point.
        n_pages, n_triples = page_obs.get, triple_obs.get
        wall = round(time.time() - t0, 3)
        rows = [(run_id, k, n_pages[f"k{i}"], n_triples[f"k{i}"], wall,
                 time.time()) for i, k in enumerate(keys)]
        (pages.sparkSession.createDataFrame(rows, self.schema)
         .coalesce(1).write.mode("append").parquet(self.manifest_dir))


class CheckpointedExtraction(_Checkpoint):
    """Resumable bucket-at-a-time extraction with a lineage manifest."""

    key, schema = "bucket", MANIFEST_SCHEMA

    def __init__(self, out_dir: str, n_buckets: int = 64):
        super().__init__(out_dir)
        self.n_buckets = n_buckets

    # -- lineage ----------------------------------------------------------

    def completed_buckets(self, spark: SparkSession) -> set[int]:
        return self._completed(spark)

    def metrics(self, spark: SparkSession) -> DataFrame:
        """Triple-count metrics per bucket — latest commit wins (by
        ``committed_at``), with the commit history length alongside."""
        from pyspark.sql import Window
        w = Window.partitionBy("bucket").orderBy(F.desc("committed_at"))
        latest = (self.manifest(spark)
                  .withColumn("rn", F.row_number().over(w)))
        counts = latest.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n_commits"))
        return (latest.filter(F.col("rn") == 1)
                .select("bucket", "n_pages", "n_triples")
                .join(counts, "bucket"))

    # -- execution --------------------------------------------------------

    def run(self, pages: DataFrame, buckets_per_commit: int = 16,
            stop_after_commits: int | None = None,
            run_id: str | None = None) -> dict:
        """Extract all buckets not yet in the manifest.

        ``stop_after_commits`` simulates a mid-job failure for restart
        tests.  Returns counters for the work done by THIS invocation.
        """
        run_id = run_id or f"run-{int(time.time() * 1000):x}"
        done = self.completed_buckets(pages.sparkSession)
        remaining = [b for b in range(self.n_buckets) if b not in done]
        chunks = _chunks(remaining, buckets_per_commit, stop_after_commits)
        bucketed = pages.withColumn(
            "bucket", url_bucket(self.n_buckets))
        for chunk in chunks:
            # Repartition BEFORE extraction, hashed on bucket: extraction
            # parallelism must not be hostage to the input's file-split
            # count, and bucket-aligned tasks write exactly one file per
            # bucket=K/ dir with no second shuffle.  Parallelism ==
            # buckets per chunk; size n_buckets ≥ cluster cores (at
            # 10^12 pages it is ≫).  The page counts are observed after
            # this shuffle, in the write's result stage, so a retried
            # shuffle task cannot count its pages twice.
            self._commit(bucketed.filter(F.col("bucket").isin(chunk))
                         .repartition(len(chunk), "bucket"), chunk, run_id)

        return {"run_id": run_id, "commits": len(chunks),
                "buckets_processed": [b for c in chunks for b in c],
                "buckets_skipped": sorted(done)}
