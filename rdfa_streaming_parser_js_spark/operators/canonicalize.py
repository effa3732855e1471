"""Canonicalization + graph materialization of the extracted triples.

The reference emits a raw quad stream and leaves dedup/normalization to
the consumer (/root/reference/lib/RdfaParser.ts:810).  At 10^12 pages
these become first-class distributed stages:

- ``canonicalize_triples``: language tags are already lowercased by the
  kernel (/root/reference/lib/Util.ts:212); here we distinct-ify, keeping
  each triple's first url and page count.
- ``hub_subjects``: top-k heavy-hitter subjects — the skew list.  AQE
  splits skewed *joins* at runtime but not skewed groupBys, so heavy
  keys get an explicit salt (SURVEY.md §4).
- ``materialize_graph``: deduplicated triples in subject-hash buckets
  (an entity read scans one bucket; a subject join still shuffles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.catalog import write_buckets

TRIPLE_KEY = ["subj", "subj_kind", "pred", "obj_value", "obj_kind",
              "obj_datatype", "obj_lang"]
GRAPH_BUCKETS = 64  # subject buckets of the materialized graph


def canonicalize_triples(triples: DataFrame) -> DataFrame:
    """Distinct triples with provenance: the first url per triple (min —
    deterministic) and the number of pages (rows) that emit it."""
    return (triples.groupBy(*TRIPLE_KEY)
            .agg(F.min("url").alias("first_url"),
                 F.count(F.lit(1)).alias("n_pages")))


def hub_subjects(triples: DataFrame, k: int = 100) -> DataFrame:
    """Top-k subjects by triple count — the explicit skew-salt list.

    Counts provenance rows (a triple on k pages counts k times), not
    distinct triples, on purpose: ``salted_object_counts`` salts a join
    over the same rows, so the skew it must spread is the row count."""
    return (triples.groupBy("subj")
            .agg(F.count(F.lit(1)).alias("n_triples"))
            .orderBy(F.desc("n_triples"), F.asc("subj"))
            .limit(k))


def salted_object_counts(triples: DataFrame, hot: DataFrame,
                         salt_buckets: int = 16) -> DataFrame:
    """Per-object triple counts with two-phase aggregation on hot keys.

    Objects on the hot list are pre-aggregated under ``salt_buckets``
    sub-keys (map-side spread), then re-aggregated — the classic
    salt-and-merge that keeps a single reducer from owning a hub entity.
    """
    hot_objs = F.broadcast(hot.select(F.col("subj").alias("obj_value"),
                                      F.lit(True).alias("is_hot")))
    salted = (triples.join(hot_objs, "obj_value", "left")
              .withColumn("salt",
                          F.when(F.col("is_hot"),
                                 F.pmod(F.xxhash64("subj"),
                                        F.lit(salt_buckets)))
                          .otherwise(F.lit(0))))
    partial = (salted.groupBy("obj_value", "salt")
               .agg(F.count(F.lit(1)).alias("c")))
    return (partial.groupBy("obj_value")
            .agg(F.sum("c").alias("n_triples")))


def materialize_graph(triples: DataFrame, out_dir: str) -> None:
    """The deduplicated graph in ``GRAPH_BUCKETS`` subject buckets
    (``sources/catalog.write_buckets``), with ONE shuffle: the bucket
    shuffle by ``subj``, inside which the dedup groups (its key holds
    ``subj``).  Rows cross it undeduplicated (no map-side partial)."""
    canon = canonicalize_triples(triples.repartition(GRAPH_BUCKETS, "subj"))
    write_buckets(canon, out_dir, "subj", GRAPH_BUCKETS)
