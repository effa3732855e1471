"""VoID dataset description of the constructed KG — statistics *as RDF*.

Publishing a knowledge graph means publishing its W3C VoID description
(the "Vocabulary of Interlinked Datasets"): global triple /
distinct-subject / property counts plus per-class and per-property
partitions.  The reference parser is a per-document quad emitter and
has no dataset-level view at all (/root/reference/lib/RdfaParser.ts:
803-811); at 10^12 pages the description is itself a distributed job.

Output is triples-shaped (same columns as the extractor minus ``url``),
so the description can be unioned into the graph, serialized by the
N-Triples sink, or validated by the SHACL operator like any other data.

Scale shape: one aggregate and one fan-out.
- One ``groupingSets([[], ["pred"], ["cls"]])`` aggregate, ``cls`` being
  the object of an rdf:type triple (NULL otherwise): one scan, one Expand
  (x3) and one shuffle for the dataset, property and class statistics.
  The exact count-distincts ride the same aggregate (swap in
  approx_count_distinct at 10^13 if exactness is not contractual); keys
  are vocabulary-sized, not data-sized.
- One explode over an array of triple structs chosen by grouping_id: 6
  rows for the dataset, 4 per property, 3 per class.
- Grouping sets emit no ``()`` row on an empty input, so the statistics
  are broadcast and left-joined onto one row: an empty graph is still a
  void:Dataset with five "0" counts.
- Distinct objects are RDF terms: "x"@de, "x"@en and <x> are three.
- Partition node IRIs are md5-derived from the partitioned term, so the
  description is deterministic on any engine and any parallelism.

Counts are emitted as xsd:integer literals (string lexical forms) —
exact and byte-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
VOID_NS = "http://rdfs.org/ns/void#"
XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"

TRIPLE_SHAPE = ["subj", "pred", "obj_value", "obj_kind", "obj_datatype",
                "obj_lang"]


# grouping_id() of the () and ["pred"] sets (a set bit marks an aggregated
# column: bit 1 pred, bit 0 cls); only the ["cls"] set has a non-NULL cls.
_DATASET, _PROP = 3, 1


def _triple(subj, pred: str, obj, kind: str = "iri",
            datatype: str | None = None) -> F.Column:
    cols = [subj, F.lit(pred), obj, F.lit(kind), F.lit(datatype), F.lit(None)]
    return F.struct(*[c.cast("string").alias(n)
                      for c, n in zip(cols, TRIPLE_SHAPE)])


def _int(subj, pred: str, n: str) -> F.Column:
    return _triple(subj, pred, F.col(n), "literal", XSD_INTEGER)


def void_description(triples: DataFrame, dataset_iri: str) -> DataFrame:
    """VoID description triples for the graph-set in ``triples``
    (callers pass deduplicated triples; per-url provenance rows would
    inflate every count).  Emits the void:Dataset node, its global
    statistics, and one partition node per class / per predicate."""
    d = F.lit(dataset_iri)
    gid, pred, cls = F.col("gid"), F.col("pred"), F.col("cls")
    term = F.struct("obj_value", "obj_kind", "obj_datatype", "obj_lang")
    stats = (triples
             .withColumn("cls", F.when(pred == RDF_TYPE, F.col("obj_value")))
             .groupingSets([[], ["pred"], ["cls"]], "pred", "cls")
             .agg(F.grouping_id().alias("gid"),
                  F.count(F.lit(1)).alias("n_triples"),
                  F.countDistinct("subj").alias("n_subj"),
                  F.countDistinct(term).alias("n_obj"),
                  F.countDistinct("pred").alias("n_pred"),
                  F.countDistinct("cls").alias("n_class")))
    # one row that stands for the () set when an empty input has none
    stats = (triples.sparkSession.range(1)
             .join(F.broadcast(stats), how="left")
             .na.fill(_DATASET, ["gid"]).na.fill(0))

    cp = F.concat(F.lit(f"{dataset_iri}#class-"), F.md5(cls))
    pp = F.concat(F.lit(f"{dataset_iri}#prop-"), F.md5(pred))
    rows = (F.when(gid == _DATASET, F.array(
                _triple(d, RDF_TYPE, F.lit(f"{VOID_NS}Dataset")),
                _int(d, f"{VOID_NS}triples", "n_triples"),
                _int(d, f"{VOID_NS}distinctSubjects", "n_subj"),
                _int(d, f"{VOID_NS}distinctObjects", "n_obj"),
                _int(d, f"{VOID_NS}properties", "n_pred"),
                _int(d, f"{VOID_NS}classes", "n_class")))
            .when(gid == _PROP, F.array(
                _triple(d, f"{VOID_NS}propertyPartition", pp),
                _triple(pp, f"{VOID_NS}property", pred),
                _int(pp, f"{VOID_NS}triples", "n_triples"),
                _int(pp, f"{VOID_NS}distinctSubjects", "n_subj")))
            .when(cls.isNotNull(), F.array(
                _triple(d, f"{VOID_NS}classPartition", cp),
                _triple(cp, f"{VOID_NS}class", cls),
                _int(cp, f"{VOID_NS}entities", "n_subj"))))
    return stats.select(F.explode(rows).alias("t")).select("t.*")
