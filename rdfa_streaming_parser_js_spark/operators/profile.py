"""KG schema profiling — per-class property coverage.

SHACL validation (operators/validate.py) *enforces* a known schema;
profiling *discovers* it: for every (class, property) pair, what
fraction of the class's instances carry the property?  On a web-scale
KG this is the report that drives shape authoring, extraction-drift
alerts ("Article.name coverage dropped 4 points after the recrawl"),
and SPARQL-endpoint statistics, and the reference ecosystem has no
equivalent (the parser sees one document at a time,
/root/reference/lib/RdfaParser.ts:19).

Plan shape at 10^12 triples:
- instance set: the rdf:type slice (predicate filter pushed to the
  scan), distinct (subj, class);
- property set: distinct (subj, pred) over the non-type slice;
- coverage: equi-join on ``subj`` (the graph's natural key) then count
  by (class, pred);
- class sizes are vocabulary-sized — joined broadcast at the end.

Coverage is emitted as exact integer per-mille (n*1000 DIV total), so
the report is byte-stable on any engine at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def class_property_coverage(triples: DataFrame) -> DataFrame:
    """(cls, pred, n_subjects, n_class_subjects, coverage_permille) —
    one row per (class, non-type property) pair observed together on at
    least one subject."""
    instances = (triples.filter(F.col("pred") == RDF_TYPE)
                 .select("subj", F.col("obj_value").alias("cls"))
                 .distinct())
    class_sizes = instances.groupBy("cls").agg(
        F.count(F.lit(1)).alias("n_class_subjects"))
    props = (triples.filter(F.col("pred") != RDF_TYPE)
             .select("subj", "pred").distinct())
    cov = (instances.join(props, "subj")
           .groupBy("cls", "pred")
           .agg(F.count(F.lit(1)).alias("n_subjects")))
    return (cov.join(F.broadcast(class_sizes), "cls")
            .select("cls", "pred", "n_subjects", "n_class_subjects",
                    # integer DIV, not float /: byte-stable everywhere
                    F.expr("n_subjects * 1000 DIV n_class_subjects")
                    .alias("coverage_permille")))
