"""SHACL-lite shape validation over the constructed KG.

The reference emits whatever the markup asserts — it has no notion of a
schema (/root/reference/lib/RdfaParser.ts:803-811 pushes every quad the
evaluation stack produces).  A production KG-construction pipeline gates
publication on a validation report: which entities are missing required
properties, carry the wrong datatype, or point at the wrong node kind.
This module implements the workhorse SHACL core constraint components
(sh:minCount / sh:maxCount / sh:datatype / sh:nodeKind / sh:in /
sh:pattern / sh:minLength / sh:maxLength / sh:languageIn /
sh:uniqueLang / sh:class / sh:hasValue) as ONE lazy Catalyst plan for
the whole shapes graph.

Scale shape — the shapes graph is data, not plan:
- Shapes become a broadcast DataFrame (a real shapes graph is a few
  hundred rows — ontology-sized), so the plan has the same size however
  many shapes there are.
- Focus selection: the rdf:type slice joined (broadcast) to the shapes'
  target classes.
- Value nodes are a SET (SHACL §2.3.2): the property slice joined
  (broadcast) on the shape path and deduplicated on (focus, shape,
  term), so a triple that several pages assert counts once.
- The (focus, shape) pairs left-join their value rows: a focus with no
  value arrives as one row of NULL terms and counts 0, so minCount and
  hasValue see absent foci without a second pass.  sh:class left-joins
  the rdf:type slice on (value, class).
- One aggregate per (focus, shape) computes the value count
  (min/maxCount), the hasValue hit, the language tags (uniqueLang) and
  the row-local violations (datatype, nodeKind, in, pattern,
  min/maxLength, languageIn, class); one ``explode`` emits them all.

Nothing runs until the report is consumed; it has a deterministic
schema, ready to gate a publish step or route entities to quarantine
(the same pattern as operators/extract's parse_error column).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

REPORT_COLUMNS = ["focus", "shape_id", "constraint", "path", "value",
                  "detail"]

_SHAPE_SCHEMA = ("shape_id string, target_class string, path string, "
                 "min_count int, max_count int, datatype string, "
                 "node_kind string, in_values array<string>, "
                 "pattern string, class string, has_value string, "
                 "min_length int, max_length int, "
                 "language_in array<string>, unique_lang boolean")


@dataclass(frozen=True)
class PropertyShape:
    """One SHACL property shape: constraints on ``path`` values of all
    instances of ``target_class``.  Only the fields set are checked."""

    shape_id: str
    target_class: str
    path: str
    min_count: Optional[int] = None
    max_count: Optional[int] = None
    datatype: Optional[str] = None       # required obj_datatype IRI
    node_kind: Optional[str] = None      # 'iri' | 'literal' | 'bnode'
    in_values: Optional[Sequence[str]] = None
    pattern: Optional[str] = None        # RLIKE over obj_value
    class_: Optional[str] = None         # sh:class — obj rdf:type C
    has_value: Optional[str] = None      # sh:hasValue — some obj = X
    min_length: Optional[int] = None     # sh:minLength over obj_value
    max_length: Optional[int] = None     # sh:maxLength over obj_value
    language_in: Optional[Sequence[str]] = None  # sh:languageIn (ci)
    unique_lang: Optional[bool] = None   # sh:uniqueLang


def _shapes_df(spark, shapes: Sequence[PropertyShape]) -> DataFrame:
    rows = [(s.shape_id, s.target_class, s.path, s.min_count,
             s.max_count, s.datatype, s.node_kind,
             list(s.in_values) if s.in_values is not None else None,
             s.pattern, s.class_, s.has_value, s.min_length,
             s.max_length,
             [x.lower() for x in s.language_in]
             if s.language_in is not None else None,
             s.unique_lang) for s in shapes]
    return spark.createDataFrame(rows, _SHAPE_SCHEMA)


def _violation(constraint: str, value, detail):
    return F.struct(F.lit(constraint).alias("constraint"),
                    value.alias("value"), detail.alias("detail"))


def shacl_report(triples: DataFrame,
                 shapes: Sequence[PropertyShape]) -> DataFrame:
    """Validate the graph against ``shapes``; returns the violation
    report (one row per violated constraint per focus node — empty
    means conforming).  ``value`` carries the offending value (or the
    observed count for cardinality components); ``detail`` carries the
    expectation."""
    spark = triples.sparkSession
    if not shapes:
        return spark.createDataFrame(
            [], "focus string, shape_id string, constraint string, "
                "path string, value string, detail string")
    sh = F.broadcast(_shapes_df(spark, shapes))
    typed = (triples.filter(F.col("pred") == RDF_TYPE)
             .select(F.col("subj").alias("node"),
                     F.col("obj_value").alias("type"))
             .distinct())
    values = (triples.join(sh.select("shape_id", "path"),
                           triples["pred"] == sh["path"])
              .select(F.col("subj").alias("focus"), "shape_id",
                      "obj_value", "obj_kind", "obj_datatype",
                      "obj_lang")
              .distinct())
    rows = (typed.join(sh, typed["type"] == sh["target_class"])
            .withColumnRenamed("node", "focus")
            .join(values, ["focus", "shape_id"], "left")
            .join(typed.select(F.col("node").alias("obj_value"),
                               F.col("type").alias("class"),
                               F.lit(True).alias("is_instance")),
                  ["obj_value", "class"], "left"))

    v, lang = F.col("obj_value"), F.col("obj_lang")
    # a NULL constraint parameter makes its condition NULL, which
    # ``when`` reads as "not violated"; the absent-focus row (NULL
    # value) has no value to check
    row_local = F.when(v.isNotNull(), F.array(
        F.when(F.col("datatype").isNotNull()
               & ~F.col("obj_datatype").eqNullSafe(F.col("datatype")),
               _violation("datatype", v, F.coalesce(
                   "obj_datatype", F.lit("(plain)")))),
        F.when(F.col("obj_kind") != F.col("node_kind"),
               _violation("nodeKind", v, F.col("obj_kind"))),
        F.when(~F.array_contains("in_values", v),
               _violation("in", v, F.array_join("in_values", ","))),
        F.when(~F.regexp_like(v, F.col("pattern")),
               _violation("pattern", v, F.col("pattern"))),
        F.when(F.length(v) < F.col("min_length"),
               _violation("minLength", v, F.concat(
                   F.lit("minLength "), F.col("min_length")))),
        F.when(F.length(v) > F.col("max_length"),
               _violation("maxLength", v, F.concat(
                   F.lit("maxLength "), F.col("max_length")))),
        # language ranges match case-insensitively (the shapes frame
        # stores the list lowercased); no tag is in no list
        F.when(~F.array_contains("language_in",
                                 F.lower(F.coalesce(lang, F.lit("")))),
               _violation("languageIn", F.coalesce(lang, F.lit("(none)")),
                          F.array_join("language_in", ","))),
        # the value must be an rdf:type instance of the class; a
        # literal never is
        F.when(F.col("class").isNotNull()
               & ((F.col("obj_kind") == "literal")
                  | F.col("is_instance").isNull()),
               _violation("class", v, F.concat(F.lit("class "),
                                               F.col("class"))))))
    agg = (rows.groupBy("focus", "shape_id", "path", "min_count",
                        "max_count", "has_value")
           .agg(F.count(v).alias("n"),
                F.count_if(v == F.col("has_value")).alias("hits"),
                F.collect_list(F.when(F.col("unique_lang"),
                                      F.lower(lang))).alias("tags"),
                F.flatten(F.collect_list(row_local)).alias("local")))

    n, tags = F.col("n"), F.col("tags")
    # sh:uniqueLang — one row per language tag that two values share
    shared = F.filter(
        F.transform(F.array_distinct(tags), lambda t: F.struct(
            t.alias("tag"),
            F.size(F.filter(tags, lambda x: x == t)).alias("k"))),
        lambda c: c["k"] > 1)
    violations = F.concat(
        F.array(
            F.when(n < F.col("min_count"), _violation(
                "minCount", n.cast("string"),
                F.concat(F.lit("minCount "), F.col("min_count")))),
            F.when(n > F.col("max_count"), _violation(
                "maxCount", n.cast("string"),
                F.concat(F.lit("maxCount "), F.col("max_count")))),
            F.when(F.col("has_value").isNotNull()
                   & (F.col("hits") == 0), _violation(
                       "hasValue", F.lit("(absent)"),
                       F.concat(F.lit("hasValue "), F.col("has_value"))))),
        F.transform(shared, lambda c: _violation(
            "uniqueLang", c["tag"], F.concat(
                F.lit("uniqueLang ("), c["k"], F.lit(" values)")))),
        F.col("local"))
    return (agg.select("focus", "shape_id", "path", F.explode(
                F.filter(violations, lambda x: x.isNotNull())).alias("x"))
            .select("focus", "shape_id", "x.constraint", "path",
                    "x.value", "x.detail"))


def conforms(triples: DataFrame,
             shapes: Sequence[PropertyShape]) -> bool:
    """SHACL ``sh:conforms`` — True iff the report is empty."""
    return not shacl_report(triples, shapes).take(1)


# --------------------------------------------------------------------
# shape induction (schema discovery): profile → proposed shapes
# --------------------------------------------------------------------

def induce_shapes(triples: DataFrame,
                  min_coverage_pct: int = 100) -> DataFrame:
    """Schema discovery over the constructed KG: profile every
    (class, property) pair and PROPOSE the SHACL constraints the data
    already satisfies — the inverse of :func:`shacl_report`, closing
    the profiling → validation loop (run the induced shapes on the
    next crawl; violations are schema DRIFT).

    Proposals (one row per class × property):

    - ``min_count = 1``  when the property covers at least
      ``min_coverage_pct`` % of the class's instances (integer
      arithmetic — ``100·n_foci ≥ pct·n_class`` — so the oracle
      hash-matches exactly);
    - ``max_count = 1``  when no instance repeats the property;
    - ``datatype``       when every value is a literal carrying the
      same non-null datatype;
    - ``node_kind``      when every value has the same term kind.

    By construction, shapes induced at ``min_coverage_pct=100``
    validate cleanly against the same graph
    (``conforms(triples, induced) == True`` — pytest-asserted).

    Scale shape: the type slice joins the property slice on the
    subject key (instance-sized equi-join), then two keyed
    aggregations —
    per-(class, path, focus) counts, then per-(class, path) stats —
    both map-side combinable.  Output is ontology-sized (classes ×
    properties), never instance-sized.
    """
    typed = (triples.filter(F.col("pred") == RDF_TYPE)
             .select(F.col("subj").alias("focus"),
                     F.col("obj_value").alias("target_class"))
             .distinct())
    class_sizes = typed.groupBy("target_class").agg(
        F.count(F.lit(1)).alias("n_class"))
    vals = (triples.filter(F.col("pred") != RDF_TYPE)
            .select(F.col("subj").alias("focus"),
                    F.col("pred").alias("path"),
                    "obj_kind", "obj_datatype")
            .join(typed, "focus"))
    per_focus = (vals.groupBy("target_class", "path", "focus")
                 .agg(F.count(F.lit(1)).alias("n")))
    card = (per_focus.groupBy("target_class", "path")
            .agg(F.count(F.lit(1)).alias("n_foci"),
                 F.max("n").alias("max_per_focus")))
    vstats = (vals.groupBy("target_class", "path")
              .agg(F.countDistinct("obj_kind").alias("nk"),
                   F.min("obj_kind").alias("kind"),
                   F.countDistinct(
                       F.coalesce("obj_datatype", F.lit("")))
                   .alias("nd"),
                   F.min(F.coalesce("obj_datatype", F.lit("")))
                   .alias("dt")))
    prof = (card.join(vstats, ["target_class", "path"])
            .join(class_sizes, "target_class"))
    return prof.select(
        "target_class", "path",
        F.col("n_class").cast("long").alias("n_class"),
        F.col("n_foci").cast("long").alias("n_foci"),
        F.expr("(100 * n_foci) div n_class").cast("long")
        .alias("coverage_pct"),
        F.when(100 * F.col("n_foci")
               >= min_coverage_pct * F.col("n_class"),
               F.lit(1)).cast("long").alias("min_count"),
        F.when(F.col("max_per_focus") == 1, F.lit(1)).cast("long")
        .alias("max_count"),
        F.when((F.col("nd") == 1) & (F.col("dt") != "")
               & (F.col("nk") == 1) & (F.col("kind") == "literal"),
               F.col("dt")).alias("datatype"),
        F.when(F.col("nk") == 1, F.col("kind")).alias("node_kind"))


def induce_shapes_sql(triples_cte: str, rdf_type: str = RDF_TYPE,
                      min_coverage_pct: int = 100) -> str:
    """DuckDB mirror of :func:`induce_shapes` over any SELECT yielding
    the triple columns — same integer arithmetic, same NULL rules."""
    return f"""
        WITH si_exp AS ({triples_cte}),
        si_typed AS (
          SELECT DISTINCT subj AS focus, obj_value AS target_class
          FROM si_exp WHERE pred = '{rdf_type}'),
        si_cs AS (SELECT target_class, count(*) AS n_class
                  FROM si_typed GROUP BY 1),
        si_v AS (SELECT t.target_class, e.pred AS path,
                        e.subj AS focus, e.obj_kind, e.obj_datatype
                 FROM si_exp e JOIN si_typed t ON t.focus = e.subj
                 WHERE e.pred <> '{rdf_type}'),
        si_pf AS (SELECT target_class, path, focus, count(*) AS n
                  FROM si_v GROUP BY 1, 2, 3),
        si_card AS (SELECT target_class, path, count(*) AS n_foci,
                           max(n) AS max_per_focus
                    FROM si_pf GROUP BY 1, 2),
        si_vs AS (SELECT target_class, path,
                         count(DISTINCT obj_kind) AS nk,
                         min(obj_kind) AS kind,
                         count(DISTINCT coalesce(obj_datatype, ''))
                           AS nd,
                         min(coalesce(obj_datatype, '')) AS dt
                  FROM si_v GROUP BY 1, 2)
        SELECT c.target_class, c.path,
               CAST(s.n_class AS BIGINT) AS n_class,
               CAST(c.n_foci AS BIGINT) AS n_foci,
               CAST((100 * c.n_foci) // s.n_class AS BIGINT)
                 AS coverage_pct,
               CAST(CASE WHEN 100 * c.n_foci
                              >= {min_coverage_pct} * s.n_class
                         THEN 1 END AS BIGINT) AS min_count,
               CAST(CASE WHEN c.max_per_focus = 1 THEN 1 END
                    AS BIGINT) AS max_count,
               CASE WHEN v.nd = 1 AND v.dt <> '' AND v.nk = 1
                         AND v.kind = 'literal'
                    THEN v.dt END AS datatype,
               CASE WHEN v.nk = 1 THEN v.kind END AS node_kind
        FROM si_card c
        JOIN si_vs v ON v.target_class = c.target_class
                    AND v.path = c.path
        JOIN si_cs s ON s.target_class = c.target_class
    """
