"""owl:sameAs entity resolution: collapse equivalence classes of IRIs
/ bnodes to one canonical identifier each and rewrite the graph.

The reference parser emits triples exactly as the markup states them
(/root/reference/lib/RdfaParser.ts:803-811); different pages assert the
same real-world entity under different IRIs and link them with
``owl:sameAs``.  KG construction resolves those aliases: the sameAs
relation is symmetric + transitive, so its equivalence classes are the
connected components of the sameAs edge set, and every triple is
rewritten onto the class representative (deterministically the
lexicographic min member — the same canonical-by-min rule the dedup
clusters use, operators/components.py).

Scale shape (10^13 triples):
- The sameAs edge set is a tiny predicate slice of the graph (pushed
  filter on ``pred``), and the component loop runs on that slice only —
  never on the full graph.
- The mapping (node → canonical, identity rows dropped) is joined to
  the graph twice: once on ``subj``, once on ``obj_value``.  Both are
  plain equi-joins AQE will broadcast when the alias population is
  small.  No shuffle of the full graph is ever keyed on anything but
  its own join columns.
- Output is a bag (one row per input triple, rewritten); callers that
  need graph-set semantics dedup downstream via
  ``canonicalize_triples`` — the same contract as extraction itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfa_streaming_parser_js_spark.operators.bgp import TERM_COLS, node_kind
from rdfa_streaming_parser_js_spark.operators.components import (
    connected_components_star)

OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"


def same_as_mapping(triples: DataFrame,
                    same_as_pred: str = OWL_SAMEAS) -> DataFrame:
    """``(node, canonical)`` for every aliased node: canonical = the
    lexicographic min member of the node's sameAs component.  Identity
    rows (node == canonical) are dropped so the mapping contains only
    nodes that actually change — the smallest possible join input.

    Uses the alternating-star component algorithm: node ids here are
    IRI/bnode STRINGS (the min-label variant's decimal-sum convergence
    signal needs numeric ids), and sameAs chains across many pages have
    unknown diameter — O(log n) rounds is the safe shape."""
    edges = (triples.filter(F.col("pred") == same_as_pred)
             .select(F.col("subj").alias("id_a"),
                     F.col("obj_value").alias("id_b")))
    comp = connected_components_star(edges)
    return (comp.filter(F.col("id") != F.col("comp"))
            .select(F.col("id").alias("node"),
                    F.col("comp").alias("canonical")))


def resolve_same_as(triples: DataFrame,
                    same_as_pred: str = OWL_SAMEAS,
                    mapping: DataFrame | None = None) -> DataFrame:
    """Rewrite the graph onto sameAs class representatives.

    Subjects and IRI/bnode objects that belong to a sameAs component
    are replaced by the component's canonical id (kind re-derived from
    the winner); literals are untouched; the sameAs triples themselves
    are removed (they are fully absorbed by the rewrite).  Pass a
    precomputed ``mapping`` to resolve many tables against one alias
    closure.
    """
    if mapping is None:
        mapping = same_as_mapping(triples, same_as_pred)
    t = triples.filter(F.col("pred") != same_as_pred)

    subj_map = mapping.withColumnRenamed("canonical", "subj_canonical")
    t = (t.join(subj_map, t.subj == subj_map.node, "left").drop("node")
         .withColumn("subj",
                     F.coalesce("subj_canonical", "subj"))
         .withColumn("subj_kind",
                     F.when(F.col("subj_canonical").isNotNull(),
                            node_kind(F.col("subj_canonical")))
                     .otherwise(F.col("subj_kind")))
         .drop("subj_canonical"))

    obj_map = mapping.withColumnRenamed("canonical", "obj_canonical")
    t = (t.join(obj_map,
                (t.obj_value == obj_map.node)
                & (t.obj_kind != "literal"), "left")
         .drop("node")
         .withColumn("obj_value",
                     F.coalesce("obj_canonical", "obj_value"))
         .withColumn("obj_kind",
                     F.when(F.col("obj_canonical").isNotNull(),
                            node_kind(F.col("obj_canonical")))
                     .otherwise(F.col("obj_kind")))
         .drop("obj_canonical"))
    return t


def ifp_same_as(triples: DataFrame, ifp_preds,
                max_group: int | None = None) -> DataFrame:
    """owl:InverseFunctionalProperty entity matching (OWL 2 RL
    ``prp-ifp``): two nodes asserting the SAME literal for an
    inverse-functional predicate (an identifier, an ISBN, an email)
    denote the same entity.  Returns the derived ``owl:sameAs``
    edges as triples-shaped rows — union them into the graph and hand
    the result to :func:`resolve_same_as` / :func:`same_as_mapping`.

    Never forms the quadratic within-group pairs: each
    ``(pred, literal)`` group links every member to the group's
    lexicographic-min node (a star — linear in the group size), which
    the component algorithm then merges with any asserted sameAs
    edges.  Grouping is on the FULL literal identity
    (value + datatype + language), per OWL literal equality.

    ``max_group`` guards against junk identifiers (an empty string or
    a placeholder shared by millions of nodes would otherwise weld
    unrelated entities into one): groups larger than the bound derive
    nothing.  Pass the caller's notion of "implausibly popular".

    Scale: one shuffle on the identifier key; the star output is the
    only thing that leaves the group.  Feed it a pre-filtered slice
    (the IFP predicates of one entity type) — the full graph never
    participates.
    """
    ifp_preds = list(ifp_preds)
    if not ifp_preds:
        raise ValueError("ifp_same_as needs at least one IFP predicate")
    nodes = (triples.filter(F.col("pred").isin(ifp_preds)
                            & (F.col("obj_kind") == "literal"))
             .select("pred",
                     "obj_value",
                     F.coalesce("obj_datatype", F.lit("")).alias("dt"),
                     F.coalesce("obj_lang", F.lit("")).alias("lang"),
                     F.col("subj").alias("node"),
                     F.col("subj_kind").alias("node_kind"))
             .distinct())
    key = ["pred", "obj_value", "dt", "lang"]
    anchors = (nodes.groupBy(*key)
               .agg(F.min("node").alias("anchor"),
                    F.count(F.lit(1)).alias("n")))
    if max_group is not None:
        anchors = anchors.filter(F.col("n") <= max_group)
    return (nodes.join(anchors, key)
            .filter(F.col("node") != F.col("anchor"))
            .select(F.col("node").alias("subj"),
                    F.col("node_kind").alias("subj_kind"),
                    F.lit(OWL_SAMEAS).alias("pred"),
                    F.col("anchor").alias("obj_value"),
                    node_kind(F.col("anchor")).alias("obj_kind"),
                    F.lit(None).cast("string").alias("obj_datatype"),
                    F.lit(None).cast("string").alias("obj_lang"))
            .distinct())
