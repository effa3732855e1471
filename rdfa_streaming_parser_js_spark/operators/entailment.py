"""RDFS materialization over the constructed KG — the ρdf deductive
core (subClassOf / subPropertyOf / domain / range).

The reference parser emits exactly the asserted triples
(/root/reference/lib/RdfaParser.ts:803-811); schema.org markup leans on
an ontology (Article ⊑ CreativeWork ⊑ Thing, name ⊑ rdfs:label, ...)
that consumers expect materialized.  This operator computes the ρdf
entailment fragment (Muñoz/Pérez/Gutierrez, "Simple and Efficient
Minimal RDFS", JWS 2009 — the deductive core production reasoners
materialize):

- rdfs5/rdfs11: subPropertyOf / subClassOf transitivity (ontology-side
  closure),
- rdfs7:  (x P y), P ⊑p Q        ⟹ (x Q y)
- rdfs2:  (x P y), domain(P)=C   ⟹ (x rdf:type C)
- rdfs3:  (x P y), range(P)=C    ⟹ (y rdf:type C)  [IRI/bnode y only]
- rdfs9:  (x rdf:type C), C ⊑c D ⟹ (x rdf:type D)

Completeness without iteration: rules are applied in the stratified
order rdfs7 → rdfs2/3 → rdfs9, each against the *transitively closed*
hierarchies — every ρdf derivation chain normalizes to at most one
application of each stratum, so one pass reaches the fixpoint (no
driver-side loop over the instance data, ever).

Scale shape (10^13 instance triples, ontology ≤ 10^5):
- The ontology is a separate tiny DataFrame (or the graph's own
  schema-predicate slice).  Its closures are computed once
  (semi-naive, operators/paths.transitive_closure) and joined
  BROADCAST — the instance table is never shuffled; the whole
  materialization is map-side joins + a union.
- Derived triples carry the provenance (``url``) of the instance
  triple that triggered them; output is a bag — dedup downstream via
  ``canonicalize_triples`` like every other producer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfa_streaming_parser_js_spark.operators.paths import (
    transitive_closure)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
RDFS_SUBCLASS = f"{RDFS_NS}subClassOf"
RDFS_SUBPROP = f"{RDFS_NS}subPropertyOf"
RDFS_DOMAIN = f"{RDFS_NS}domain"
RDFS_RANGE = f"{RDFS_NS}range"


def _closed(ontology: DataFrame, pred: str) -> DataFrame:
    """Transitive closure of one ontology predicate's (sub, super)
    edges — strict (reflexive pairs contribute nothing new)."""
    edges = (ontology.filter(F.col("pred") == pred)
             .select(F.col("subj").alias("a"),
                     F.col("obj_value").alias("b")))
    # the closure is a tracked checkpoint (ontology-sized, tiny), so
    # every downstream rule join reads it as a clean broadcast leaf
    return transitive_closure(edges).filter(F.col("a") != F.col("b"))


def rdfs_entail(triples: DataFrame, ontology: DataFrame) -> DataFrame:
    """Materialize ρdf entailments: returns ``triples`` ∪ derived rows
    (same schema; derived rows inherit the triggering row's ``url``).

    ``ontology`` is a triples-shaped DataFrame holding the schema
    (subClassOf / subPropertyOf / domain / range rows; other rows are
    ignored).  Keep it separate from the instance data — it is
    broadcast, the instance table is not shuffled.
    """
    sub_class = F.broadcast(_closed(ontology, RDFS_SUBCLASS))
    sub_prop = F.broadcast(_closed(ontology, RDFS_SUBPROP))
    domains = F.broadcast(
        ontology.filter(F.col("pred") == RDFS_DOMAIN)
        .select(F.col("subj").alias("p"), F.col("obj_value").alias("c")))
    ranges = F.broadcast(
        ontology.filter(F.col("pred") == RDFS_RANGE)
        .select(F.col("subj").alias("p"), F.col("obj_value").alias("c")))

    cols = triples.columns

    # rdfs7: property inheritance (pred rewritten to each superprop)
    by_subprop = (triples.join(sub_prop, triples.pred == sub_prop.a)
                  .withColumn("pred", F.col("b")).select(*cols))
    with7 = triples.unionByName(by_subprop)

    # rdfs2/rdfs3 consume rdfs7 output too (P ⊑p Q, domain(Q)=C chains)
    by_domain = (with7.join(domains, with7.pred == domains.p)
                 .select(*[F.col(c) for c in cols if c not in
                           ("pred", "obj_value", "obj_kind",
                            "obj_datatype", "obj_lang")],
                         F.lit(RDF_TYPE).alias("pred"),
                         F.col("c").alias("obj_value"),
                         F.lit("iri").alias("obj_kind"),
                         F.lit(None).cast("string").alias("obj_datatype"),
                         F.lit(None).cast("string").alias("obj_lang"))
                 .select(*cols))
    by_range = (with7.filter(F.col("obj_kind") != "literal")
                .join(ranges, with7.pred == ranges.p)
                .select(*[F.col(c) for c in cols if c not in
                          ("subj", "subj_kind", "pred", "obj_value",
                           "obj_kind", "obj_datatype", "obj_lang")],
                        F.col("obj_value").alias("subj"),
                        F.col("obj_kind").alias("subj_kind"),
                        F.lit(RDF_TYPE).alias("pred"),
                        F.col("c").alias("obj_value"),
                        F.lit("iri").alias("obj_kind"),
                        F.lit(None).cast("string").alias("obj_datatype"),
                        F.lit(None).cast("string").alias("obj_lang"))
                .select(*cols))

    all_before_9 = with7.unionByName(by_domain).unionByName(by_range)

    # rdfs9: type inheritance through the closed class hierarchy
    types = all_before_9.filter(F.col("pred") == RDF_TYPE)
    by_subclass = (types.join(sub_class, types.obj_value == sub_class.a)
                   .withColumn("obj_value", F.col("b")).select(*cols))

    return all_before_9.unionByName(by_subclass)


# --------------------------------------------------------------------
# OWL property rules (inverseOf / SymmetricProperty / TransitiveProperty)
# --------------------------------------------------------------------

OWL_NS = "http://www.w3.org/2002/07/owl#"
OWL_INVERSE = f"{OWL_NS}inverseOf"
OWL_SYMMETRIC = f"{OWL_NS}SymmetricProperty"
OWL_TRANSITIVE = f"{OWL_NS}TransitiveProperty"

from rdfa_streaming_parser_js_spark.operators.bgp import (
    TERM_COLS as _TERM_COLS)


def _swap_pass(graph: DataFrame, swap_map: DataFrame) -> DataFrame:
    """One application of the edge-swapping rules: for every
    ``(p, q)`` in ``swap_map``, each non-literal-object ``(x p y)``
    derives ``(y q x)``.  Map-side broadcast join, no shuffle."""
    g = graph
    return (g.filter(F.col("obj_kind") != "literal")
            .join(F.broadcast(swap_map), g.pred == swap_map.p)
            .select(F.col("obj_value").alias("subj"),
                    F.col("obj_kind").alias("subj_kind"),
                    F.col("q").alias("pred"),
                    F.col("subj").alias("obj_value"),
                    F.col("subj_kind").alias("obj_kind"),
                    F.lit(None).cast("string").alias("obj_datatype"),
                    F.lit(None).cast("string").alias("obj_lang")))


def owl_entail(graph: DataFrame, ontology: DataFrame,
               max_rounds: int = 30) -> DataFrame:
    """Materialize the OWL 2 RL property rules over the canonical
    graph (the 7 term columns, set semantics): ``prp-inv``
    (``P owl:inverseOf Q``, both directions), ``prp-symp``
    (``P a owl:SymmetricProperty``), and ``prp-trp``
    (``P a owl:TransitiveProperty``).  Returns the entailed graph as a
    SET (distinct on the term columns).

    Completeness without a joint fixpoint loop — stratification
    swap → closure → swap is exact for these three rules:

    1. swap pass 1 completes every inverse/symmetric pair over the
       asserted edges, so each transitive predicate's slice already
       contains everything reachable from either direction of an
       inverse assertion;
    2. the per-predicate semi-naive closure (operators/paths.
       transitive_closure — O(log depth) rounds, storage-disciplined)
       then closes each declared-transitive slice;
    3. swap pass 2 re-derives inverses OF closure-derived edges (the
       inverse of a transitive closure IS the closure of the inverse),
       and symmetric closure output is already symmetric, so no rule
       can fire again.

    Closure-derived endpoints recover their term metadata from the
    slice itself (min-struct per value — deterministic when a value
    appears with one kind, the overwhelmingly common case; collisions
    resolve to the lexicographic minimum).  The ontology is tiny by
    nature: its predicate lists are collected to the driver (bounded
    state), the instance graph is never shuffled outside the closures.
    """
    missing = [c for c in _TERM_COLS if c not in graph.columns]
    if missing:
        raise ValueError(f"owl_entail needs the full term schema; "
                         f"missing {missing}")
    g = graph.select(*_TERM_COLS)

    inv = (ontology.filter(F.col("pred") == OWL_INVERSE)
           .select(F.col("subj").alias("p"),
                   F.col("obj_value").alias("q")))
    inv_bidir = inv.unionByName(
        inv.select(F.col("q").alias("p"), F.col("p").alias("q")))
    sym = (ontology.filter((F.col("pred") == RDF_TYPE)
                           & (F.col("obj_value") == OWL_SYMMETRIC))
           .select(F.col("subj").alias("p"),
                   F.col("subj").alias("q")))
    swap_map = inv_bidir.unionByName(sym).distinct()
    swap_rows = swap_map.collect()  # ontology-sized driver state
    trans_preds = sorted(
        r.subj for r in
        ontology.filter((F.col("pred") == RDF_TYPE)
                        & (F.col("obj_value") == OWL_TRANSITIVE))
        .select("subj").distinct().collect())

    has_swaps = bool(swap_rows)
    spark = graph.sparkSession
    swap_df = (spark.createDataFrame(swap_rows, "p string, q string")
               if has_swaps else None)

    e1 = g.unionByName(_swap_pass(g, swap_df)) if has_swaps else g

    derived = []
    for tp in trans_preds:
        edges = e1.filter(F.col("pred") == tp)
        pairs = edges.select(F.col("subj").alias("a"),
                             F.col("obj_value").alias("b"))
        closed = transitive_closure(pairs, max_rounds=max_rounds)
        # term metadata for the composed endpoints, from the slice
        subj_meta = (edges.groupBy(F.col("subj").alias("a"))
                     .agg(F.min("subj_kind").alias("a_kind")))
        obj_meta = (edges.groupBy(F.col("obj_value").alias("b"))
                    .agg(F.min(F.struct("obj_kind", "obj_datatype",
                                        "obj_lang")).alias("m")))
        derived.append(
            closed.join(subj_meta, "a").join(obj_meta, "b")
            .select(F.col("a").alias("subj"),
                    F.col("a_kind").alias("subj_kind"),
                    F.lit(tp).alias("pred"),
                    F.col("b").alias("obj_value"),
                    F.col("m.obj_kind").alias("obj_kind"),
                    F.col("m.obj_datatype").alias("obj_datatype"),
                    F.col("m.obj_lang").alias("obj_lang")))
    e2 = e1
    for d in derived:
        e2 = e2.unionByName(d)

    out = (e2.unionByName(_swap_pass(e2, swap_df)) if has_swaps else e2)
    return out.dropDuplicates(list(_TERM_COLS))
