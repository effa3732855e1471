"""Canonical per-document graph fingerprints (Weisfeiler–Leman
label refinement over blank nodes).

Why this exists: the reference parser mints blank-node labels from a
per-document counter (/root/reference/lib/RdfaParser.ts:879-885,
``dataFactory.blankNode(`b${this.blankNodeCounter++}`)``), so the SAME
page re-parsed after a markup reshuffle — or by a parser version that
visits siblings in a different order — emits an ISOMORPHIC graph with
different bnode labels.  Byte-level triple comparison (snapshot_delta,
exact dedup) then reports a full rewrite where nothing semantic
changed.  The fingerprint closes that gap: a deterministic hash of the
graph that is invariant under blank-node renaming, so recrawl
pipelines can skip re-canonicalizing pages whose graph is unchanged
up to bnode identity.

Algorithm — classic 1-WL (Weisfeiler–Leman / colour refinement),
k rounds, over each url's triple set independently:

  label_0(b)   = "b"                        for every blank node b
  label_r+1(b) = md5( label_r(b)
                      ‖ sort(multiset of  pred "›" label_r(obj)  over
                             outgoing edges of b)
                      ‖ sort(multiset of  label_r(subj) "‹" pred over
                             incoming edges of b) )

Ground terms (IRIs, literals) act as fixed self-labels: ``I:<iri>`` /
``L:<lex>|<datatype>|<lang>`` — they never refine, they only feed
neighbouring bnodes' signatures.  After k rounds every bnode is
replaced by its final label and the fingerprint is

  fp(url) = md5( sort(multiset of "s p o" triple strings) joined \\n )

Properties (standard WL facts, restated for this schema):

- **Soundness for renaming**: a bijective bnode renaming cannot change
  any signature, so isomorphic-by-renaming graphs ALWAYS collide —
  that is the guarantee the recrawl use-case needs.
- **Completeness caveat**: 1-WL cannot distinguish certain regular
  non-isomorphic graphs, so a fingerprint collision is *evidence*, not
  proof, of isomorphism.  RDFa bnode structures are overwhelmingly
  trees (nested ``typeof`` chains, rdf:List spines — see
  /root/reference/lib/RdfaParser.ts:823-835), and 1-WL is exact on
  trees of depth ≤ k; ``rounds`` defaults to 3 which covers list
  spines three cells deep plus the hanging-rel chain.
- Two automorphic bnodes may share a final label; the fingerprint is a
  MULTISET hash, so duplicate post-substitution triple strings still
  count twice.

Determinism: every aggregation is ``sort_array(collect_list(...))``
(binary UTF-8 order, engine-independent) followed by ``concat_ws`` and
``md5`` — the same recipe the DuckDB oracle mirrors with
``string_agg(... ORDER BY ...)`` + ``md5``, so the gate hash-matches
bit-for-bit.  Separators (``›`` ``‹`` 0x1f 0x1e) can in principle occur
inside literal text; both engines build the identical string, so that
costs hash quality only, never cross-engine divergence.

Scale shape (the 100 TB story): every join and groupBy below is keyed
by ``(url, node)`` or ``url`` — maximal key cardinality, no hub skew
possible (a url's graph is one page's output, bounded by page size).
k rounds cost 2k keyed aggregations + 2k broadcast-free equi-joins,
all map-side combinable; repartitioning the triple table by url once
(or reading a url-bucketed graph TABLE — sources/catalog.py) makes
every stage after the first shuffle co-located.  Driver state: none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfa_streaming_parser_js_spark.operators.storage import (
    checkpoint, release, track)

DEFAULT_ROUNDS = 3

# Field separators inside signature strings.  0x1f/0x1e are the ASCII
# unit/record separators; the arrow glyphs mark edge direction.
_OUT = "›"   # › pred-to-object
_IN = "‹"    # ‹ subject-to-pred
_US = "\x1f"
_RS = "\x1e"


def _ground_obj_term() -> F.Column:
    """Fixed self-label of a non-bnode object: kind-prefixed lexical
    form; literals carry datatype + lang so `"5"^^xsd:int` and
    `"5"@en` never merge (same identity rule as the N-Triples sink)."""
    return F.when(
        F.col("obj_kind") == "literal",
        F.concat(F.lit("L:"), F.col("obj_value"), F.lit(_US),
                 F.coalesce(F.col("obj_datatype"), F.lit("")),
                 F.lit(_US), F.coalesce(F.col("obj_lang"), F.lit("")))
    ).when(F.col("obj_kind") == "iri",
           F.concat(F.lit("I:"), F.col("obj_value"))).otherwise(F.lit(None))


def _wl_labels(terms: DataFrame, rounds: int) -> DataFrame:
    """(url, node, label) for every blank node after ``rounds`` of
    refinement.  ``terms`` needs url/subj/subj_kind/pred plus the
    precomputed ``obj_term`` (NULL iff the object is a bnode) and
    ``subj_term`` (NULL iff the subject is a bnode).

    Each round's label frame feeds THREE consumers (the out-signature
    join, the in-signature join, next round / the final substitution),
    so without materialization the lineage re-evaluates ~3^rounds
    times.  Storage therefore follows ``operators/storage``'s one rule:
    every generation is a checkpoint, the superseded one is released as
    soon as its successor exists, and the final one (which the lazy
    result still reads) is tracked."""
    labels = (terms.filter(F.col("subj_kind") == "bnode")
              .select("url", F.col("subj").alias("node"))
              .unionByName(
                  terms.filter(F.col("obj_kind") == "bnode")
                  .select("url", F.col("obj_value").alias("node")))
              .distinct()
              .withColumn("label", F.lit("b")))
    labels = checkpoint(labels)

    for _ in range(rounds):
        lab = labels  # previous generation
        out_sig = (
            terms.filter(F.col("subj_kind") == "bnode")
            .join(lab.select(F.col("url").alias("u"),
                             F.col("node").alias("n"), "label"),
                  on=[F.col("url") == F.col("u"),
                      F.col("obj_value") == F.col("n")], how="left")
            .select("url", F.col("subj").alias("node"),
                    F.concat(F.col("pred"), F.lit(_OUT),
                             F.coalesce("obj_term", "label")).alias("c"))
            .groupBy("url", "node")
            .agg(F.concat_ws(_RS, F.sort_array(F.collect_list("c")))
                 .alias("out_sig")))
        in_sig = (
            terms.filter(F.col("obj_kind") == "bnode")
            .join(lab.select(F.col("url").alias("u"),
                             F.col("node").alias("n"), "label"),
                  on=[F.col("url") == F.col("u"),
                      F.col("subj") == F.col("n")], how="left")
            .select("url", F.col("obj_value").alias("node"),
                    F.concat(F.coalesce("subj_term", "label"),
                             F.lit(_IN), F.col("pred")).alias("c"))
            .groupBy("url", "node")
            .agg(F.concat_ws(_RS, F.sort_array(F.collect_list("c")))
                 .alias("in_sig")))
        nxt = (
            lab.join(out_sig, ["url", "node"], "left")
            .join(in_sig, ["url", "node"], "left")
            .select("url", "node",
                    F.md5(F.concat(F.col("label"), F.lit(_US),
                                   F.coalesce("out_sig", F.lit("")),
                                   F.lit(_US),
                                   F.coalesce("in_sig", F.lit(""))))
                    .alias("label")))
        try:
            nxt = checkpoint(nxt)
        finally:
            release(lab)
        labels = nxt
    return track(labels)


def graph_fingerprint(triples: DataFrame,
                      rounds: int = DEFAULT_ROUNDS) -> DataFrame:
    """(url, fingerprint, n_triples) — one canonical hash per url,
    invariant under blank-node renaming (see module docstring).

    ``triples`` is the engine triple schema (url, subj, subj_kind,
    pred, obj_value, obj_kind, obj_datatype, obj_lang).  Blank nodes
    are recognized by kind, not by lexical ``_:`` sniffing, so both
    raw ``_:b0``-style labels and skolemized sha-IRIs fingerprint
    identically when their kind says bnode.
    """
    terms = triples.select(
        "url", "subj", "subj_kind", "pred", "obj_value", "obj_kind",
        _ground_obj_term().alias("obj_term"),
        F.when(F.col("subj_kind") == "bnode", F.lit(None))
        .otherwise(F.concat(F.lit("I:"), F.col("subj")))
        .alias("subj_term"))
    # 2·rounds+1 consumers scan ``terms``; materialize it once rather
    # than re-running the upstream extraction per scan (tracked — the
    # lazy result still references it).
    terms = track(checkpoint(terms))

    labels = _wl_labels(terms, rounds)
    s_lab = labels.select(F.col("url").alias("su"),
                          F.col("node").alias("sn"),
                          F.col("label").alias("s_label"))
    o_lab = labels.select(F.col("url").alias("ou"),
                          F.col("node").alias("on"),
                          F.col("label").alias("o_label"))
    resolved = (
        terms
        .join(s_lab, on=[F.col("url") == F.col("su"),
                         F.col("subj") == F.col("sn")], how="left")
        .join(o_lab, on=[F.col("url") == F.col("ou"),
                         F.col("obj_value") == F.col("on")], how="left")
        .select("url", F.concat(
            F.coalesce("subj_term", F.concat(F.lit("B:"), "s_label")),
            F.lit(" "), F.col("pred"), F.lit(" "),
            F.coalesce("obj_term", F.concat(F.lit("B:"), "o_label")))
            .alias("ts")))
    return (resolved.groupBy("url")
            .agg(F.md5(F.concat_ws("\n",
                                   F.sort_array(F.collect_list("ts"))))
                 .alias("fingerprint"),
                 F.count(F.lit(1)).alias("n_triples")))


def rename_bnodes(triples: DataFrame) -> DataFrame:
    """Deterministically PERMUTE every blank-node label (an injective
    md5-based renaming) — produces a graph isomorphic to the input
    whose bnode identifiers share nothing with the originals.  Test /
    demo helper modelling a recrawl parsed with different counter
    order; also useful as a privacy-preserving label scrub."""
    new_subj = F.when(F.col("subj_kind") == "bnode",
                      F.concat(F.lit("_:r"), F.md5(F.col("subj")))
                      ).otherwise(F.col("subj"))
    new_obj = F.when(F.col("obj_kind") == "bnode",
                     F.concat(F.lit("_:r"), F.md5(F.col("obj_value")))
                     ).otherwise(F.col("obj_value"))
    return (triples.withColumn("subj", new_subj)
            .withColumn("obj_value", new_obj))


def fingerprint_sql(triples_cte: str, rounds: int = DEFAULT_ROUNDS,
                    fp_col: str = "fingerprint",
                    prefix: str = "fp") -> str:
    """DuckDB mirror of :func:`graph_fingerprint`: the same WL rounds
    unrolled as a CTE chain over ``triples_cte`` (any SELECT producing
    the triple schema).  ``prefix`` namespaces the CTE names so two
    fingerprints (e.g. base vs renamed) can inline in ONE oracle query
    as subselects.  ``string_agg(... ORDER BY ...)`` is DuckDB's
    sorted-multiset concat; md5 and binary VARCHAR ordering agree with
    Spark, so the hashes are bit-identical.  The terms and per-round
    label CTEs are ``MATERIALIZED`` — each has several consumers, and
    DuckDB's default CTE inlining re-evaluates the whole upstream
    reconstruction per consumer (the same 3^rounds blowup the Spark
    side avoids with per-round localCheckpoints)."""
    p = prefix
    terms = f"""
      SELECT url, subj, subj_kind, pred, obj_value, obj_kind,
             CASE WHEN obj_kind = 'literal'
                  THEN 'L:' || obj_value || chr(31)
                       || coalesce(obj_datatype, '') || chr(31)
                       || coalesce(obj_lang, '')
                  WHEN obj_kind = 'iri' THEN 'I:' || obj_value
                  ELSE NULL END AS obj_term,
             CASE WHEN subj_kind = 'bnode' THEN NULL
                  ELSE 'I:' || subj END AS subj_term
      FROM ({triples_cte})"""
    parts = [f"{p}_terms AS MATERIALIZED ({terms})",
             f"""{p}_lab0 AS MATERIALIZED (
      SELECT url, node, 'b' AS label FROM (
        SELECT url, subj AS node FROM {p}_terms WHERE subj_kind = 'bnode'
        UNION
        SELECT url, obj_value AS node FROM {p}_terms
        WHERE obj_kind = 'bnode'))"""]
    prev = f"{p}_lab0"
    for r in range(1, rounds + 1):
        parts.append(f"""{p}_out{r} AS (
      SELECT t.url, t.subj AS node,
             string_agg(t.pred || '›' || coalesce(t.obj_term,
                        l.label), chr(30)
                        ORDER BY t.pred || '›'
                                 || coalesce(t.obj_term, l.label))
             AS out_sig
      FROM {p}_terms t LEFT JOIN {prev} l
        ON l.url = t.url AND l.node = t.obj_value
      WHERE t.subj_kind = 'bnode' GROUP BY t.url, t.subj)""")
        parts.append(f"""{p}_in{r} AS (
      SELECT t.url, t.obj_value AS node,
             string_agg(coalesce(t.subj_term, l.label) || '‹'
                        || t.pred, chr(30)
                        ORDER BY coalesce(t.subj_term, l.label)
                                 || '‹' || t.pred) AS in_sig
      FROM {p}_terms t LEFT JOIN {prev} l
        ON l.url = t.url AND l.node = t.subj
      WHERE t.obj_kind = 'bnode' GROUP BY t.url, t.obj_value)""")
        parts.append(f"""{p}_lab{r} AS MATERIALIZED (
      SELECT l.url, l.node,
             md5(l.label || chr(31) || coalesce(o.out_sig, '')
                 || chr(31) || coalesce(i.in_sig, '')) AS label
      FROM {prev} l
      LEFT JOIN {p}_out{r} o ON o.url = l.url AND o.node = l.node
      LEFT JOIN {p}_in{r} i ON i.url = l.url AND i.node = l.node)""")
        prev = f"{p}_lab{r}"
    parts.append(f"""{p}_resolved AS (
      SELECT t.url,
             coalesce(t.subj_term, 'B:' || sl.label) || ' ' || t.pred
             || ' ' || coalesce(t.obj_term, 'B:' || ol.label) AS ts
      FROM {p}_terms t
      LEFT JOIN {prev} sl ON sl.url = t.url AND sl.node = t.subj
      LEFT JOIN {prev} ol ON ol.url = t.url AND ol.node = t.obj_value)""")
    body = ",\n".join(parts)
    return (f"WITH {body}\n"
            f"SELECT url, md5(string_agg(ts, chr(10) ORDER BY ts)) AS "
            f"{fp_col}, count(*) AS n_triples "
            f"FROM {p}_resolved GROUP BY url")
