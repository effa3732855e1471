"""SPARQL-Update-style graph maintenance: DELETE/INSERT ... WHERE as a
pure DataFrame transformation.

The reference parser only PRODUCES quads (/root/reference/lib/
RdfaParser.ts:803-811); maintaining the downstream store — predicate
migrations, retractions, enrichment — is left to its consumer.  This
module closes that loop Spark-first: an update is compiled onto the
existing BGP algebra (``bgp._eval_spec`` for WHERE, ``bgp_construct``
for the templates) and returns the NEW graph as a DataFrame — the caller
replaces the graph table with it (or hands it to the recrawl-merge /
snapshot-delta operators).  Nothing mutates in place: Spark DataFrames
are immutable, so an update is a plan, not a side effect — which is
exactly what makes it retry-safe and auditable at scale (the
"transaction" is the atomic table swap in the catalog layer).

Semantics (graph-SET, the engine-wide convention):

- The input graph is treated as a set of triples; the result is
  returned de-duplicated on the seven term columns.
- DELETE matches on the engine-wide LEXICAL term identity
  ``(subj, pred, obj_value)`` — the same identity every join in
  ``bgp_match`` uses — via one anti-join (Catalyst broadcasts the
  matched-delete side when it is small, the common case).
- INSERT instantiates its template once per WHERE solution with
  :func:`bgp_construct`: template variables carry the SOURCE term's
  kind/datatype/language (companion metadata columns), so a copied
  literal stays the same literal, and a :class:`bgp.Lit` constant is
  that literal.  INSERT/DELETE DATA rows follow the same constant
  rule.

Scale: one scan of the graph for the WHERE solutions (each pattern a
pushed-filter slice), one anti-join for DELETE, a union for INSERT,
one distinct — no iteration, no driver-side state.  The anti-join and
the final distinct are the only shuffles, both on the triple key the
bucketed graph catalog (sources/catalog.py) is already laid out by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfa_streaming_parser_js_spark.operators.bgp import (
    TERM_COLS, GroupSpec, Lit, Pattern, _eval_spec, _pattern_vars,
    _plain_bound, bgp_construct, node_kind)

_LEX_KEY = ("subj", "pred", "obj_value")


def apply_update(graph: DataFrame,
                 delete: "list[Pattern] | None" = None,
                 insert: "list[Pattern] | None" = None,
                 where: "GroupSpec | list[Pattern] | None" = None,
                 filters: "list[str] | None" = None,
                 meta_vars: "frozenset[str]" = frozenset(),
                 **bgp_kwargs) -> DataFrame:
    """``DELETE { delete } INSERT { insert } WHERE { where }`` → the
    updated graph (SPARQL 1.1 Update §3.1.3 ``DELETE/INSERT``).

    ``delete`` / ``insert`` are triple templates (either may be
    omitted); ``where`` defaults to the ``delete`` template — the
    ``DELETE WHERE`` shorthand (§3.1.3.2).  ``where`` is a
    :class:`bgp.GroupSpec` (the SPARQL front-end passes its parsed
    group), or a pattern list that ``filters`` and any extra
    ``bgp_kwargs`` (``optionals``, ``values``, ``binds``, ...) complete
    into one, as :func:`bgp_match` does; either way the group is
    evaluated by ``bgp._eval_spec``.  A template constant is a term
    by :func:`bgp_construct`'s rule: a :class:`bgp.Lit` is that
    literal, a string an IRI or (``_:``) a blank node.

    The graph must carry the full seven term columns.  Deletion is by
    lexical triple identity; insertion preserves source-term metadata
    for template variables (see module docstring).  Ground (constant)
    template triples delete/insert unconditionally — but at least one
    of the groups must produce solutions, so a fully-ground update
    with no WHERE should use :func:`insert_data` / :func:`delete_data`.
    """
    if delete is None and insert is None:
        raise ValueError("apply_update needs a delete and/or insert "
                         "template")
    missing = [c for c in TERM_COLS if c not in graph.columns]
    if missing:
        raise ValueError(
            f"graph is missing term columns {missing} — updates need "
            "the full term schema to rebuild the graph")
    # QUADS mode: templates may scope triples to named graphs with
    # 4-tuple patterns (the text front-end's ``GRAPH <g> { ... }`` /
    # ``GRAPH ?g { ... }`` template blocks).  Requires a quads table;
    # bare 3-tuple template patterns then target the default graph
    # (NULL).  DELETE keys on (lexical triple, graph) with null-safe
    # graph equality; the result keeps the ``graph`` column.
    quads = "graph" in graph.columns
    if not quads and any(len(pat) == 4 for pat in
                         (list(delete or ()) + list(insert or ()))):
        raise ValueError(
            "GRAPH in an update template needs a QUADS table "
            "(nullable 'graph' column; NULL = default graph)")
    if where is None:
        if delete is None:
            raise ValueError(
                "INSERT without WHERE has no solutions to instantiate "
                "the template with — use insert_data for ground triples")
        where = delete  # DELETE WHERE shorthand
    if not isinstance(where, GroupSpec):
        where = GroupSpec(patterns=where, filters=filters, **bgp_kwargs)
    elif filters or bgp_kwargs:
        raise ValueError("a GroupSpec where carries its own filters and "
                         "group members")
    # metadata for inserted vars so copied terms stay themselves; the
    # delete side needs none (lexical identity).  Only vars bound by a
    # plain pattern or a sub-SELECT projection qualify (path endpoints
    # carry no metadata; a sub-SELECT keeps what its own plain
    # patterns bind, see GroupSpec.relations).  Extra
    # meta_vars (e.g. isBlank/datatype FILTER references from the text
    # front-end) pass through unfiltered — the evaluator itself raises
    # for a metadata request on a path-only binding
    meta = ((_pattern_vars(insert or ()) & _plain_bound(where))
            | frozenset(meta_vars))
    solutions = _eval_spec(graph, where, meta)
    # the result is the 7-column term table (extra input columns like a
    # provenance url would survive dropDuplicates nondeterministically);
    # in quads mode the graph column is the 8th — a bare 3-tuple
    # template targets the DEFAULT graph (NULL), per SPARQL Update's
    # no-WITH reading; GRAPH blocks target named graphs explicitly.
    out_cols = list(TERM_COLS) + (["graph"] if quads else [])
    out = graph.select(*out_cols)
    if delete:
        doomed = bgp_construct(solutions, delete)
        if quads:
            if "graph" not in doomed.columns:
                doomed = doomed.withColumn(
                    "graph", F.lit(None).cast("string"))
            doomed = (doomed.select(*_LEX_KEY, "graph")
                      .dropDuplicates().alias("_doomed"))
            cur = out.alias("_cur")
            cond = F.col("_cur.graph").eqNullSafe(F.col("_doomed.graph"))
            for c in _LEX_KEY:
                cond = cond & (F.col(f"_cur.{c}") == F.col(f"_doomed.{c}"))
            out = cur.join(doomed, on=cond, how="left_anti")
        else:
            doomed = doomed.select(*_LEX_KEY).dropDuplicates()
            out = out.join(doomed, on=list(_LEX_KEY), how="left_anti")
    if insert:
        added = bgp_construct(solutions, insert)
        if quads and "graph" not in added.columns:
            added = added.withColumn("graph", F.lit(None).cast("string"))
        out = out.unionByName(added.select(*out_cols))
    return out.dropDuplicates(out_cols)


def _ground_rows(spark, rows, quads: bool = False):
    """Ground rows ``(s, p, o[, g])`` → a term-schema DataFrame, by
    :func:`bgp_construct`'s constant rule: a :class:`bgp.Lit` object
    is that literal, any other term an IRI or (``_:``) a blank node.
    The 4th element is the graph IRI, or ``None`` for the default
    graph; with ``quads=True`` the result has a ``graph`` column."""
    data = [(s, p, *((o.lex, "literal", o.datatype, o.lang)
                     if isinstance(o, Lit) else (o, None, None, None)),
             g[0] if g else None) for s, p, o, *g in rows]
    df = spark.createDataFrame(
        data, "subj string, pred string, obj_value string, obj_kind "
        "string, obj_datatype string, obj_lang string, graph string")
    df = df.withColumns({
        "subj_kind": node_kind(F.col("subj")),
        "obj_kind": F.coalesce("obj_kind", node_kind(F.col("obj_value")))})
    return df.select(*TERM_COLS, *(["graph"] if quads else []))


def _data_quads(graph: DataFrame, triples) -> bool:
    """True when a ground DATA block targets named graphs (any 4-tuple
    entry).  Requires a quads table; a triples-only table with quad
    data raises early with the standard quads message."""
    has_g = any(len(t) > 3 and t[3] is not None for t in triples)
    if has_g:
        _require_quads(graph)
    return "graph" in graph.columns


def insert_data(graph: DataFrame, triples) -> DataFrame:
    """``INSERT DATA`` (§3.1.1): add ground triples to the graph.
    Each is ``(s, p, o[, g])`` in the template row shape: a
    :class:`bgp.Lit` object is that literal, a string term an IRI or
    (``_:``) a blank node.  Entries with a 4th (graph) element insert
    into that named graph — the table must then be a quads table."""
    if not triples:
        raise ValueError("insert_data needs at least one triple")
    quads = _data_quads(graph, triples)
    cols = list(TERM_COLS) + (["graph"] if quads else [])
    added = _ground_rows(graph.sparkSession, triples, quads=quads)
    return (graph.select(*cols).unionByName(added.select(*cols))
            .dropDuplicates(cols))


def delete_data(graph: DataFrame, triples) -> DataFrame:
    """``DELETE DATA`` (§3.1.2): remove ground triples (rows as for
    :func:`insert_data`) by lexical identity (plus null-safe graph
    identity for 4-tuple entries over a quads table).  The tiny
    constant side broadcasts."""
    if not triples:
        raise ValueError("delete_data needs at least one triple")
    quads = _data_quads(graph, triples)
    doomed = _ground_rows(graph.sparkSession, triples, quads=quads)
    if not quads:
        return graph.join(F.broadcast(doomed.select(*_LEX_KEY)),
                          on=list(_LEX_KEY), how="left_anti")
    doomed = doomed.select(*_LEX_KEY, "graph").alias("_doomed")
    cur = graph.alias("_cur")
    cond = F.col("_cur.graph").eqNullSafe(F.col("_doomed.graph"))
    for c in _LEX_KEY:
        cond = cond & (F.col(f"_cur.{c}") == F.col(f"_doomed.{c}"))
    return cur.join(F.broadcast(doomed), on=cond, how="left_anti")


# --------------------------------------------------------------------
# graph management (SPARQL 1.1 Update §3.2) over a QUADS table
# --------------------------------------------------------------------
#
# These operate on the quad schema (the term columns plus a nullable
# ``graph`` column — NULL = the default graph).  A quads table is a
# SET of quads, so CREATE is a no-op (empty graphs have no rows to
# record) and DROP ≡ CLEAR — both facts the spec itself anticipates
# for stores that "do not record the existence of empty graphs".
# Every operation is a plan (filter/union/distinct), never a mutation;
# the atomic swap lives in the catalog layer, as for apply_update.

DEFAULT = "DEFAULT"   # selector sentinel: the default graph
NAMED = "NAMED"       # CLEAR/DROP selector: every named graph
ALL = "ALL"           # CLEAR/DROP selector: everything


def _graph_sel(target: str):
    """Row predicate for a graph selector.  Null-safe equality for a
    specific graph: the default graph's NULL must make the predicate
    FALSE (not NULL), or ``~sel`` in CLEAR/COPY/MOVE silently drops
    the default graph's rows under three-valued logic."""
    if target == DEFAULT:
        return F.col("graph").isNull()
    if target == NAMED:
        return F.col("graph").isNotNull()
    if target == ALL:
        return F.lit(True)
    return F.col("graph").eqNullSafe(F.lit(target))


def _graph_lit(target: str):
    if target in (NAMED, ALL):
        raise ValueError(f"{target} is not a single-graph destination")
    return (F.lit(None).cast("string") if target == DEFAULT
            else F.lit(target))


def _require_quads(quads: DataFrame) -> None:
    if "graph" not in quads.columns:
        raise ValueError(
            "graph management needs a QUADS table (nullable 'graph' "
            "column; NULL = default graph) — extraction output with "
            "url aliased to graph, or parse_nquads_lines output")


def clear_graph(quads: DataFrame, target: str) -> DataFrame:
    """``CLEAR GRAPH <g> | DEFAULT | NAMED | ALL`` (§3.2.2): remove
    every quad the selector matches.  A pushed-down filter — no
    shuffle."""
    _require_quads(quads)
    return quads.filter(~_graph_sel(target))


def drop_graph(quads: DataFrame, target: str) -> DataFrame:
    """``DROP`` (§3.2.6) ≡ :func:`clear_graph` on a quads table (no
    empty-graph bookkeeping to remove — the spec's own reading for
    such stores)."""
    return clear_graph(quads, target)


def add_graph(quads: DataFrame, src: str, dst: str) -> DataFrame:
    """``ADD <src> TO <dst>`` (§3.2.5): insert all of src's triples
    into dst, keeping dst's existing content; src unchanged;
    ``ADD g TO g`` is a no-op.  One filter + union + distinct."""
    _require_quads(quads)
    if src == dst:
        return quads
    moved = (quads.filter(_graph_sel(src))
             .withColumn("graph", _graph_lit(dst)))
    return (quads.unionByName(moved)
            .dropDuplicates(list(quads.columns)))


def copy_graph(quads: DataFrame, src: str, dst: str) -> DataFrame:
    """``COPY <src> TO <dst>`` (§3.2.3): dst becomes exactly src's
    content (DROP dst, then insert src into dst); src unchanged;
    ``COPY g TO g`` is a no-op."""
    _require_quads(quads)
    if src == dst:
        return quads
    moved = (quads.filter(_graph_sel(src))
             .withColumn("graph", _graph_lit(dst)))
    return quads.filter(~_graph_sel(dst)).unionByName(moved)


def move_graph(quads: DataFrame, src: str, dst: str) -> DataFrame:
    """``MOVE <src> TO <dst>`` (§3.2.4): COPY then DROP src;
    ``MOVE g TO g`` is a no-op."""
    _require_quads(quads)
    if src == dst:
        return quads
    moved = (quads.filter(_graph_sel(src))
             .withColumn("graph", _graph_lit(dst)))
    return (quads.filter(~_graph_sel(dst) & ~_graph_sel(src))
            .unionByName(moved))
