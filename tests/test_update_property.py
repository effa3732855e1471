"""Property-based validation of the SPARQL-Update layer: apply_update
(anti-join delete + metadata-preserving construct insert + graph-set
dedup) must agree with a naive set-semantics reference evaluator over
random small term graphs, WHERE groups, and templates.

Term metadata in the generated graphs is a FUNCTION of the lexical
value (IRIs s*/p*; "lit-a" is @en, "lit-b" is ^^xsd:integer), so the
reference can re-derive each binding's kind/datatype/language without
modelling which pattern position minted the companion columns.
Template constants are terms: a ``Lit`` is that literal, even one
whose text is an IRI of the graph (``Lit("s0")``)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from rdfa_streaming_parser_js_spark.operators.bgp import Lit
from rdfa_streaming_parser_js_spark.operators.update import (
    TERM_COLS, apply_update)

XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"

SUBJECTS = ["s0", "s1", "s2"]
PREDS = ["p0", "p1"]
LITERALS = ["lit-a", "lit-b"]
OBJECTS = SUBJECTS + LITERALS
VARS = ["?a", "?b"]

TEMPLATE_LITS = [Lit("lit-a", lang="en"), Lit("lit-b", datatype=XSD_INT),
                 Lit("s0")]


def term_meta(v):
    """(kind, datatype, lang) — value-determined, see module doc."""
    if v == "lit-a":
        return ("literal", None, "en")
    if v == "lit-b":
        return ("literal", XSD_INT, None)
    return ("iri", None, None)


def as_row(s, p, o):
    okind, odt, olang = term_meta(o)
    return (s, "iri", p, o, okind, odt, olang)


@st.composite
def update_case(draw):
    triples = draw(st.lists(
        st.tuples(st.sampled_from(SUBJECTS), st.sampled_from(PREDS),
                  st.sampled_from(OBJECTS)),
        min_size=1, max_size=10))

    where = []
    for _ in range(draw(st.integers(1, 2))):
        s = draw(st.sampled_from(VARS + SUBJECTS))
        p = draw(st.sampled_from(VARS + PREDS))
        o = draw(st.sampled_from(VARS + OBJECTS))
        if not any(t.startswith("?") for t in (s, p, o)):
            s = draw(st.sampled_from(VARS))
        where.append((s, p, o))
    bound = sorted({t for pat in where for t in pat if t.startswith("?")})

    def template(max_pats):
        pats = []
        for _ in range(draw(st.integers(1, max_pats))):
            s = draw(st.sampled_from(bound + SUBJECTS))
            p = draw(st.sampled_from(bound + PREDS))
            o = draw(st.sampled_from(bound + SUBJECTS + TEMPLATE_LITS))
            pats.append((s, p, o))
        return pats

    which = draw(st.sampled_from(["delete", "insert", "both"]))
    delete = template(2) if which in ("delete", "both") else None
    insert = template(2) if which in ("insert", "both") else None
    return triples, where, delete, insert


def naive_solutions(triples, patterns):
    sols = [dict()]
    for s, p, o in patterns:
        new = []
        for sol in sols:
            for ts, tp, to in triples:
                b = dict(sol)
                ok = True
                for term, val in ((s, ts), (p, tp), (o, to)):
                    if term.startswith("?"):
                        if b.get(term, val) != val:
                            ok = False
                            break
                        b[term] = val
                    elif term != val:
                        ok = False
                        break
                if ok:
                    new.append(b)
        sols = new
    return sols


def naive_update(triples, where, delete, insert):
    """Set-semantics reference: lexical-identity delete, then insert
    rows with value-determined term metadata."""
    graph = {as_row(*t) for t in triples}
    sols = naive_solutions(triples, where)

    def resolve(term, sol):
        """(value, kind, datatype, lang) of a template term."""
        if isinstance(term, Lit):
            return (term.lex, "literal", term.datatype, term.lang)
        v = sol[term] if term.startswith("?") else term
        return (v,) + term_meta(v)

    out = set(graph)
    if delete:
        doomed = {(resolve(s, b)[0], resolve(p, b)[0], resolve(o, b)[0])
                  for b in sols for s, p, o in delete}
        out = {r for r in out if (r[0], r[2], r[3]) not in doomed}
    if insert:
        for b in sols:
            for s, p, o in insert:
                sv, skind = resolve(s, b)[:2]
                out.add((sv, skind, resolve(p, b)[0], *resolve(o, b)))
    return out


@given(update_case())
@settings(max_examples=15, deadline=None)
def test_apply_update_agrees_with_naive_evaluator(spark, case):
    triples, where, delete, insert = case
    df = spark.createDataFrame(
        [as_row(*t) for t in triples],
        "subj string, subj_kind string, pred string, obj_value string,"
        " obj_kind string, obj_datatype string, obj_lang string")
    got = apply_update(df, delete=delete, insert=insert, where=where)
    got_set = {tuple(r) for r in got.select(*TERM_COLS).collect()}
    assert got_set == naive_update(triples, where, delete, insert)


# ---------------------------------------------------------------------
# graph management vs a Python-set model (SPARQL 1.1 Update §3.2)
# ---------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

GRAPHS = [None, "http://g/1", "http://g/2", "http://g/3"]
G_REFS = ["DEFAULT", "http://g/1", "http://g/2", "http://g/3"]


def _model_apply(quads: set, op):
    """Reference semantics over a set of (graph, subj, pred, obj)."""
    kind = op[0]
    if kind in ("clear", "drop"):
        tgt = op[1]
        if tgt == "DEFAULT":
            return {q for q in quads if q[0] is not None}
        if tgt == "NAMED":
            return {q for q in quads if q[0] is None}
        if tgt == "ALL":
            return set()
        return {q for q in quads if q[0] != tgt}
    src, dst = op[1], op[2]
    s = None if src == "DEFAULT" else src
    d = None if dst == "DEFAULT" else dst
    if s == d:
        return set(quads)
    moved = {(d,) + q[1:] for q in quads if q[0] == s}
    if kind == "add":
        return quads | moved
    if kind == "copy":
        return {q for q in quads if q[0] != d} | moved
    return {q for q in quads if q[0] != d and q[0] != s} | moved


@st.composite
def quads_and_ops(draw):
    quads = draw(st.sets(st.tuples(
        st.sampled_from(GRAPHS), st.sampled_from(["s1", "s2"]),
        st.sampled_from(["http://p", "http://q"]),
        st.sampled_from(["a", "b"])), min_size=1, max_size=10))
    ops = draw(st.lists(st.one_of(
        st.tuples(st.sampled_from(["clear", "drop"]),
                  st.sampled_from(G_REFS + ["NAMED", "ALL"])),
        st.tuples(st.sampled_from(["add", "move", "copy"]),
                  st.sampled_from(G_REFS), st.sampled_from(G_REFS)),
    ), min_size=1, max_size=3))
    return quads, ops


@given(quads_and_ops())
@settings(max_examples=15, deadline=None)
def test_graph_mgmt_agrees_with_set_model(spark, case):
    from rdfa_streaming_parser_js_spark.operators import update as U
    quads, ops = case
    df = spark.createDataFrame(
        [(g, s, "iri", p, o, "literal", None, None)
         for g, s, p, o in quads],
        "graph string, subj string, subj_kind string, pred string, "
        "obj_value string, obj_kind string, obj_datatype string, "
        "obj_lang string")
    model = set(quads)
    for op in ops:
        if op[0] in ("clear", "drop"):
            df = U.clear_graph(df, op[1])
        else:
            fn = {"add": U.add_graph, "move": U.move_graph,
                  "copy": U.copy_graph}[op[0]]
            df = fn(df, op[1], op[2])
        model = _model_apply(model, op)
    got = {(r.graph, r.subj, r.pred, r.obj_value)
           for r in df.collect()}
    assert got == model, ops
