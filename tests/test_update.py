"""SPARQL-Update-style graph maintenance (operators/update.py +
sparql.sparql_update): DELETE/INSERT semantics over a small term-schema
graph."""

from __future__ import annotations

import pytest

from rdfa_streaming_parser_js_spark.operators.bgp import Lit, bgp_construct
from rdfa_streaming_parser_js_spark.operators.sparql import (
    SparqlSyntaxError, parse_update, sparql_query, sparql_update)
from rdfa_streaming_parser_js_spark.operators.update import (
    TERM_COLS, apply_update, delete_data, insert_data)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
S = "http://schema.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"

PFX = "PREFIX schema: <http://schema.org/>\n"

SCHEMA = ("subj string, subj_kind string, pred string, obj_value string,"
          " obj_kind string, obj_datatype string, obj_lang string")


def _g(spark):
    return spark.createDataFrame([
        ("d1", "iri", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d1", "iri", f"{S}name", "alpha", "literal", None, "en"),
        ("d1", "iri", f"{S}wordCount", "120", "literal",
         f"{XSD}integer", None),
        ("d2", "iri", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d2", "iri", f"{S}name", "beta", "literal", None, "de"),
        ("d3", "iri", RDF_TYPE, f"{S}Person", "iri", None, None),
        ("d3", "iri", f"{S}name", "carol", "literal", None, None),
    ], SCHEMA)


def _rows(df):
    return sorted(map(tuple, df.select(*TERM_COLS).collect()))


def test_delete_insert_predicate_migration_keeps_metadata(spark):
    """Rename schema:name → schema:headline; the inserted literals must
    keep their language tags (metadata companions)."""
    out = apply_update(
        _g(spark),
        delete=[("?x", f"{S}name", "?n")],
        insert=[("?x", f"{S}headline", "?n")],
        where=[("?x", RDF_TYPE, f"{S}Article"),
               ("?x", f"{S}name", "?n")])
    rows = _rows(out)
    assert ("d1", "iri", f"{S}headline", "alpha", "literal",
            None, "en") in rows
    assert ("d2", "iri", f"{S}headline", "beta", "literal",
            None, "de") in rows
    # d3 (Person) untouched; no Article keeps schema:name
    assert ("d3", "iri", f"{S}name", "carol", "literal",
            None, None) in rows
    assert not any(r[2] == f"{S}name" and r[0] != "d3" for r in rows)
    assert out.count() == 7  # 2 deleted, 2 inserted


def test_delete_where_shorthand(spark):
    out = apply_update(_g(spark),
                       delete=[("?x", RDF_TYPE, f"{S}Person")])
    assert out.count() == 6
    assert not any(r[3] == f"{S}Person" for r in _rows(out))


def test_delete_matches_lexical_identity_only_matched_rows(spark):
    # delete with a filter: only wordCount > 100 rows vanish
    out = apply_update(
        _g(spark),
        delete=[("?x", f"{S}wordCount", "?wc")],
        where=[("?x", f"{S}wordCount", "?wc")],
        filters=["CAST(wc AS BIGINT) > 100"])
    assert out.count() == 6
    assert not any(r[2] == f"{S}wordCount" for r in _rows(out))


def test_insert_is_set_semantics(spark):
    # inserting an already-present triple does not duplicate
    out = apply_update(
        _g(spark),
        insert=[("?x", RDF_TYPE, f"{S}Article")],
        where=[("?x", RDF_TYPE, f"{S}Article")])
    assert out.count() == _g(spark).count()


def test_insert_data_and_delete_data_roundtrip(spark):
    g = _g(spark)
    g2 = insert_data(g, [("d9", RDF_TYPE, f"{S}Dataset"),
                         ("d9", f"{S}name", Lit("neu", lang="de"))])
    assert g2.count() == 9
    g3 = delete_data(g2, [("d9", RDF_TYPE, f"{S}Dataset"),
                          ("d9", f"{S}name", "neu")])
    assert _rows(g3) == _rows(g)


def test_apply_update_requires_full_schema(spark):
    thin = _g(spark).select("subj", "pred", "obj_value")
    with pytest.raises(ValueError, match="term columns"):
        apply_update(thin, delete=[("?x", RDF_TYPE, "?t")])


def test_apply_update_requires_some_template(spark):
    with pytest.raises(ValueError, match="delete and/or insert"):
        apply_update(_g(spark), where=[("?x", RDF_TYPE, "?t")])


# ------------------------------------------------------------------
# text front-end
# ------------------------------------------------------------------

def test_parse_update_forms():
    u = parse_update(PFX + 'INSERT DATA { <d9> schema:name "x"@en ; '
                           'a schema:Person . }')
    assert u.form == "insert_data"
    assert u.data == [("d9", f"{S}name", Lit("x", lang="en")),
                      ("d9", RDF_TYPE, f"{S}Person")]
    u = parse_update(PFX + "DELETE WHERE { ?x schema:name ?n }")
    assert u.form == "modify" and u.delete == u.where.patterns
    u = parse_update(PFX + """DELETE { ?x schema:name ?n }
                              INSERT { ?x schema:headline ?n }
                              WHERE { ?x schema:name ?n }""")
    assert u.insert == [("?x", f"{S}headline", "?n")]


def test_parse_update_typed_ground_literal():
    u = parse_update(
        PFX + "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>\n"
              'INSERT DATA { <d9> schema:wordCount "7"^^xsd:integer }')
    assert u.data == [("d9", f"{S}wordCount",
                       Lit("7", datatype=f"{XSD}integer"))]
    u = parse_update(PFX + "INSERT DATA { <d9> schema:rank 3.5 }")
    assert u.data[0][2] == Lit("3.5", datatype=f"{XSD}decimal")


def test_parse_update_rejects_path_template():
    with pytest.raises(SparqlSyntaxError, match="not allowed"):
        parse_update(PFX + "DELETE WHERE { ?x schema:a/schema:b ?y }")


def test_parse_update_rejects_sequences():
    with pytest.raises(SparqlSyntaxError, match="trailing"):
        parse_update(PFX + "DELETE WHERE { ?x schema:name ?n } ; "
                           "DELETE WHERE { ?x schema:alt ?n }")


def test_exec_sparql_update_migration(spark):
    out = sparql_update(_g(spark), PFX + """
        DELETE { ?x schema:name ?n }
        INSERT { ?x schema:headline ?n }
        WHERE  { ?x a schema:Article ; schema:name ?n }""")
    rows = _rows(out)
    assert ("d1", "iri", f"{S}headline", "alpha", "literal",
            None, "en") in rows
    assert out.filter(f"pred = '{S}name'").count() == 1  # d3 only


def test_exec_sparql_update_insert_data_typed(spark):
    out = sparql_update(_g(spark), PFX + """
        INSERT DATA { <d1> schema:keywords "kg" , "spark" . }""")
    assert out.count() == 9
    got = {tuple(r) for r in
           out.filter(f"pred = '{S}keywords'").collect()}
    assert got == {
        ("d1", "iri", f"{S}keywords", "kg", "literal", None, None),
        ("d1", "iri", f"{S}keywords", "spark", "literal", None, None)}


def test_exec_sparql_update_with_optional_and_filter(spark):
    # enrich Articles lacking a wordCount with a zero marker
    out = sparql_update(_g(spark), PFX + """
        INSERT { ?x schema:wordCount "0" }
        WHERE  { ?x a schema:Article .
                 OPTIONAL { ?x schema:wordCount ?wc }
                 FILTER(!BOUND(?wc)) }""")
    assert out.filter(f"pred = '{S}wordCount'").count() == 2
    assert ("d2", "iri", f"{S}wordCount", "0", "literal", None,
            None) in _rows(out)


def test_exec_sparql_update_term_filter_meta(spark):
    """Term-introspection builtins in an update WHERE need companion
    metadata columns — the parser's meta_vars must reach bgp_match
    through apply_update (review-found: they used to be dropped and the
    FILTER died on an unresolved column)."""
    from pyspark.sql import functions as F
    g = _g(spark).unionByName(spark.createDataFrame(
        [("_:b9", "bnode", RDF_TYPE, f"{S}Article", "iri", None, None),
         ("_:b9", "bnode", f"{S}name", "ghost", "literal", None, None)],
        SCHEMA))
    out = sparql_update(g, PFX + """
        DELETE { ?x schema:name ?n }
        WHERE  { ?x schema:name ?n FILTER(isBlank(?x)) }""")
    assert out.filter(F.col("obj_value") == "ghost").count() == 0
    # IRI-subject names survive
    assert out.filter(f"pred = '{S}name'").count() == 3


def test_update_template_iri_and_literal_with_one_text(spark):
    """The same text as a literal and as an IRI in one template
    inserts one literal and one IRI."""
    out = sparql_update(_g(spark), PFX + """
        INSERT { ?d schema:p "http://x" . ?d schema:q <http://x> }
        WHERE  { ?d a schema:Person }""")
    assert set(_rows(out)) - set(_rows(_g(spark))) == {
        ("d3", "iri", f"{S}p", "http://x", "literal", None, None),
        ("d3", "iri", f"{S}q", "http://x", "iri", None, None)}


def test_update_computed_bind_is_a_literal(spark):
    """String-function and arithmetic BINDs insert literals.  The
    arithmetic one is a DOUBLE column in the solution; the inserted
    term is its string form, so the graph's other objects ("alpha")
    are never cast to DOUBLE."""
    out = sparql_update(_g(spark), PFX + """
        INSERT { ?x schema:alt ?l . ?x schema:lex ?t . ?x schema:m ?m }
        WHERE  { ?x schema:wordCount ?v
                 BIND(CONCAT(?v, "!") AS ?l) BIND(STR(?v) AS ?t)
                 BIND(?v + 1 AS ?m) }""")
    assert set(_rows(out)) - set(_rows(_g(spark))) == {
        ("d1", "iri", f"{S}alt", "120!", "literal", None, None),
        ("d1", "iri", f"{S}lex", "120", "literal", None, None),
        ("d1", "iri", f"{S}m", "121.0", "literal", f"{XSD}double",
         None)}
    assert out.count() == 10


def test_update_constant_bind_is_a_literal(spark):
    """A string or numeric constant BIND inserts a literal, typed by
    the constant's form; an IRI constant stays an IRI."""
    out = sparql_update(_g(spark), PFX + """
        INSERT { ?x schema:c ?c . ?x schema:i ?i . ?x schema:f ?f .
                 ?x schema:e ?e . ?x schema:u ?u . ?x schema:n ?n }
        WHERE  { ?x a schema:Person BIND("x" AS ?c) BIND(7 AS ?i)
                 BIND(1.5 AS ?f) BIND(2e1 AS ?e) BIND(<http://u> AS ?u)
                 BIND(-2 AS ?n) }""")
    assert set(_rows(out)) - set(_rows(_g(spark))) == {
        ("d3", "iri", f"{S}c", "x", "literal", None, None),
        ("d3", "iri", f"{S}i", "7", "literal", f"{XSD}integer", None),
        ("d3", "iri", f"{S}n", "-2", "literal", f"{XSD}integer", None),
        ("d3", "iri", f"{S}f", "1.5", "literal", f"{XSD}decimal", None),
        ("d3", "iri", f"{S}e", "20.0", "literal", f"{XSD}double", None),
        ("d3", "iri", f"{S}u", "http://u", "iri", None, None)}


def test_unquote_backslash_and_raw_bytes():
    """Sentinel-free string-literal decode: raw control bytes in the
    body must survive (the NUL-sentinel scheme corrupted them)."""
    from rdfa_streaming_parser_js_spark.operators.sparql import _unquote
    assert _unquote('"a\\\\b"') == "a\\b"
    assert _unquote('"a\x00b"') == "a\x00b"
    assert _unquote('"\\\\\x00\\n"') == "\\\x00\n"
    assert _unquote('"\\t\\"x\\""') == '\t"x"'


# ---------------------------------------------------------------------
# graph management (SPARQL 1.1 Update §3.2) over a quads table
# ---------------------------------------------------------------------

QUAD_SCHEMA = ("graph string, subj string, subj_kind string, "
               "pred string, obj_value string, obj_kind string, "
               "obj_datatype string, obj_lang string")


def _quads(spark):
    def q(g, s, p, o):
        return (g, s, "iri", p, o, "literal", None, None)
    return spark.createDataFrame([
        q("http://g/1", "s1", "http://p", "a"),
        q("http://g/1", "s2", "http://p", "b"),
        q("http://g/2", "s3", "http://p", "c"),
        q(None, "s4", "http://p", "d"),        # default graph
    ], QUAD_SCHEMA)


def _gq(df):
    return sorted(((r.graph, r.subj, r.obj_value) for r in df.collect()),
                  key=lambda t: tuple(x or "" for x in t))


def test_clear_named_graph(spark):
    from rdfa_streaming_parser_js_spark.operators.sparql import (
        sparql_update)
    out = sparql_update(_quads(spark), "CLEAR GRAPH <http://g/1>")
    assert _gq(out) == [(None, "s4", "d"), ("http://g/2", "s3", "c")]


def test_clear_default_named_all(spark):
    from rdfa_streaming_parser_js_spark.operators.sparql import (
        sparql_update)
    q = _quads(spark)
    assert _gq(sparql_update(q, "CLEAR DEFAULT")) == [
        ("http://g/1", "s1", "a"), ("http://g/1", "s2", "b"),
        ("http://g/2", "s3", "c")]
    assert _gq(sparql_update(q, "CLEAR NAMED")) == [(None, "s4", "d")]
    assert _gq(sparql_update(q, "CLEAR ALL")) == []
    # DROP ≡ CLEAR on a quads table; SILENT accepted
    assert _gq(sparql_update(q, "DROP SILENT GRAPH <http://g/9>")) \
        == _gq(q)


def test_add_graph_keeps_destination(spark):
    from rdfa_streaming_parser_js_spark.operators.sparql import (
        sparql_update)
    out = sparql_update(_quads(spark),
                        "ADD GRAPH <http://g/1> TO GRAPH <http://g/2>")
    assert _gq(out) == [
        (None, "s4", "d"),
        ("http://g/1", "s1", "a"), ("http://g/1", "s2", "b"),
        ("http://g/2", "s1", "a"), ("http://g/2", "s2", "b"),
        ("http://g/2", "s3", "c")]


def test_copy_graph_replaces_destination(spark):
    from rdfa_streaming_parser_js_spark.operators.sparql import (
        sparql_update)
    out = sparql_update(_quads(spark),
                        "COPY <http://g/1> TO <http://g/2>")
    assert _gq(out) == [
        (None, "s4", "d"),
        ("http://g/1", "s1", "a"), ("http://g/1", "s2", "b"),
        ("http://g/2", "s1", "a"), ("http://g/2", "s2", "b")]


def test_move_graph_to_default(spark):
    from rdfa_streaming_parser_js_spark.operators.sparql import (
        sparql_update)
    out = sparql_update(_quads(spark), "MOVE <http://g/1> TO DEFAULT")
    assert _gq(out) == [
        (None, "s1", "a"), (None, "s2", "b"),
        ("http://g/2", "s3", "c")]


def test_graph_mgmt_noops_and_create(spark):
    from rdfa_streaming_parser_js_spark.operators.sparql import (
        sparql_update)
    q = _quads(spark)
    for text in ("ADD <http://g/1> TO <http://g/1>",
                 "MOVE DEFAULT TO DEFAULT",
                 "COPY <http://g/1> TO GRAPH <http://g/1>",
                 "CREATE GRAPH <http://g/new>"):
        assert _gq(sparql_update(q, text)) == _gq(q), text


def test_graph_mgmt_requires_quads_table(spark):
    from rdfa_streaming_parser_js_spark.operators.sparql import (
        sparql_update)
    with pytest.raises(ValueError, match="QUADS table"):
        sparql_update(_g(spark), "CLEAR ALL")


def test_parse_graph_mgmt_forms():
    assert parse_update("CLEAR NAMED").form == "clear"
    u = parse_update("ADD SILENT DEFAULT TO <http://g/2>")
    assert (u.form, u.src, u.dst) == ("add", "DEFAULT", "http://g/2")
    u = parse_update("PREFIX g: <http://g/> MOVE g:1 TO g:2")
    assert (u.form, u.src, u.dst) == ("move", "http://g/1", "http://g/2")
    with pytest.raises(SparqlSyntaxError, match="trailing"):
        parse_update("CLEAR ALL ; DROP ALL")
    with pytest.raises(SparqlSyntaxError, match="graph IRI"):
        parse_update("CREATE GRAPH ?g")
    with pytest.raises(SparqlSyntaxError, match="DEFAULT or a graph"):
        parse_update("ADD NAMED TO DEFAULT")


# ---------------------------------------------------------------------
# quads-aware templates and DATA blocks (SPARQL 1.1 Update §3.1.1
# QuadData / §3.1.3 QuadPattern) — GRAPH wrappers in the text front-end
# ---------------------------------------------------------------------

def _quads_terms(spark):
    """A quads table with full term metadata (the QUAD_SCHEMA above is
    the management-ops fixture; templates need real kinds/langs)."""
    return spark.createDataFrame([
        ("d1", "iri", RDF_TYPE, f"{S}Article", "iri", None, None,
         "http://g/1"),
        ("d1", "iri", f"{S}name", "alpha", "literal", None, "en",
         "http://g/1"),
        ("d2", "iri", RDF_TYPE, f"{S}Article", "iri", None, None,
         "http://g/2"),
        ("d2", "iri", f"{S}name", "beta", "literal", None, "de",
         "http://g/2"),
        ("d0", "iri", f"{S}name", "zero", "literal", None, None,
         None),                                   # default graph
    ], SCHEMA + ", graph string")


def _qrows(df):
    cols = list(TERM_COLS) + ["graph"]
    return sorted((tuple(r[c] for c in cols) for r in df.collect()),
                  key=lambda t: tuple(x or "" for x in t))


def test_insert_delete_data_graph_wrappers(spark):
    g = _quads_terms(spark)
    g2 = sparql_update(g, PFX + """
        INSERT DATA {
            <d9> a schema:Dataset .
            GRAPH <http://g/1> { <d9> schema:name "neu"@de }
        }""")
    rows = _qrows(g2)
    assert g2.count() == 7
    assert ("d9", "iri", RDF_TYPE, f"{S}Dataset", "iri", None, None,
            None) in rows                         # bare triple → default
    assert ("d9", "iri", f"{S}name", "neu", "literal", None, "de",
            "http://g/1") in rows
    g3 = sparql_update(g2, PFX + """
        DELETE DATA {
            <d9> a schema:Dataset .
            GRAPH <http://g/1> { <d9> schema:name "neu"@de }
        }""")
    assert _qrows(g3) == _qrows(g)


def test_delete_data_graph_is_graph_scoped(spark):
    # same lexical triple exists in g/1 only; deleting it FROM g/2
    # must remove nothing (graph identity is part of the delete key)
    g = _quads_terms(spark)
    out = sparql_update(g, PFX + """
        DELETE DATA { GRAPH <http://g/2> { <d1> schema:name "alpha" } }
    """)
    assert out.count() == g.count()
    out2 = sparql_update(g, PFX + """
        DELETE DATA { GRAPH <http://g/1> { <d1> schema:name "alpha" } }
    """)
    assert out2.count() == g.count() - 1


def test_modify_quad_templates_graph_variable(spark):
    # migrate name → headline INSIDE each named graph; the default-graph
    # name row has no GRAPH binding and must survive untouched
    g = _quads_terms(spark)
    out = sparql_update(g, PFX + """
        DELETE { GRAPH ?g { ?x schema:name ?n } }
        INSERT { GRAPH ?g { ?x schema:headline ?n }
                 GRAPH <http://g/audit> { ?g schema:touched true } }
        WHERE  { GRAPH ?g { ?x a schema:Article ; schema:name ?n } }
    """)
    rows = _qrows(out)
    assert ("d1", "iri", f"{S}headline", "alpha", "literal", None, "en",
            "http://g/1") in rows                 # lang preserved
    assert ("d2", "iri", f"{S}headline", "beta", "literal", None, "de",
            "http://g/2") in rows
    assert ("d0", "iri", f"{S}name", "zero", "literal", None, None,
            None) in rows                         # default graph kept
    assert ("http://g/1", "iri", f"{S}touched", "true", "literal",
            f"{XSD}boolean", None, "http://g/audit") in rows
    assert not any(r[2] == f"{S}name" and r[7] is not None
                   for r in rows)


def test_modify_bare_template_targets_default_graph(spark):
    # a 3-tuple INSERT template over a quads table writes to the
    # DEFAULT graph (NULL), per the no-WITH reading
    g = _quads_terms(spark)
    out = sparql_update(g, PFX + """
        INSERT { ?x schema:seen "y" }
        WHERE  { GRAPH ?g { ?x a schema:Article } }
    """)
    rows = _qrows(out)
    assert ("d1", "iri", f"{S}seen", "y", "literal", None, None,
            None) in rows
    assert ("d2", "iri", f"{S}seen", "y", "literal", None, None,
            None) in rows


def test_delete_where_shorthand_with_graph(spark):
    g = _quads_terms(spark)
    out = sparql_update(g, PFX + """
        DELETE WHERE { GRAPH <http://g/1> { ?x schema:name ?n } }
    """)
    rows = _qrows(out)
    assert out.count() == g.count() - 1
    assert not any(r[2] == f"{S}name" and r[7] == "http://g/1"
                   for r in rows)


def test_quad_template_requires_quads_table(spark):
    with pytest.raises(ValueError, match="QUADS table"):
        sparql_update(_g(spark), PFX + """
            INSERT { GRAPH <http://g/1> { ?x schema:seen "y" } }
            WHERE  { ?x a schema:Article }
        """).count()


def test_quad_parse_errors():
    with pytest.raises(SparqlSyntaxError, match="ground"):
        parse_update(PFX + "INSERT DATA { GRAPH ?g { <a> <b> <c> } }")
    with pytest.raises(SparqlSyntaxError, match="no triple"):
        parse_update(PFX + """
            DELETE { GRAPH ?g { } } WHERE { ?s ?p ?o }""")
    with pytest.raises(SparqlSyntaxError, match="variable or IRI"):
        parse_update(PFX + """
            DELETE { GRAPH "lit" { <a> <b> <c> } } WHERE { ?s ?p ?o }""")


# ------------------------------------------------------------------
# update WHERE = query WHERE: one group evaluator for both
# ------------------------------------------------------------------

def _update_as_select(graph, templates, group):
    """Run ``templates WHERE group`` with sparql_update and check it
    against applying the same templates to ``SELECT * WHERE group``:
    lexical-identity DELETE, then INSERT, as sets.  Inserted rows are
    compared by lexical identity too: sparql_update gives a template
    variable its source term's kind, datatype and language, which
    ``SELECT *`` does not carry (tests check those against the source
    triples).  Returns the new graph's rows."""
    from pyspark.sql import functions as F
    text = PFX + templates + " WHERE " + group
    u = parse_update(text)
    sols = sparql_query(graph, PFX + "SELECT * WHERE " + group)
    cols = list(TERM_COLS) + (["graph"] if "graph" in graph.columns
                              else [])

    def instantiate(template):
        out = bgp_construct(sols, template)
        if "graph" in cols and "graph" not in out.columns:
            out = out.withColumn("graph", F.lit(None).cast("string"))
        return {tuple(r) for r in out.select(*cols).collect()}

    def key(r):
        return (r[0], r[2], r[3]) + tuple(r[7:])

    kept = {tuple(r) for r in graph.select(*cols).collect()}
    if u.delete:
        doomed = {key(r) for r in instantiate(u.delete)}
        kept = {r for r in kept if key(r) not in doomed}
    added = ({key(r) for r in instantiate(u.insert)} if u.insert
             else set())
    got = {tuple(r) for r in
           sparql_update(graph, text).select(*cols).collect()}
    assert kept <= got
    assert {key(r) for r in got} == {key(r) for r in kept} | added
    return got


def test_update_where_union(spark):
    got = _update_as_select(
        _g(spark),
        "DELETE { ?x schema:name ?n } INSERT { ?x schema:kind ?t }",
        """{ { ?x a schema:Person ; schema:name ?n ; a ?t }
             UNION { ?x schema:wordCount ?w ; schema:name ?n ; a ?t } }""")
    assert ("d3", "iri", f"{S}kind", f"{S}Person", "iri", None,
            None) in got
    assert not any(r[2] == f"{S}name" and r[0] in ("d1", "d3")
                   for r in got)


def test_update_where_subselect(spark):
    got = _update_as_select(
        _g(spark),
        "DELETE { ?x schema:name ?n } INSERT { ?x schema:long <urn:y> }",
        """{ ?x a schema:Article .
             { SELECT ?x ?n WHERE { ?x schema:name ?n
                                    FILTER(STRLEN(?n) > 4) } } }""")
    assert ("d1", "iri", f"{S}long", "urn:y", "iri", None, None) in got
    assert ("d2", "iri", f"{S}name", "beta", "literal", None,
            "de") in got


@pytest.mark.parametrize("sub", [
    "SELECT ?x ?n WHERE { ?x schema:name ?n }",
    "SELECT * WHERE { ?x schema:name ?n }",
    "SELECT DISTINCT ?x ?n WHERE { ?x schema:name ?n }",
    "SELECT ?x ?n (COUNT(*) AS ?c) WHERE { ?x schema:name ?n } "
    "GROUP BY ?x ?n",
])
def test_update_where_subselect_literal_keeps_its_term(spark, sub):
    """A literal that only a sub-SELECT binds is inserted as the source
    literal, language tag included, not as a shape-guessed IRI."""
    got = _update_as_select(_g(spark), "INSERT { ?x schema:alt ?n }",
                            "{ ?x a schema:Article { " + sub + " } }")
    alt = {(r[0], r[3]): r[4:] for r in got if r[2] == f"{S}alt"}
    assert alt == {("d1", "alpha"): ("literal", None, "en"),
                   ("d2", "beta"): ("literal", None, "de")}


def test_update_where_bind_after_optional(spark):
    got = _update_as_select(
        _g(spark),
        "DELETE { ?x schema:wordCount ?w } INSERT { ?x schema:size ?l }",
        """{ ?x a schema:Article OPTIONAL { ?x schema:wordCount ?w }
             BIND(COALESCE(?w, "none") AS ?l) }""")
    assert {r[3] for r in got if r[2] == f"{S}size"} == {"120", "none"}
    assert not any(r[2] == f"{S}wordCount" for r in got)


def test_update_where_graph_variable_scoping_nothing(spark):
    got = _update_as_select(
        _quads_terms(spark), "INSERT { ?x schema:alsoIn ?g }",
        "{ GRAPH ?g { GRAPH <http://g/1> { ?x a schema:Article } } }")
    assert {r[3] for r in got if r[2] == f"{S}alsoIn"} == {
        "http://g/1", "http://g/2"}
