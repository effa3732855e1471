"""RDF-term surface of the SPARQL front-end: typed/tagged literal
CONSTANTS in patterns (bgp.Lit — exact term equality), term
constructors as BIND expressions (IRI/STRDT/STRLANG with companion
metadata), BIND/VALUES inside OPTIONAL/MINUS/EXISTS groups (previously
silently dropped), and metadata-faithful CONSTRUCT."""

from __future__ import annotations

import pytest

from rdfa_streaming_parser_js_spark.operators.bgp import Lit, bgp_match
from rdfa_streaming_parser_js_spark.operators.sparql import (
    SparqlSyntaxError, parse_sparql, sparql_query)

S = "http://schema.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"
PFX = (f"PREFIX schema: <{S}>\n"
       f"PREFIX xsd: <{XSD}>\n")

TERM_SCHEMA = ("subj string, subj_kind string, pred string, "
               "obj_value string, obj_kind string, "
               "obj_datatype string, obj_lang string")


def _typed_kg(spark):
    return spark.createDataFrame([
        # "chat" as fr-tagged, plain, and en-tagged literals + an IRI
        # with the same lexical form — Lit must tell them all apart
        ("d1", "iri", f"{S}name", "chat", "literal", None, "fr"),
        ("d2", "iri", f"{S}name", "chat", "literal", None, None),
        ("d3", "iri", f"{S}name", "chat", "literal", None, "en"),
        ("d4", "iri", f"{S}name", "chat", "iri", None, None),
        # "5" typed integer vs untyped vs explicit xsd:string
        ("d1", "iri", f"{S}wordCount", "5", "literal",
         f"{XSD}integer", None),
        ("d2", "iri", f"{S}wordCount", "5", "literal", None, None),
        ("d3", "iri", f"{S}wordCount", "5", "literal",
         f"{XSD}string", None),
        ("d2", "iri", f"{S}isPartOf", "srcA", "iri", None, None),
    ], TERM_SCHEMA)


# --------------------------------------------------------------------
# Lit constants in patterns
# --------------------------------------------------------------------

def test_lit_tagged_constant_from_text(spark):
    out = sparql_query(_typed_kg(spark), PFX + """
        SELECT ?s WHERE { ?s schema:name "chat"@fr }""")
    assert [r.s for r in out.collect()] == ["d1"]


def test_lit_tag_is_case_insensitive(spark):
    out = sparql_query(_typed_kg(spark), PFX + """
        SELECT ?s WHERE { ?s schema:name "chat"@FR }""")
    assert [r.s for r in out.collect()] == ["d1"]


def test_lit_typed_constant_from_text(spark):
    out = sparql_query(_typed_kg(spark), PFX + """
        SELECT ?s WHERE { ?s schema:wordCount "5"^^xsd:integer }""")
    assert [r.s for r in out.collect()] == ["d1"]


def test_lit_xsd_string_equals_simple_literal(spark):
    # "5"^^xsd:string ≡ "5" (RDF 1.1): matches both the NULL-datatype
    # simple literal and the explicit xsd:string one, never the integer
    out = sparql_query(_typed_kg(spark), PFX + """
        SELECT ?s WHERE { ?s schema:wordCount "5"^^xsd:string }""")
    assert sorted(r.s for r in out.collect()) == ["d2", "d3"]


def test_lit_direct_simple_literal_excludes_iri_and_tagged(spark):
    # Lit("chat") = the simple literal: not @fr, not @en, not the IRI
    out = bgp_match(_typed_kg(spark),
                    [("?s", f"{S}name", Lit("chat"))])
    assert [r.s for r in out.collect()] == ["d2"]


def test_bare_string_stays_lexical(spark):
    # documented engine identity: a bare string matches every term
    # with that lexical form (all four "chat" rows)
    out = sparql_query(_typed_kg(spark), PFX + """
        SELECT ?s WHERE { ?s schema:name "chat" }""")
    assert sorted(r.s for r in out.collect()) == ["d1", "d2", "d3",
                                                  "d4"]


def test_lit_needs_term_schema(spark):
    bare = spark.createDataFrame(
        [("d1", f"{S}name", "chat")], "subj string, pred string, "
        "obj_value string")
    with pytest.raises(ValueError, match="full term schema"):
        bgp_match(bare, [("?s", f"{S}name", Lit("chat", lang="fr"))]) \
            .collect()


def test_lit_subject_raises(spark):
    with pytest.raises(ValueError, match="only legal as objects"):
        bgp_match(_typed_kg(spark),
                  [(Lit("chat", lang="fr"), f"{S}name", "?o")]) \
            .collect()


def test_lit_path_endpoint_raises(spark):
    from rdfa_streaming_parser_js_spark.operators.paths import (
        link, star)
    with pytest.raises(ValueError, match="path endpoints"):
        bgp_match(_typed_kg(spark),
                  [("?s", star(link(f"{S}isPartOf")),
                    Lit("x", lang="en"))]).collect()


def test_lit_in_values_parses_and_marks_meta():
    # round 5: tagged/typed literals in VALUES are term-exact entries
    # (bgp._join_values joins the metadata companions; full exec
    # coverage in test_sparql.py's VALUES section)
    q = parse_sparql(PFX + """SELECT ?s WHERE {
        ?s schema:name ?n . VALUES ?n { "chat"@fr } }""")
    assert q.where.values == [{"n": Lit("chat", lang="fr")}]
    assert "n" in q.meta_vars


# --------------------------------------------------------------------
# term constructors in BIND
# --------------------------------------------------------------------

def test_strlang_constructor_and_lang(spark):
    out = sparql_query(_typed_kg(spark), PFX + """
        SELECT ?s ?l WHERE {
            ?s schema:isPartOf ?src .
            BIND(STRLANG("hello", "EN") AS ?v)
            BIND(LANG(?v) AS ?l)
        }""")
    assert [(r.s, r.l) for r in out.collect()] == [("d2", "en")]


def test_strdt_constructor_and_datatype(spark):
    out = sparql_query(_typed_kg(spark), PFX + """
        SELECT ?s ?d WHERE {
            ?s schema:isPartOf ?src .
            BIND(STRDT(?src, xsd:anyURI) AS ?v)
            BIND(DATATYPE(?v) AS ?d)
            FILTER(isLiteral(?v))
        }""")
    assert ([(r.s, r.d) for r in out.collect()]
            == [("d2", f"{XSD}anyURI")])


def test_iri_constructor_resolves_against_base(spark):
    out = sparql_query(_typed_kg(spark), """
        BASE <http://base/>
        PREFIX schema: <http://schema.org/>
        SELECT ?v ?w WHERE {
            ?s schema:isPartOf ?src .
            BIND(IRI(?src) AS ?v)
            BIND(IRI("http://abs/x") AS ?w)
            FILTER(isIRI(?v) && isIRI(?w))
        }""")
    rows = out.collect()
    assert [(r.v, r.w) for r in rows] == [
        ("http://base/srcA", "http://abs/x")]


def test_constructor_companions_dropped_by_select_star(spark):
    out = sparql_query(_typed_kg(spark), PFX + """
        SELECT * WHERE {
            ?s schema:isPartOf ?src . BIND(IRI(?src) AS ?v) }""")
    assert sorted(out.columns) == ["s", "src", "v"]


def test_introspection_over_subselect_variable(spark):
    """A variable a sub-SELECT projects from a plain pattern carries
    its term metadata out to the enclosing group's FILTER (it used to
    fail analysis on the missing companion column)."""
    out = sparql_query(_typed_kg(spark), PFX + """
        SELECT ?s WHERE {
            ?s schema:wordCount ?w .
            { SELECT ?s ?n WHERE { ?s schema:name ?n } }
            FILTER(LANG(?n) = "fr" || isIRI(?n)) }""")
    assert sorted(r.s for r in out.collect()) == ["d1"]
    assert out.columns == ["s"]


def test_constructed_term_in_construct_template(spark):
    # metadata-faithful CONSTRUCT: the constructed langString keeps
    # its tag in the emitted triple
    out = sparql_query(_typed_kg(spark), PFX + """
        CONSTRUCT { ?s schema:label ?v } WHERE {
            ?s schema:isPartOf ?src .
            BIND(STRLANG("hi", "de") AS ?v)
        }""")
    [row] = out.collect()
    assert (row.subj, row.obj_value, row.obj_kind, row.obj_lang) == \
        ("d2", "hi", "literal", "de")


def test_construct_copies_a_literal_as_that_literal(spark):
    # a template variable bound by a plain pattern carries its source
    # term: the tagged literal stays tagged, the IRI stays an IRI
    kg = spark.createDataFrame([
        ("x1", "iri", f"{S}name", "alpha", "literal", None, "en"),
        ("x2", "iri", f"{S}name", "beta", "iri", None, None),
        ("x3", "iri", f"{S}name", "7", "literal", f"{XSD}integer", None),
    ], TERM_SCHEMA)
    out = sparql_query(kg, PFX + """
        CONSTRUCT { ?x schema:alt ?n } WHERE { ?x schema:name ?n }""")
    rows = {r.subj: (r.pred, r.obj_value, r.obj_kind, r.obj_datatype,
                     r.obj_lang) for r in out.collect()}
    assert rows == {
        "x1": (f"{S}alt", "alpha", "literal", None, "en"),
        "x2": (f"{S}alt", "beta", "iri", None, None),
        "x3": (f"{S}alt", "7", "literal", f"{XSD}integer", None)}


def test_nested_constructor_raises():
    with pytest.raises(SparqlSyntaxError, match="entire BIND"):
        parse_sparql(PFX + """SELECT ?s WHERE {
            ?s ?p ?o . BIND(CONCAT(IRI(?o)) AS ?v) }""")


def test_bnode_zero_arg_fresh_per_solution(spark):
    """§17.4.2.9: zero-arg BNODE() mints a FRESH blank node per
    solution row — distinct across rows (duplicate rows included),
    isBlank-visible, and deterministic as a multiset across runs."""
    t = spark.createDataFrame([
        ("d1", f"{S}name", "alpha"),
        ("d2", f"{S}name", "beta"),
        ("d2", f"{S}name", "beta"),      # duplicate row
    ], ["subj", "pred", "obj_value"])
    q = PFX + """SELECT ?s ?v WHERE {
            ?s schema:name ?n . BIND(BNODE() AS ?v)
            FILTER(isBlank(?v)) }"""
    rows = sparql_query(t, q).collect()
    labels = [r.v for r in rows]
    assert len(rows) == 3                       # multiplicity kept
    assert len(set(labels)) == 3                # fresh per solution
    assert all(lb.startswith("_:fr") for lb in labels)
    # deterministic multiset under re-evaluation
    again = sorted((r.s, r.v) for r in sparql_query(t, q).collect())
    assert again == sorted((r.s, r.v) for r in rows)


def test_bnode_constructor_deterministic_skolem(spark):
    out = sparql_query(_typed_kg(spark), PFX + """
        SELECT ?s ?b WHERE {
            ?s schema:name ?n .
            BIND(BNODE(?s) AS ?b)
            FILTER(isBlank(?b))
        }""")
    rows = {r.s: r.b for r in out.collect()}
    # distinct arguments → distinct labels, all in the minted space
    assert set(rows) == {"d1", "d2", "d3", "d4"}
    assert all(b.startswith("_:fn") for b in rows.values())
    assert len(set(rows.values())) == 4
    # deterministic: a re-evaluation mints identical labels
    again = {r.s: r.b for r in sparql_query(_typed_kg(spark), PFX + """
        SELECT ?s ?b WHERE {
            ?s schema:name ?n . BIND(BNODE(?s) AS ?b) }""").collect()}
    assert again == rows


def test_bnode_constructor_same_arg_coincides(spark):
    # the documented deviation: same argument → SAME bnode across
    # solutions (skolem-style), not §17.4.2.9 per-solution freshness
    out = sparql_query(_typed_kg(spark), PFX + """
        SELECT ?s ?b WHERE {
            ?s schema:name ?n . BIND(BNODE("k") AS ?b) }""")
    assert len({r.b for r in out.collect()}) == 1


def test_bnode_constructed_subject_in_construct(spark):
    # metadata-faithful CONSTRUCT: the constructed bnode keeps kind
    # 'bnode' in subject position of the emitted triple
    out = sparql_query(_typed_kg(spark), PFX + """
        CONSTRUCT { ?b schema:label ?src } WHERE {
            ?s schema:isPartOf ?src . BIND(BNODE(?src) AS ?b) }""")
    [row] = out.collect()
    assert row.subj_kind == "bnode"
    assert row.subj.startswith("_:fn")
    assert row.obj_value == "srcA"


def test_strdt_nonconstant_datatype_raises():
    with pytest.raises(SparqlSyntaxError, match="constant datatype"):
        parse_sparql(PFX + """SELECT ?s WHERE {
            ?s ?p ?o . BIND(STRDT(?o, ?o) AS ?v) }""")


# --------------------------------------------------------------------
# BIND / VALUES inside OPTIONAL / MINUS / EXISTS
# --------------------------------------------------------------------

def test_optional_bind_extends_group(spark):
    out = sparql_query(_typed_kg(spark), PFX + """
        SELECT ?s ?y WHERE {
            ?s schema:name ?n . FILTER(isLiteral(?n))
            OPTIONAL { ?s schema:isPartOf ?x .
                       BIND(CONCAT(?x, "!") AS ?y) }
        } ORDER BY ?s""")
    assert [(r.s, r.y) for r in out.collect()] == [
        ("d1", None), ("d2", "srcA!"), ("d3", None)]


def test_optional_filter_sees_group_bind(spark):
    # the group's FILTER applies after its BIND — referencing the
    # bound column must work and constrain only the optional side
    out = sparql_query(_typed_kg(spark), PFX + """
        SELECT ?s ?y WHERE {
            ?s schema:name ?n . FILTER(isLiteral(?n))
            OPTIONAL { ?s schema:isPartOf ?x .
                       BIND(STRLEN(?x) AS ?y) FILTER(?y > 10) }
        } ORDER BY ?s""")
    assert [(r.s, r.y) for r in out.collect()] == [
        ("d1", None), ("d2", None), ("d3", None)]


def test_minus_with_group_bind(spark):
    # MINUS group binds ?n via concat — removes the solution whose
    # name equals the recomputed value (shared var ?n)
    out = sparql_query(_typed_kg(spark), PFX + """
        SELECT ?s WHERE {
            ?s schema:name ?n . FILTER(isLiteral(?n))
            MINUS { ?m schema:isPartOf ?src .
                    BIND(CONCAT("ch", "at") AS ?n) }
        } ORDER BY ?s""")
    # all three literal names are "chat" == the bound value → removed
    assert [r.s for r in out.collect()] == []


def test_exists_with_group_bind(spark):
    out = sparql_query(_typed_kg(spark), PFX + """
        SELECT ?s WHERE {
            ?s schema:name ?n . FILTER(isLiteral(?n))
            FILTER EXISTS { ?s schema:isPartOf ?x .
                            BIND(UCASE(?x) AS ?u) FILTER(?u = "SRCA") }
        }""")
    assert [r.s for r in out.collect()] == ["d2"]


def test_optional_values_joins_inside_group(spark):
    out = sparql_query(_typed_kg(spark), PFX + """
        SELECT ?s ?lbl WHERE {
            ?s schema:name ?n . FILTER(isLiteral(?n))
            OPTIONAL { ?s schema:wordCount ?w .
                       VALUES (?w ?lbl) { ("5" "five") } }
        } ORDER BY ?s""")
    assert [(r.s, r.lbl) for r in out.collect()] == [
        ("d1", "five"), ("d2", "five"), ("d3", "five")]


# --------------------------------------------------------------------
# templates
# --------------------------------------------------------------------

def test_template_tagged_literal_constant(spark):
    out = sparql_query(_typed_kg(spark), PFX + """
        CONSTRUCT { ?s schema:greeting "hallo"@de .
                    ?s schema:rank "1"^^xsd:integer }
        WHERE { ?s schema:isPartOf ?src }""")
    rows = {(r.pred, r.obj_value): (r.obj_kind, r.obj_datatype,
                                    r.obj_lang) for r in out.collect()}
    assert rows[(f"{S}greeting", "hallo")] == ("literal", None, "de")
    assert rows[(f"{S}rank", "1")] == ("literal", f"{XSD}integer",
                                       None)


def _terms(out):
    return {(r.subj, r.pred, r.obj_value, r.obj_kind, r.obj_datatype,
             r.obj_lang) for r in out.collect()}


def test_template_constant_is_the_term_written(spark):
    """One lexical text written as two different terms in one
    template instantiates two different terms."""
    got = _terms(sparql_query(_typed_kg(spark), PFX + """
        CONSTRUCT { ?s schema:a "x"@en . ?s schema:b "x"@fr .
                    ?s schema:c 5 . ?s schema:d "5" }
        WHERE { ?s schema:isPartOf ?o }"""))
    assert got == {
        ("d2", f"{S}a", "x", "literal", None, "en"),
        ("d2", f"{S}b", "x", "literal", None, "fr"),
        ("d2", f"{S}c", "5", "literal", f"{XSD}integer", None),
        ("d2", f"{S}d", "5", "literal", None, None)}


def test_construct_where_shorthand_literal_constant(spark):
    # the plain constant matches lexically (the IRI "chat" of d4 too)
    # and is instantiated as the simple literal it was written as
    got = _terms(sparql_query(_typed_kg(spark), PFX + """
        CONSTRUCT WHERE { ?s schema:name "chat" }"""))
    assert got == {(s, f"{S}name", "chat", "literal", None, None)
                   for s in ("d1", "d2", "d3", "d4")}


def test_template_computed_bind_is_a_typed_literal(spark):
    """A BIND whose whole expression is a string function is a simple
    literal; one whose whole expression is arithmetic is a literal
    typed by its SQL result type.  Every term column is a string."""
    out = sparql_query(_typed_kg(spark), PFX + """
        CONSTRUCT { ?s schema:c ?c . ?s schema:t ?t . ?s schema:d ?d .
                    ?s schema:i ?i . ?s schema:e ?e }
        WHERE { ?s schema:wordCount ?w . FILTER(?s = "d1")
                BIND(CONCAT(?w, "!") AS ?c) BIND(STR(?w) AS ?t)
                BIND(?w + 1 AS ?d) BIND(2 + 3 AS ?i) BIND(1.5 * 2 AS ?e) }
        """)
    assert {t for _, t in out.dtypes} == {"string"}
    assert _terms(out) == {
        ("d1", f"{S}c", "5!", "literal", None, None),
        ("d1", f"{S}t", "5", "literal", None, None),
        ("d1", f"{S}d", "6.0", "literal", f"{XSD}double", None),
        ("d1", f"{S}i", "5", "literal", f"{XSD}integer", None),
        ("d1", f"{S}e", "3.0", "literal", f"{XSD}decimal", None)}
