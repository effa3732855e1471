"""SPARQL text front-end (operators/sparql.py): parser unit tests plus
end-to-end execution over a small in-memory graph, cross-checked where
useful against hand-built bgp_match plans."""

from __future__ import annotations

import pytest

from rdfa_streaming_parser_js_spark.operators import paths as P
from rdfa_streaming_parser_js_spark.operators.bgp import (
    GroupSpec, bgp_match)
from rdfa_streaming_parser_js_spark.operators.sparql import (
    SparqlSyntaxError, parse_sparql, sparql_query)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
S = "http://schema.org/"

PFX = "PREFIX schema: <http://schema.org/>\n"

COLS = ["subj", "pred", "obj_value"]


def _kg(spark):
    return spark.createDataFrame([
        ("d1", RDF_TYPE, f"{S}Article"),
        ("d1", f"{S}name", "alpha"),
        ("d1", f"{S}isPartOf", "srcA"),
        ("d1", f"{S}wordCount", "120"),
        ("d2", RDF_TYPE, f"{S}Article"),
        ("d2", f"{S}name", "beta"),
        ("d2", f"{S}isPartOf", "srcA"),
        ("d2", f"{S}wordCount", "80"),
        ("d2", f"{S}inLanguage", "en"),
        ("d3", RDF_TYPE, f"{S}Person"),
        ("d3", f"{S}name", "carol"),
        ("srcA", f"{S}name", "Source A"),
        ("a1", f"{S}partOf", "a2"),
        ("a2", f"{S}partOf", "a3"),
    ], COLS)


# --------------------------------------------------------------------
# parser-level (no Spark)
# --------------------------------------------------------------------

def test_parse_prefixes_and_a_keyword():
    q = parse_sparql(
        PFX + "SELECT ?x WHERE { ?x a schema:Article . }")
    assert q.where.patterns == [("?x", RDF_TYPE, f"{S}Article")]
    assert [i.var for i in q.select] == ["x"]


def test_parse_semicolon_and_comma_lists():
    q = parse_sparql(PFX + """SELECT * WHERE {
        ?x a schema:Article ;
           schema:name ?n , ?m .
    }""")
    assert q.where.patterns == [
        ("?x", RDF_TYPE, f"{S}Article"),
        ("?x", f"{S}name", "?n"),
        ("?x", f"{S}name", "?m"),
    ]
    assert q.select is None


def test_parse_path_precedence_alt_over_seq():
    # a/b|c parses as (a/b)|c per SPARQL §9.1
    q = parse_sparql(
        PFX + "SELECT * WHERE { ?x schema:a/schema:b|schema:c ?y }")
    (_, path, _), = q.where.patterns
    assert path == P.alt(P.seq(P.link(f"{S}a"), P.link(f"{S}b")),
                         P.link(f"{S}c"))


def test_parse_inverse_binds_to_element_not_sequence():
    q = parse_sparql(
        PFX + "SELECT * WHERE { ?x ^schema:a/schema:b ?y }")
    (_, path, _), = q.where.patterns
    assert path == P.seq(P.inv(P.link(f"{S}a")), P.link(f"{S}b"))


def test_parse_path_modifiers_and_nps():
    q = parse_sparql(PFX + """SELECT * WHERE {
        ?x schema:p+/!(schema:q|^schema:r)?/(schema:s)* ?y }""")
    (_, path, _), = q.where.patterns
    assert path == P.seq(
        P.plus(P.link(f"{S}p")),
        P.opt(P.alt(P.nps(f"{S}q"), P.inv(P.nps(f"{S}r")))),
        P.star(P.link(f"{S}s")))


def test_parse_single_link_path_stays_plain_string():
    q = parse_sparql(PFX + "SELECT * WHERE { ?x schema:name ?n }")
    assert q.where.patterns == [("?x", f"{S}name", "?n")]


def test_parse_filter_translation():
    q = parse_sparql(PFX + """SELECT ?x WHERE {
        ?x schema:wordCount ?wc .
        FILTER(?wc > 100 && STRSTARTS(?x, "d") || !BOUND(?wc))
    }""")
    (f,) = q.where.filters
    # outermost parens = the FILTER's bracketted expression itself
    assert f == ("((((TRY_CAST(wc AS DOUBLE) > 100) AND startswith(x, 'd'))"
                 " OR (NOT (wc IS NOT NULL))))")


def test_parse_modifiers():
    q = parse_sparql(PFX + """SELECT DISTINCT ?x WHERE {
        ?x schema:name ?n } ORDER BY DESC(?n) ?x LIMIT 5 OFFSET 2""")
    assert q.distinct and q.limit == 5 and q.offset == 2
    assert q.order_by == [("n", False), ("x", True)]


def test_parse_aggregates():
    q = parse_sparql(PFX + """
        SELECT ?s (COUNT(*) AS ?n)
               (GROUP_CONCAT(?m; SEPARATOR=",") AS ?names)
        WHERE { ?d schema:isPartOf ?s ; schema:name ?m }
        GROUP BY ?s HAVING(?n > 1)""")
    n, names = q.select[1], q.select[2]
    assert n.is_agg and n.sql == "count(1)"
    assert names.sql == (
        "array_join(array_sort(collect_list(m)), ',')")
    # the bare-var-vs-number cast heuristic applies in HAVING too
    # (harmless on the already-numeric aggregate column)
    assert q.group_by == ["s"]
    assert q.having == [("((TRY_CAST(n AS DOUBLE) > 1))", False)]


def test_parse_rejects_term_constructors():
    with pytest.raises(SparqlSyntaxError, match="constructor"):
        parse_sparql(PFX + """SELECT ?x WHERE {
            ?x schema:name ?n . FILTER(BNODE(?n) = ?n) }""")


def test_parse_tagged_literal_pattern_is_lit():
    # tagged/typed constants compile to bgp.Lit (exact term equality;
    # full coverage in test_sparql_terms.py)
    from rdfa_streaming_parser_js_spark.operators.bgp import Lit
    q = parse_sparql(
        PFX + 'SELECT ?x WHERE { ?x schema:name "alpha"@en }')
    assert q.where.patterns == [
        ("?x", f"{S}name", Lit("alpha", lang="en"))]


def test_parse_rejects_mixed_union_group():
    with pytest.raises(SparqlSyntaxError, match="entire group"):
        parse_sparql(PFX + """SELECT * WHERE {
            { ?x schema:name ?n } UNION { ?x schema:alt ?n }
            ?x a schema:Article .
        }""")


def test_parse_rejects_undeclared_prefix():
    with pytest.raises(SparqlSyntaxError, match="undeclared"):
        parse_sparql("SELECT ?x WHERE { ?x foo:bar ?y }")


# --------------------------------------------------------------------
# execution
# --------------------------------------------------------------------

def test_exec_select_filter_order_limit(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?x ?n WHERE {
            ?x a schema:Article ; schema:name ?n ;
               schema:wordCount ?wc .
            FILTER(?wc >= 100)
        } ORDER BY ?x LIMIT 10""")
    assert [(r.x, r.n) for r in got.collect()] == [("d1", "alpha")]


def test_exec_matches_handbuilt_bgp(spark):
    kg = _kg(spark)
    text = PFX + """SELECT ?x ?n WHERE {
        ?x a schema:Article ; schema:name ?n }"""
    want = bgp_match(kg, [
        ("?x", RDF_TYPE, f"{S}Article"),
        ("?x", f"{S}name", "?n"),
    ], select=["x", "n"])
    got = sparql_query(kg, text)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect()))


def test_exec_optional_and_bound(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?x ?l WHERE {
            ?x a schema:Article .
            OPTIONAL { ?x schema:inLanguage ?l }
        }""")
    assert {(r.x, r.l) for r in got.collect()} == {
        ("d1", None), ("d2", "en")}


def test_exec_union(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?x WHERE {
            { ?x a schema:Article } UNION { ?x a schema:Person }
        }""")
    assert sorted(r.x for r in got.collect()) == ["d1", "d2", "d3"]


def test_exec_minus_and_values(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?x ?n WHERE {
            ?x schema:name ?n .
            VALUES ?x { "d1" "d2" "d3" }
            MINUS { ?x schema:inLanguage "en" }
        }""")
    assert {(r.x, r.n) for r in got.collect()} == {
        ("d1", "alpha"), ("d3", "carol")}


def test_exec_not_exists_global_probe(spark):
    # the probe matches, so NOT EXISTS empties the solution set
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?x WHERE {
            ?x a schema:Person .
            FILTER NOT EXISTS { "d1" schema:name "alpha" }
        }""")
    assert got.count() == 0


def test_exec_bind(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?x ?u WHERE {
            ?x a schema:Person ; schema:name ?n .
            BIND(UCASE(?n) AS ?u)
        }""")
    assert [(r.x, r.u) for r in got.collect()] == [("d3", "CAROL")]


def test_exec_path_closure_and_opt(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?y WHERE { "a1" schema:partOf+ ?y }""")
    assert sorted(r.y for r in got.collect()) == ["a2", "a3"]
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?y WHERE { "a1" schema:partOf?/schema:partOf ?y }""")
    assert sorted(r.y for r in got.collect()) == ["a2", "a3"]


def test_exec_inverse_path(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?d WHERE { "srcA" ^schema:isPartOf ?d }""")
    assert sorted(r.d for r in got.collect()) == ["d1", "d2"]


def test_exec_aggregate_group_concat(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?s (COUNT(*) AS ?n)
               (GROUP_CONCAT(?m; SEPARATOR="|") AS ?names)
        WHERE { ?d schema:isPartOf ?s ; schema:name ?m }
        GROUP BY ?s ORDER BY ?s""")
    assert [tuple(r) for r in got.collect()] == [
        ("srcA", 2, "alpha|beta")]


def test_exec_global_aggregate(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT (COUNT(DISTINCT ?x) AS ?n)
        WHERE { ?x schema:name ?m }""")
    assert got.collect()[0].n == 4


def test_exec_ask_both_ways(spark):
    kg = _kg(spark)
    yes = sparql_query(kg, PFX + "ASK { ?x a schema:Person }")
    no = sparql_query(
        kg, PFX + "ASK { ?x a schema:VideoObject }")
    assert yes.collect()[0].ask is True
    assert no.collect()[0].ask is False


def test_exec_construct(spark):
    got = sparql_query(_kg(spark), PFX + """
        CONSTRUCT { ?s schema:label ?n }
        WHERE { ?s a schema:Article ; schema:name ?n }""")
    rows = {(r.subj, r.pred, r.obj_value) for r in got.collect()}
    assert rows == {("d1", f"{S}label", "alpha"),
                    ("d2", f"{S}label", "beta")}


def test_exec_distinct_with_order(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT DISTINCT ?s WHERE { ?d schema:isPartOf ?s }
        ORDER BY ?s""")
    assert [r.s for r in got.collect()] == ["srcA"]
    got = sparql_query(_kg(spark), PFX + """
        SELECT DISTINCT ?s WHERE { ?d schema:partOf|schema:isPartOf ?s }
        ORDER BY DESC(?s)""")
    assert [r.s for r in got.collect()] == ["srcA", "a3", "a2"]


def test_exec_subselect_joined_on_shared_var(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?src ?name ?n WHERE {
            ?src schema:name ?name .
            { SELECT ?src (COUNT(?d) AS ?n)
              WHERE { ?d schema:isPartOf ?src } GROUP BY ?src }
            FILTER(?n >= 2)
        } ORDER BY ?src""")
    assert [tuple(r) for r in got.collect()] == [("srcA", "Source A", 2)]


def test_exec_subselect_as_only_relation(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?s ?n WHERE {
            { SELECT ?s (COUNT(*) AS ?n)
              WHERE { ?d schema:isPartOf ?s } GROUP BY ?s }
        }""")
    assert [tuple(r) for r in got.collect()] == [("srcA", 2)]


def test_exec_subselect_as_the_whole_group(spark):
    """'{' SubSelect '}' (grammar rule 53) gives the rows of the
    double-brace form; nothing may follow the sub-SELECT there."""
    inner = ("SELECT ?s (COUNT(?d) AS ?n) "
             "WHERE { ?d schema:isPartOf ?s } GROUP BY ?s")
    single, double = (sparql_query(_kg(spark), PFX + f"""
        SELECT ?s ?n WHERE {{ {body} }} ORDER BY ?s""").collect()
        for body in (inner, "{ " + inner + " }"))
    assert [tuple(r) for r in single] == [tuple(r) for r in double] \
        == [("srcA", 2)]
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(PFX + f"SELECT ?n WHERE {{ {inner} FILTER(?n > 1) }}")


def test_parse_rejects_subselect_with_optional():
    # pattern-less group: nothing for the OPTIONAL to left-join onto
    with pytest.raises(SparqlSyntaxError, match="sub-SELECT"):
        parse_sparql(PFX + """SELECT ?s WHERE {
            { SELECT ?s WHERE { ?d schema:isPartOf ?s } }
            OPTIONAL { ?s schema:name ?n }
        }""")


def test_exec_subselect_with_optional_commuting(spark):
    # OPTIONAL's variables ∩ sub-SELECT projection = {?src}, certain
    # in the group's own pattern → join orders commute, so both are
    # allowed in one group (§18.2 composition guard).
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?src ?name ?n ?lang WHERE {
            ?src schema:name ?name .
            { SELECT ?src (COUNT(?d) AS ?n)
              WHERE { ?d schema:isPartOf ?src } GROUP BY ?src }
            OPTIONAL { ?src schema:inLanguage ?lang }
        } ORDER BY ?src""")
    assert ([tuple(r) for r in got.collect()]
            == [("srcA", "Source A", 2, None)])


def test_exec_subselect_with_minus_commuting(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?src ?n WHERE {
            ?src schema:name ?name .
            { SELECT ?src (COUNT(?d) AS ?n)
              WHERE { ?d schema:isPartOf ?src } GROUP BY ?src }
            MINUS { ?src schema:name "Source A" }
        }""")
    assert got.collect() == []


def test_subselect_optional_shared_unbound_raises(spark):
    # ?n is minted by the OPTIONAL (maybe-unbound) AND projected by
    # the sub-SELECT: §18.2's left-to-right order is significant, so
    # the compiler must refuse rather than pick an order.
    with pytest.raises(SparqlSyntaxError, match="join order"):
        sparql_query(_kg(spark), PFX + """
            SELECT * WHERE {
                ?src schema:name ?name .
                OPTIONAL { ?src schema:inLanguage ?n }
                { SELECT ?src (COUNT(?d) AS ?n)
                  WHERE { ?d schema:isPartOf ?src } GROUP BY ?src }
            }""")


def test_exec_select_expr_projection(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?x (STRLEN(?n) AS ?len) WHERE {
            ?x a schema:Person ; schema:name ?n }""")
    assert [(r.x, r.len) for r in got.collect()] == [("d3", 5)]


def test_exec_describe_iri(spark):
    got = sparql_query(_kg(spark), "DESCRIBE <d3>")
    assert {(r.subj, r.pred, r.obj_value) for r in got.collect()} == {
        ("d3", RDF_TYPE, f"{S}Person"),
        ("d3", f"{S}name", "carol")}


def test_exec_describe_var_with_where(spark):
    got = sparql_query(_kg(spark), PFX + """
        DESCRIBE ?x WHERE { ?x a schema:Person }""")
    assert {(r.subj, r.obj_value) for r in got.collect()} == {
        ("d3", f"{S}Person"), ("d3", "carol")}


def test_parse_describe_var_without_where_rejected():
    with pytest.raises(SparqlSyntaxError, match="WHERE"):
        parse_sparql("DESCRIBE ?x")


# --------------------------------------------------------------------
# term-introspection builtins (LANG/DATATYPE/isIRI/... over meta_vars)
# --------------------------------------------------------------------

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_LS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
MCOLS = ["subj", "pred", "obj_value", "obj_kind", "obj_datatype",
         "obj_lang"]


def _kgm(spark):
    """Full-term-schema graph: language tags, typed literals, a bnode."""
    return spark.createDataFrame([
        ("d1", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d1", f"{S}name", "alpha", "literal", None, "en"),
        ("d1", f"{S}wordCount", "120", "literal", f"{XSD}integer", None),
        ("d2", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d2", f"{S}name", "beta", "literal", None, "en-GB"),
        ("d2", f"{S}author", "_:b1", "bnode", None, None),
        ("d3", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d3", f"{S}name", "gamma", "literal", None, None),
        ("_:b1", f"{S}name", "carol", "literal", None, "de"),
    ], MCOLS)


def test_exec_lang_exact_filter(spark):
    got = sparql_query(_kgm(spark), PFX + """
        SELECT ?x WHERE { ?x a schema:Article ; schema:name ?n .
                          FILTER(LANG(?n) = "en") }""")
    assert [r.x for r in got.collect()] == ["d1"]


def test_exec_langmatches_prefix(spark):
    got = sparql_query(_kgm(spark), PFX + """
        SELECT ?x WHERE { ?x a schema:Article ; schema:name ?n .
                          FILTER(LANGMATCHES(LANG(?n), "en")) }
        ORDER BY ?x""")
    assert [r.x for r in got.collect()] == ["d1", "d2"]


def test_exec_langmatches_star_excludes_plain(spark):
    got = sparql_query(_kgm(spark), PFX + """
        SELECT ?x WHERE { ?x a schema:Article ; schema:name ?n .
                          FILTER(LANGMATCHES(LANG(?n), "*")) }
        ORDER BY ?x""")
    assert [r.x for r in got.collect()] == ["d1", "d2"]


def test_exec_lang_coalesce_optional_vars(spark):
    """§17.4.1.5: LANG(COALESCE(?n, ?w)) dispatches on boundness to
    the first bound variable's own metadata — over OPTIONAL-bound
    variables (d1 has both → ?n wins with 'en'; d3's plain-literal
    name → '' fails the match; a doc with neither stays out via the
    type error)."""
    got = sparql_query(_kgm(spark), PFX + """
        SELECT ?x WHERE { ?x a schema:Article .
            OPTIONAL { ?x schema:name ?n . }
            OPTIONAL { ?x schema:wordCount ?w . }
            FILTER(LANGMATCHES(LANG(COALESCE(?n, ?w)), "en")) }
        ORDER BY ?x""")
    assert [r.x for r in got.collect()] == ["d1", "d2"]


def test_exec_datatype_coalesce_first_bound_wins(spark):
    """DATATYPE(COALESCE(?w, ?n)): d1 binds both — the FIRST bound
    argument (?w, xsd:integer) decides, per COALESCE order."""
    got = sparql_query(_kgm(spark), PFX + f"""
        SELECT ?x WHERE {{ ?x a schema:Article .
            OPTIONAL {{ ?x schema:name ?n . }}
            OPTIONAL {{ ?x schema:wordCount ?w . }}
            FILTER(DATATYPE(COALESCE(?w, ?n)) = <{XSD}integer>) }}""")
    assert [r.x for r in got.collect()] == ["d1"]


def test_exec_term_fn_nested_non_coalesce_raises(spark):
    import pytest
    from rdfa_streaming_parser_js_spark.operators.sparql import (
        SparqlSyntaxError)
    with pytest.raises(SparqlSyntaxError):
        sparql_query(_kgm(spark), PFX + """
            SELECT ?x WHERE { ?x schema:name ?n .
                FILTER(LANG(STR(?n)) = "en") }""")
    with pytest.raises(SparqlSyntaxError):
        sparql_query(_kgm(spark), PFX + """
            SELECT ?x WHERE { ?x schema:name ?n .
                FILTER(LANG(COALESCE(STR(?n))) = "en") }""")


def test_exec_trailing_values_clause(spark):
    """Query-final VALUES (the grammar's ValuesClause): constrains
    the whole query; distributes over UNION branches (multiset);
    UNDEF leaves the variable free in that row."""
    got = sparql_query(_kgm(spark), PFX + """
        SELECT ?x ?n WHERE { ?x a schema:Article ; schema:name ?n }
        ORDER BY ?x VALUES ?x { <d1> <d3> }""")
    assert [(r.x, r.n) for r in got.collect()] == [
        ("d1", "alpha"), ("d3", "gamma")]
    got = sparql_query(_kgm(spark), PFX + """
        SELECT ?x ?v WHERE {
            { ?x schema:name ?v } UNION { ?x schema:wordCount ?v } }
        VALUES (?x ?v) { (<d1> UNDEF) (<d2> "beta") }""")
    assert sorted((r.x, r.v) for r in got.collect()) == [
        ("d1", "120"), ("d1", "alpha"), ("d2", "beta")]


def test_exec_trailing_values_guards(spark):
    import pytest
    from rdfa_streaming_parser_js_spark.operators.sparql import (
        SparqlSyntaxError)
    with pytest.raises(SparqlSyntaxError):  # grouped query
        sparql_query(_kgm(spark), PFX + """
            SELECT ?x (COUNT(?n) AS ?c) WHERE { ?x schema:name ?n }
            GROUP BY ?x VALUES ?x { <d1> }""")
    with pytest.raises(SparqlSyntaxError):  # OPTIONAL-only variable
        sparql_query(_kgm(spark), PFX + """
            SELECT ?x WHERE { ?x a schema:Article .
                OPTIONAL { ?x schema:wordCount ?w } }
            VALUES ?w { "120" }""")


def test_exec_bind_after_optional_coalesce(spark):
    """§18.2.2.6 syntax order: a BIND after an OPTIONAL sees the
    optional's bindings (Extend after the LeftJoin) — the classic
    COALESCE-default idiom."""
    got = sparql_query(_kgm(spark), PFX + """
        SELECT ?x ?label WHERE { ?x a schema:Article .
            OPTIONAL { ?x schema:wordCount ?w . }
            BIND(COALESCE(?w, "0") AS ?label) }
        ORDER BY ?x""")
    assert [(r.x, r.label) for r in got.collect()] == [
        ("d1", "120"), ("d2", "0"), ("d3", "0")]


def test_exec_bind_after_optional_nested_group(spark):
    """The late-bind placement also applies INSIDE a nested group:
    OPTIONAL { P OPTIONAL { Q } BIND(...?q...) }."""
    got = sparql_query(_kgm(spark), PFX + """
        SELECT ?x ?has WHERE { ?x a schema:Article .
            OPTIONAL { ?x schema:name ?n .
                       OPTIONAL { ?x schema:wordCount ?w . }
                       BIND(BOUND(?w) AS ?has) } }
        ORDER BY ?x""")
    assert [(r.x, r.has) for r in got.collect()] == [
        ("d1", True), ("d2", False), ("d3", False)]


def test_exec_bind_chain_into_filter(spark):
    """A FILTER may reference the late-bound variable (filters apply
    after late binds), and a second BIND may reference the first."""
    got = sparql_query(_kgm(spark), PFX + """
        SELECT ?x WHERE { ?x a schema:Article .
            OPTIONAL { ?x schema:wordCount ?w . }
            BIND(BOUND(?w) AS ?has)
            BIND(IF(?has, "y", "n") AS ?flag)
            FILTER(?flag = "y") }""")
    assert [r.x for r in got.collect()] == ["d1"]


def test_exec_datatype_defaults_and_typed(spark):
    got = sparql_query(_kgm(spark), PFX + f"""
        SELECT ?x WHERE {{ ?x schema:wordCount ?w .
            FILTER(DATATYPE(?w) = "{XSD}integer") }}""")
    assert [r.x for r in got.collect()] == ["d1"]
    got = sparql_query(_kgm(spark), PFX + f"""
        SELECT ?x WHERE {{ ?x a schema:Article ; schema:name ?n .
            FILTER(DATATYPE(?n) = "{XSD}string") }}""")
    assert [r.x for r in got.collect()] == ["d3"]
    got = sparql_query(_kgm(spark), PFX + f"""
        SELECT ?x WHERE {{ ?x a schema:Article ; schema:name ?n .
            FILTER(DATATYPE(?n) = "{RDF_LS}") }} ORDER BY ?x""")
    assert [r.x for r in got.collect()] == ["d1", "d2"]


def test_exec_is_kind_probes(spark):
    got = sparql_query(_kgm(spark), PFX + """
        SELECT ?x WHERE { ?x schema:author ?a . FILTER(isBlank(?a)) }""")
    assert [r.x for r in got.collect()] == ["d2"]
    got = sparql_query(_kgm(spark), PFX + """
        SELECT ?x ?o WHERE { ?x a ?o . FILTER(isIRI(?o)) } ORDER BY ?x""")
    assert [r.x for r in got.collect()] == ["d1", "d2", "d3"]
    got = sparql_query(_kgm(spark), PFX + """
        SELECT ?x WHERE { ?x schema:wordCount ?w .
                          FILTER(isNumeric(?w)) }""")
    assert [r.x for r in got.collect()] == ["d1"]
    got = sparql_query(_kgm(spark), PFX + """
        SELECT ?x WHERE { ?x schema:author ?a .
                          FILTER(isLiteral(?a)) }""")
    assert got.count() == 0


def test_exec_bind_lang_and_select_star_no_leak(spark):
    got = sparql_query(_kgm(spark), PFX + """
        SELECT ?x ?l WHERE { ?x a schema:Article ; schema:name ?n .
            BIND(LANG(?n) AS ?l) } ORDER BY ?x""")
    assert [(r.x, r.l) for r in got.collect()] == [
        ("d1", "en"), ("d2", "en-GB"), ("d3", "")]
    star = sparql_query(_kgm(spark), PFX + """
        SELECT * WHERE { ?x a schema:Article ; schema:name ?n .
            FILTER(LANGMATCHES(LANG(?n), "en")) }""")
    assert sorted(star.columns) == ["n", "x"]


def test_exec_lang_of_subject_var_is_error_null(spark):
    # LANG of an IRI-kind term is a SPARQL type error -> filter false
    got = sparql_query(_kgm(spark), PFX + """
        SELECT ?x WHERE { ?x a schema:Article .
                          FILTER(LANG(?x) = "") }""")
    assert got.count() == 0


def test_parse_term_fn_requires_plain_var():
    with pytest.raises(SparqlSyntaxError, match="plain variable"):
        parse_sparql('SELECT ?x WHERE { ?x <p> ?o . '
                     'FILTER(LANG(STR(?o)) = "en") }')


def test_parse_term_constructor_rejected():
    with pytest.raises(SparqlSyntaxError, match="constructor"):
        parse_sparql('SELECT ?x WHERE { ?x <p> ?o . '
                     'FILTER(STRDT(?o, "x") = "y") }')


def test_exec_meta_on_path_endpoint_raises(spark):
    with pytest.raises(Exception, match="path"):
        sparql_query(_kgm(spark), PFX + """
            SELECT ?x WHERE { ?x schema:author+ ?a .
                              FILTER(isBlank(?a)) }""").collect()


def test_exec_meta_needs_full_schema(spark):
    with pytest.raises(Exception, match="obj_kind"):
        sparql_query(_kg(spark), PFX + """
            SELECT ?x WHERE { ?x schema:name ?n .
                              FILTER(isLiteral(?n)) }""").collect()


def test_exec_lang_filter_inside_optional(spark):
    got = sparql_query(_kgm(spark), PFX + """
        SELECT ?x ?n WHERE { ?x a schema:Article .
            OPTIONAL { ?x schema:name ?n .
                       FILTER(LANGMATCHES(LANG(?n), "en")) } }
        ORDER BY ?x""")
    assert [(r.x, r.n) for r in got.collect()] == [
        ("d1", "alpha"), ("d2", "beta"), ("d3", None)]


# --------------------------------------------------------------------
# named graphs (SPARQL §13) over a quads table
# --------------------------------------------------------------------

QCOLS = ["graph", "subj", "pred", "obj_value"]


def _quads(spark):
    return spark.createDataFrame([
        ("g1", "d1", RDF_TYPE, f"{S}Article"),
        ("g1", "d1", f"{S}name", "alpha"),
        ("g1", "d1", f"{S}isPartOf", "srcA"),
        ("g2", "d2", RDF_TYPE, f"{S}Article"),
        ("g2", "d2", f"{S}name", "beta"),
        ("g2", "d2", f"{S}isPartOf", "srcA"),
        ("g2", "d9", f"{S}isPartOf", "srcB"),
        ("g3", "d3", RDF_TYPE, f"{S}Person"),
        ("g3", "d3", f"{S}name", "carol"),
        # a within-g3-only chain for graph-scoped path tests
        ("g3", "a1", f"{S}partOf", "a2"),
        ("g3", "a2", f"{S}partOf", "a3"),
        ("g1", "a3", f"{S}partOf", "a4"),
    ], QCOLS)


def test_parse_graph_var_stamps_patterns():
    q = parse_sparql(PFX + """SELECT * WHERE {
        GRAPH ?g { ?x a schema:Article ; schema:name ?n . } }""")
    assert q.where.patterns == [
        ("?x", RDF_TYPE, f"{S}Article", "?g"),
        ("?x", f"{S}name", "?n", "?g"),
    ]


def test_parse_graph_constant_iri():
    q = parse_sparql(PFX + """SELECT * WHERE {
        GRAPH <http://g.example/one> { ?s ?p ?o } }""")
    assert q.where.patterns == [
        ("?s", "?p", "?o", "http://g.example/one")]


def test_parse_graph_rejects_rich_body():
    with pytest.raises(SparqlSyntaxError, match="GRAPH blocks"):
        parse_sparql(PFX + """SELECT * WHERE {
            GRAPH ?g { ?x a schema:Article .
                       BIND(UCASE(?x) AS ?ux) } }""")


def test_exec_graph_var_binds_and_joins_within_graph(spark):
    # ?g scopes BOTH patterns to the same graph: d9's isPartOf in g2
    # has no Article typing in g2 for d9, so only d1/d2 qualify
    got = sparql_query(_quads(spark), PFX + """
        SELECT ?g ?x ?src WHERE {
            GRAPH ?g { ?x a schema:Article ; schema:isPartOf ?src . } }
        ORDER BY ?g""")
    assert [(r.g, r.x, r.src) for r in got.collect()] == [
        ("g1", "d1", "srcA"), ("g2", "d2", "srcA")]


def test_exec_graph_constant_slice(spark):
    got = sparql_query(_quads(spark), PFX + """
        SELECT ?p ?o WHERE { GRAPH <g1> { <d1> ?p ?o } } ORDER BY ?p""")
    assert [(r.p, r.o) for r in got.collect()] == [
        (f"{S}isPartOf", "srcA"),
        (f"{S}name", "alpha"),
        (RDF_TYPE, f"{S}Article")]


def test_exec_default_graph_pattern_spans_graphs(spark):
    # outside GRAPH: union default graph — matches in g1 AND g2
    got = sparql_query(_quads(spark), PFX + """
        SELECT ?x WHERE { ?x schema:isPartOf <srcA> } ORDER BY ?x""")
    assert [r.x for r in got.collect()] == ["d1", "d2"]


def test_exec_graph_provenance_aggregate(spark):
    got = sparql_query(_quads(spark), PFX + """
        SELECT ?src (COUNT(DISTINCT ?g) AS ?n_graphs) WHERE {
            GRAPH ?g { ?x schema:isPartOf ?src } }
        GROUP BY ?src ORDER BY ?src""")
    assert [(r.src, r.n_graphs) for r in got.collect()] == [
        ("srcA", 2), ("srcB", 1)]


def test_exec_mixed_default_and_named_pattern(spark):
    # join a default-graph binding against a graph-scoped one
    got = sparql_query(_quads(spark), PFX + """
        SELECT ?g ?x ?n WHERE {
            ?x schema:name ?n .
            GRAPH ?g { ?x a schema:Article . }
        } ORDER BY ?x""")
    assert [(r.g, r.x, r.n) for r in got.collect()] == [
        ("g1", "d1", "alpha"), ("g2", "d2", "beta")]


def test_exec_graph_inside_optional(spark):
    got = sparql_query(_quads(spark), PFX + """
        SELECT ?x ?g WHERE {
            ?x a schema:Article .
            OPTIONAL { GRAPH ?g { ?x schema:name "alpha" } }
        } ORDER BY ?x""")
    assert [(r.x, r.g) for r in got.collect()] == [
        ("d1", "g1"), ("d2", None)]


def test_exec_graph_scoped_constant_path(spark):
    # closure confined to g3: a1 reaches a2/a3 but NOT a4 (g1 edge)
    got = sparql_query(_quads(spark), PFX + """
        SELECT ?y WHERE { GRAPH <g3> { <a1> schema:partOf+ ?y } }
        ORDER BY ?y""")
    assert [r.y for r in got.collect()] == ["a2", "a3"]
    # unscoped: the union default graph DOES chain into a4
    got2 = sparql_query(_quads(spark), PFX + """
        SELECT ?y WHERE { <a1> schema:partOf+ ?y } ORDER BY ?y""")
    assert [r.y for r in got2.collect()] == ["a2", "a3", "a4"]


def test_exec_graph_var_path_per_graph_closure(spark):
    # per-graph closure: within g3, a1 reaches a2 and a3; the a3→a4
    # edge lives in g1 — a DIFFERENT graph — and must not chain
    got = sparql_query(_quads(spark), PFX + """
        SELECT ?g ?y WHERE { GRAPH ?g { <a1> schema:partOf+ ?y } }
        ORDER BY ?y""")
    assert [(r.g, r.y) for r in got.collect()] == [
        ("g3", "a2"), ("g3", "a3")]


def test_exec_graph_var_path_unbound_endpoints(spark):
    got = sparql_query(_quads(spark), PFX + """
        SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x schema:partOf+ ?y } }
        ORDER BY ?g ?x ?y""")
    assert [(r.g, r.x, r.y) for r in got.collect()] == [
        ("g1", "a3", "a4"),
        ("g3", "a1", "a2"), ("g3", "a1", "a3"), ("g3", "a2", "a3")]


def test_exec_graph_var_path_object_bound(spark):
    # bound OBJECT endpoint: inverted evaluation, seeded per graph
    got = sparql_query(_quads(spark), PFX + """
        SELECT ?g ?x WHERE { GRAPH ?g { ?x schema:partOf+ <a3> } }
        ORDER BY ?x""")
    assert [(r.g, r.x) for r in got.collect()] == [
        ("g3", "a1"), ("g3", "a2")]


def test_exec_graph_var_star_zero_length_per_graph(spark):
    # SPARQL §18.4 ALP: the zero-length path from a bound term exists
    # in EVERY graph (the term need not occur there), so ?g ranges
    # over all named graphs for y = a1; the closure part stays in g3
    got = sparql_query(_quads(spark), PFX + """
        SELECT ?g ?y WHERE { GRAPH ?g { <a1> schema:partOf* ?y } }
        ORDER BY ?g ?y""")
    assert [(r.g, r.y) for r in got.collect()] == [
        ("g1", "a1"), ("g2", "a1"),
        ("g3", "a1"), ("g3", "a2"), ("g3", "a3")]


def test_exec_graph_over_triples_table_raises(spark):
    with pytest.raises(ValueError, match="no 'graph' column"):
        sparql_query(_kg(spark), PFX + """
            SELECT ?g ?x WHERE { GRAPH ?g { ?x a schema:Article } }
            """).collect()


def test_exec_graph_term_metadata_is_iri(spark):
    got = sparql_query(_quads(spark), PFX + """
        SELECT ?g WHERE { GRAPH ?g { ?x a schema:Person }
                          FILTER(isIRI(?g)) }""")
    assert [r.g for r in got.collect()] == ["g3"]


def test_exec_variable_predicate(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?p ?o WHERE { <d3> ?p ?o } ORDER BY ?p""")
    assert [(r.p, r.o) for r in got.collect()] == [
        (f"{S}name", "carol"), (RDF_TYPE, f"{S}Person")]


def test_parse_variable_predicate_rejects_modifier():
    with pytest.raises(SparqlSyntaxError):
        parse_sparql("SELECT * WHERE { ?s ?p+ ?o }")


def test_exec_filter_inside_graph_scopes_to_group(spark):
    got = sparql_query(_quads(spark), PFX + """
        SELECT ?g ?x WHERE {
            GRAPH ?g { ?x a schema:Article . FILTER(?x != "d1") } }""")
    assert [(r.g, r.x) for r in got.collect()] == [("g2", "d2")]


# --------------------------------------------------------------------
# scalar builtins: string family, hashes, datetime accessors, NOT IN
# --------------------------------------------------------------------

def _kgd(spark):
    """Graph with xsd:dateTime literals in three timezone forms."""
    return spark.createDataFrame([
        ("d1", f"{S}dateCreated", "2024-03-07T14:45:13.815-05:00"),
        ("d2", f"{S}dateCreated", "2023-12-31T23:59:60Z"),
        ("d3", f"{S}dateCreated", "0042-01-02T03:04:05"),
        ("d4", f"{S}name", "not a date"),
    ], COLS)


def test_exec_strbefore_strafter(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?x (STRBEFORE(?n, "a") AS ?pre)
                  (STRAFTER(?n, "a") AS ?post)
                  (STRAFTER(?n, "") AS ?whole)
                  (STRBEFORE(?n, "zzz") AS ?none)
        WHERE { ?x a schema:Article ; schema:name ?n } ORDER BY ?x""")
    rows = [(r.x, r.pre, r.post, r.whole, r.none) for r in got.collect()]
    assert rows == [("d1", "", "lpha", "alpha", ""),
                    ("d2", "bet", "", "beta", "")]


def test_exec_encode_for_uri(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT DISTINCT (ENCODE_FOR_URI("Los Angeles~*100%") AS ?e)
        WHERE { ?x a schema:Article }""")
    assert got.collect()[0].e == "Los%20Angeles~%2A100%25"


def test_exec_hash_functions(spark):
    import hashlib
    got = sparql_query(_kg(spark), PFX + """
        SELECT (MD5(?n) AS ?h1) (SHA1(?n) AS ?h2) (SHA256(?n) AS ?h3)
        WHERE { <d1> schema:name ?n }""").collect()[0]
    assert got.h1 == hashlib.md5(b"alpha").hexdigest()
    assert got.h2 == hashlib.sha1(b"alpha").hexdigest()
    assert got.h3 == hashlib.sha256(b"alpha").hexdigest()


def test_exec_datetime_accessors_lexical_timezone(spark):
    got = sparql_query(_kgd(spark), PFX + """
        SELECT ?x (YEAR(?d) AS ?y) (MONTH(?d) AS ?mo) (DAY(?d) AS ?dd)
               (HOURS(?d) AS ?h) (MINUTES(?d) AS ?mi)
               (SECONDS(?d) AS ?s) (TZ(?d) AS ?tz)
        WHERE { ?x schema:dateCreated ?d } ORDER BY ?x""")
    rows = [(r.x, r.y, r.mo, r.dd, r.h, r.mi, r.s, r.tz)
            for r in got.collect()]
    # components come from the LEXICAL form — the -05:00 literal keeps
    # its own wall-clock hour, not the session timezone's
    assert rows == [
        ("d1", 2024, 3, 7, 14, 45, 13.815, "-05:00"),
        ("d2", 2023, 12, 31, 23, 59, 60.0, "Z"),
        ("d3", 42, 1, 2, 3, 4, 5.0, ""),
    ]


def test_exec_datetime_accessor_malformed_is_error_row_dropped(spark):
    got = sparql_query(_kgd(spark), PFX + """
        SELECT ?x WHERE { ?x schema:name ?d . FILTER(YEAR(?d) > 0) }""")
    assert got.collect() == []


def _kg_wc(spark):
    return spark.createDataFrame([
        ("d1", f"{S}wordCount", "120"),
        ("d2", f"{S}wordCount", "n/a"),
        ("d3", f"{S}wordCount", "7"),
    ], COLS)


@pytest.mark.parametrize("cond,docs", [
    ("?wc > 50", ["d1"]), ("50 < ?wc", ["d1"]), ("?wc = 7", ["d3"]),
    ("?wc > -1", ["d1", "d3"]), ("-1 < ?wc", ["d1", "d3"])])
def test_exec_numeric_comparison_drops_non_numeric_row(spark, cond, docs):
    """Comparing a non-numeric value with a number is a type error: the
    FILTER drops that row (§17.2) and the query runs on, under ANSI
    casts too."""
    got = sparql_query(_kg_wc(spark), PFX + (
        f"SELECT ?d WHERE {{ ?d schema:wordCount ?wc FILTER({cond}) }}"))
    assert sorted(r.d for r in got.collect()) == docs


def test_exec_sum_avg_over_non_numeric_value_is_unbound(spark):
    """SUM/AVG over a group holding a non-numeric value is unbound for
    that group (§18.5.1); the other groups keep their values."""
    total = sparql_query(_kg_wc(spark), PFX + """
        SELECT (SUM(?wc) AS ?t) WHERE { ?d schema:wordCount ?wc }""")
    assert [r.t for r in total.collect()] == [None]
    per_doc = sparql_query(_kg_wc(spark), PFX + """
        SELECT ?d (SUM(?wc) AS ?t) (AVG(?wc) AS ?a)
        WHERE { ?d schema:wordCount ?wc } GROUP BY ?d""")
    assert {r.d: (r.t, r.a) for r in per_doc.collect()} == {
        "d1": (120.0, 120.0), "d2": (None, None), "d3": (7.0, 7.0)}


def test_exec_arithmetic_casts_a_variable_to_double(spark):
    """``?wc + 1`` adds the variable's numeric value: "120" + 1 is 121
    and a decimal "1.5" + 1 is 2.5; a non-numeric value ("n/a") is a
    type error that leaves ?t unbound for that row (§17.2) instead of
    aborting the query."""
    kg = _kg_wc(spark).unionByName(spark.createDataFrame(
        [("d4", f"{S}wordCount", "1.5")], COLS))
    got = sparql_query(kg, PFX + """
        SELECT ?d ((?wc + 1) AS ?t) WHERE { ?d schema:wordCount ?wc }""")
    assert {r.d: r.t for r in got.collect()} == {
        "d1": 121, "d2": None, "d3": 8, "d4": 2.5}


def test_exec_arithmetic_keeps_a_computed_fraction(spark):
    """A fractional operand computed earlier — a BIND, or an AVG
    projected by a sub-SELECT — keeps its fraction against an integer
    literal."""
    got = sparql_query(_kg_wc(spark), PFX + """
        SELECT ?d ((?h + 1) AS ?t)
        WHERE { ?d schema:wordCount ?wc BIND(?wc * 0.5 AS ?h) }""")
    assert {r.d: r.t for r in got.collect()} == {
        "d1": 61, "d2": None, "d3": 4.5}
    got = sparql_query(spark.createDataFrame(
        [("d1", f"{S}wordCount", "1"), ("d2", f"{S}wordCount", "2")],
        COLS), PFX + """
        SELECT ((?a * 2) AS ?t) WHERE {
            { SELECT (AVG(?wc) AS ?a) WHERE { ?d schema:wordCount ?wc } } }""")
    assert [r.t for r in got.collect()] == [3]


def test_exec_arithmetic_on_two_variables_is_numeric(spark):
    """``?a + ?b`` over two lexical columns adds their numeric values
    (it used to fail analysis on two strings); a non-numeric operand
    leaves the result unbound."""
    got = sparql_query(_kg_wc(spark), PFX + """
        SELECT ?d ((?wc + ?wc) AS ?t) ((?wc * 0.5) AS ?h)
        WHERE { ?d schema:wordCount ?wc }""")
    assert {r.d: (r.t, r.h) for r in got.collect()} == {
        "d1": (240.0, 60.0), "d2": (None, None), "d3": (14.0, 3.5)}


def test_exec_datetime_accessor_int_overflow_is_unbound(spark):
    kg = spark.createDataFrame(
        [("d1", f"{S}dateCreated", "99999999999-01-02T03:04:05Z")], COLS)
    got = sparql_query(kg, PFX + """
        SELECT (YEAR(?d) AS ?y) (DAY(?d) AS ?dd)
        WHERE { ?x schema:dateCreated ?d }""")
    assert [(r.y, r.dd) for r in got.collect()] == [(None, 2)]


def test_exec_not_in(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?x WHERE { ?x a schema:Article ; schema:name ?n .
                          FILTER(?n NOT IN ("beta", "carol")) }""")
    assert [r.x for r in got.collect()] == ["d1"]
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?x WHERE { ?x a schema:Article ; schema:name ?n .
                          FILTER(?n IN ("beta", "carol")) }""")
    assert [r.x for r in got.collect()] == ["d2"]


def test_exec_sameterm_and_negation(spark):
    # d1's two literals differ only beyond the lexical form? no —
    # sameTerm(?a, ?b) over two name bindings of the SAME subject is
    # true only when every term facet matches; "alpha"@en vs "alpha"
    # (no tag) must NOT be sameTerm even though the values are equal.
    g = spark.createDataFrame([
        ("d1", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d1", f"{S}name", "alpha", "literal", None, "en"),
        ("d1", f"{S}alternateName", "alpha", "literal", None, None),
        ("d2", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d2", f"{S}name", "beta", "literal", None, "en"),
        ("d2", f"{S}alternateName", "beta", "literal", None, "en"),
    ], "subj string, pred string, obj_value string, obj_kind string,"
       " obj_datatype string, obj_lang string")
    got = sparql_query(g, PFX + """
        SELECT ?x WHERE { ?x a schema:Article ; schema:name ?n ;
                             schema:alternateName ?m .
                          FILTER(SAMETERM(?n, ?m)) } ORDER BY ?x""")
    assert [r.x for r in got.collect()] == ["d2"]
    got = sparql_query(g, PFX + """
        SELECT ?x WHERE { ?x a schema:Article ; schema:name ?n ;
                             schema:alternateName ?m .
                          FILTER(!SAMETERM(?n, ?m)) }""")
    assert [r.x for r in got.collect()] == ["d1"]


def test_parse_sameterm_rejects_expression():
    with pytest.raises(SparqlSyntaxError, match="plain variable"):
        parse_sparql(PFX + """SELECT ?x WHERE {
            ?x schema:name ?n . FILTER(SAMETERM(STR(?n), ?n)) }""")


def test_parse_not_without_in_rejected():
    # NOT is only consumed when IN follows, so a bare NOT fails at the
    # enclosing expression boundary
    with pytest.raises(SparqlSyntaxError, match="expected"):
        parse_sparql(PFX + """SELECT ?x WHERE {
            ?x schema:name ?n . FILTER(?n NOT "beta") }""")


def test_exec_construct_limit_applies_to_solutions(spark):
    """SPARQL 1.1 §16.2: CONSTRUCT modifiers act on the solution
    sequence, then the template instantiates — LIMIT 1 with a 2-triple
    template must yield BOTH triples of the first ordered solution, not
    1 arbitrary output triple (review-found: the slice used to truncate
    the constructed triple bag)."""
    out = sparql_query(_kg(spark), PFX + """
        CONSTRUCT { ?d schema:headline ?n . ?d schema:tag "t" }
        WHERE { ?d schema:name ?n } ORDER BY ?n LIMIT 1""")
    rows = sorted((r.subj, r.pred, r.obj_value) for r in out.collect())
    assert rows == [
        ("srcA", f"{S}headline", "Source A"),
        ("srcA", f"{S}tag", "t"),
    ]


def test_exec_construct_group_by_rejects_nonkey_template_var(spark):
    # §16.2+§11: after grouping only the group keys are in scope — a
    # template variable outside GROUP BY is a parse-time error, never
    # a silent mis-evaluation
    with pytest.raises(SparqlSyntaxError, match="must appear in GROUP BY"):
        sparql_query(_kg(spark), PFX + """
            CONSTRUCT { ?d schema:n ?c } WHERE {
            ?d schema:name ?c } GROUP BY ?d""")


def test_exec_construct_group_by_having(spark):
    # one output triple per GROUP, kept only when the group passes the
    # aggregate HAVING condition (d1+d2 are isPartOf srcA; no other
    # subject reaches two values)
    out = sparql_query(_kg(spark), PFX + """
        CONSTRUCT { ?s a schema:Hub } WHERE {
            ?d schema:isPartOf ?s }
        GROUP BY ?s HAVING(COUNT(?d) >= 2)""")
    rows = sorted((r.subj, r.pred, r.obj_value) for r in out.collect())
    assert rows == [("srcA", RDF_TYPE, f"{S}Hub")]


def test_exec_construct_group_by_no_having(spark):
    # grouping without HAVING collapses each multi-row group to ONE
    # solution before instantiation — one triple per distinct subject
    out = sparql_query(_kg(spark), PFX + """
        CONSTRUCT { ?d a schema:Thing } WHERE {
            ?d ?p ?o } GROUP BY ?d""")
    rows = sorted(r.subj for r in out.collect())
    assert rows == ["a1", "a2", "d1", "d2", "d3", "srcA"]


def test_exec_construct_group_by_carries_term_metadata(spark):
    # a grouped key variable with term-metadata companions keeps its
    # source language/datatype through the grouping (struct-min carry)
    out = sparql_query(_kgm(spark), PFX + """
        CONSTRUCT { ?d schema:label ?n } WHERE {
            ?d schema:name ?n FILTER(isLiteral(?n)) }
        GROUP BY ?d ?n""")
    rows = sorted((r.subj, r.obj_value, r.obj_kind, r.obj_lang or "")
                  for r in out.collect())
    assert rows == [
        ("_:b1", "carol", "literal", "de"),
        ("d1", "alpha", "literal", "en"),
        ("d2", "beta", "literal", "en-GB"),
        ("d3", "gamma", "literal", ""),
    ]


def test_exec_construct_having_must_aggregate(spark):
    with pytest.raises(SparqlSyntaxError, match="aggregate"):
        sparql_query(_kg(spark), PFX + """
            CONSTRUCT { ?s a schema:Hub } WHERE {
                ?d schema:isPartOf ?s }
            GROUP BY ?s HAVING(?s > 1)""")


def test_exec_select_having_with_aggregate_expr(spark):
    # aggregate calls directly in HAVING (no SELECT alias needed)
    out = sparql_query(_kg(spark), PFX + """
        SELECT ?s (COUNT(?d) AS ?n) WHERE {
            ?d schema:isPartOf ?s }
        GROUP BY ?s HAVING(COUNT(?d) >= 2)""")
    rows = [(r.s, r.n) for r in out.collect()]
    assert rows == [("srcA", 2)]


def test_parse_nested_graph_variable_rescopes():
    # §13.3: the inner GRAPH changes the active graph — its patterns
    # carry the INNER term.  Degenerate outer block (nothing left to
    # scope): the outer variable binds nothing — a documented
    # deviation from the algebra's "?g still ranges over every graph
    # name" multiplicity (sparql.py header)
    q = parse_sparql(PFX + """SELECT ?s WHERE {
        GRAPH ?g { GRAPH ?h { ?s ?p ?o } } }""")
    assert q.where.patterns == [("?s", "?p", "?o", "?h")]


def test_parse_non_integer_limit_rejected():
    with pytest.raises(SparqlSyntaxError, match="integer LIMIT"):
        parse_sparql("SELECT ?s WHERE { ?s ?p ?o } LIMIT 1.5")
    with pytest.raises(SparqlSyntaxError, match="integer OFFSET"):
        parse_sparql("SELECT ?s WHERE { ?s ?p ?o } OFFSET 2e3")


# --------------------------------------------------------------------
# nested groups (GroupSpec recursion through the text front-end)
# --------------------------------------------------------------------

def _nested_kg(spark):
    return spark.createDataFrame([
        ("d1", RDF_TYPE, f"{S}Article"),
        ("d2", RDF_TYPE, f"{S}Article"),
        ("d3", RDF_TYPE, f"{S}Article"),
        ("d1", f"{S}author", "a1"),
        ("d2", f"{S}author", "a2"),
        ("a1", f"{S}name", "Alice"),
        ("d3", f"{S}about", "t1"),
    ], COLS)


def test_nested_optional_in_optional(spark):
    rows = sparql_query(_nested_kg(spark), PFX + """
        SELECT ?d ?a ?n WHERE {
            ?d a schema:Article .
            OPTIONAL { ?d schema:author ?a .
                       OPTIONAL { ?a schema:name ?n } }
        } ORDER BY ?d""").collect()
    assert [(r.d, r.a, r.n) for r in rows] == [
        ("d1", "a1", "Alice"),   # full chain
        ("d2", "a2", None),      # outer matches, inner does not
        ("d3", None, None),      # outer does not match
    ]


def test_union_inside_optional(spark):
    rows = sparql_query(_nested_kg(spark), PFX + """
        SELECT ?d ?x WHERE {
            ?d a schema:Article .
            OPTIONAL { { ?d schema:author ?w . ?w schema:name ?x }
                       UNION { ?d schema:about ?x } }
        } ORDER BY ?d""").collect()
    assert [(r.d, r.x) for r in rows] == [
        ("d1", "Alice"), ("d2", None), ("d3", "t1")]


def test_minus_with_nested_not_exists(spark):
    # remove Articles that have an author WITHOUT a name
    rows = sparql_query(_nested_kg(spark), PFX + """
        SELECT ?d WHERE {
            ?d a schema:Article .
            MINUS { ?d schema:author ?a .
                    FILTER NOT EXISTS { ?a schema:name ?n } }
        } ORDER BY ?d""").collect()
    assert [r.d for r in rows] == ["d1", "d3"]


def test_exists_with_nested_optional_filter(spark):
    # EXISTS group whose own OPTIONAL drives a !BOUND filter: keep
    # Articles having an author with NO name (the OPTIONAL+!BOUND
    # idiom, one level down)
    rows = sparql_query(_nested_kg(spark), PFX + """
        SELECT ?d WHERE {
            ?d a schema:Article .
            FILTER EXISTS { ?d schema:author ?a .
                            OPTIONAL { ?a schema:name ?n }
                            FILTER(!BOUND(?n)) }
        }""").collect()
    assert [r.d for r in rows] == ["d2"]


def test_exists_substitution_over_optional_var_from_text(spark):
    """§8.1.1 substitution through the TEXT front-end: a row that does
    not bind ?src leaves it free in the EXISTS group — it passes iff
    the group matches at all; a row that binds it must correlate."""
    t = spark.createDataFrame([
        ("d1", RDF_TYPE, f"{S}Article"),
        ("d2", RDF_TYPE, f"{S}Article"),
        ("d3", RDF_TYPE, f"{S}Article"),
        ("d1", f"{S}isPartOf", "srcA"),   # srcA has a German peer
        ("d3", f"{S}isPartOf", "srcB"),   # srcB has none
        ("p1", f"{S}isPartOf", "srcA"),
        ("p1", f"{S}inLanguage", "de"),
    ], COLS)
    rows = sparql_query(t, PFX + """
        SELECT ?d ?src WHERE {
            ?d a schema:Article .
            OPTIONAL { ?d schema:isPartOf ?src }
            FILTER EXISTS { ?p schema:isPartOf ?src ;
                               schema:inLanguage "de" }
        }""").collect()
    # d1 correlates (srcA ok), d2 leaves ?src free (some German doc
    # exists anywhere), d3 correlates and fails (srcB has none)
    assert sorted((r.d, r.src) for r in rows) == [
        ("d1", "srcA"), ("d2", None)]
    rows = sparql_query(t, PFX + """
        SELECT ?d ?src WHERE {
            ?d a schema:Article .
            OPTIONAL { ?d schema:isPartOf ?src }
            FILTER NOT EXISTS { ?p schema:isPartOf ?src ;
                                   schema:inLanguage "de" }
        }""").collect()
    assert sorted((r.d, r.src) for r in rows) == [("d3", "srcB")]


def test_three_level_nesting(spark):
    t = spark.createDataFrame([
        ("d1", f"{S}author", "a1"),
        ("a1", f"{S}affiliation", "o1"),
        ("o1", f"{S}name", "Org One"),
        ("d2", f"{S}author", "a2"),
        ("a2", f"{S}affiliation", "o2"),
        ("d3", f"{S}author", "a3"),
        ("d4", f"{S}name", "plain"),
    ], COLS)
    rows = sparql_query(t, PFX + """
        SELECT ?d ?a ?o ?n WHERE {
            ?d schema:author ?a .
            OPTIONAL { ?a schema:affiliation ?o .
                       OPTIONAL { ?o schema:name ?n } }
        } ORDER BY ?d""").collect()
    assert [(r.d, r.a, r.o, r.n) for r in rows] == [
        ("d1", "a1", "o1", "Org One"),
        ("d2", "a2", "o2", None),
        ("d3", "a3", None, None),
    ]


# --------------------------------------------------------------------
# flat groups: the same §18.3 compatibility as nested ones
# --------------------------------------------------------------------

def _flat_kg(spark):
    X = "http://x/"
    return spark.createDataFrame([
        ("s1", f"{X}a", "1"), ("s1", f"{X}c", "C1"),
        ("s2", f"{X}a", "2"), ("s2", f"{X}b", "B2"), ("s2", f"{X}c", "C2"),
    ], COLS)


def test_flat_optional_after_optional_binds_unbound_shared_var(spark):
    # ?y is unbound for s1 after the first OPTIONAL, so the second
    # flat OPTIONAL is compatible with it and binds ?y = C1; for s2
    # ?y = B2 disagrees with C2 and the row stays as it was
    rows = sparql_query(_flat_kg(spark), """PREFIX : <http://x/>
        SELECT ?s ?x ?y WHERE {
            ?s :a ?x OPTIONAL { ?s :b ?y } OPTIONAL { ?s :c ?y }
        }""").collect()
    assert sorted((r.s, r.x, r.y) for r in rows) == [
        ("s1", "1", "C1"), ("s2", "2", "B2")]


def test_flat_minus_on_unbound_shared_var(spark):
    # s1 leaves ?y unbound, so { ?s :c ?y } is compatible with it on a
    # shared domain (?s) and removes it; s2's ?y = B2 disagrees
    rows = sparql_query(_flat_kg(spark), """PREFIX : <http://x/>
        SELECT ?s ?x ?y WHERE {
            ?s :a ?x OPTIONAL { ?s :b ?y } MINUS { ?s :c ?y }
        }""").collect()
    assert [(r.s, r.x, r.y) for r in rows] == [("s2", "2", "B2")]


def test_flat_exists_on_bind_only_shared_var_raises(spark):
    # the group binds the shared ?x only by BIND (maybe unbound), where
    # substitution and compatibility diverge — raises, flat or nested
    with pytest.raises(ValueError, match="not bound in every group"):
        sparql_query(_flat_kg(spark), """PREFIX : <http://x/>
            SELECT ?s WHERE {
                ?s :a ?x FILTER EXISTS { ?s :c ?z BIND(?z AS ?x) }
            }""").collect()


def test_bind_after_optional_with_constructor_bind(spark):
    # an OPTIONAL body holding a term-constructor BIND: the late-bind
    # scan over the body's variables reads the constructor's SQL
    rows = sparql_query(_flat_kg(spark), """PREFIX : <http://x/>
        SELECT ?s ?i ?k WHERE {
            ?s :a ?x OPTIONAL { ?s :b ?o BIND(IRI(?o) AS ?i) }
            BIND(COALESCE(?i, "none") AS ?k)
        }""").collect()
    assert sorted((r.s, r.i, r.k) for r in rows) == [
        ("s1", None, "none"), ("s2", "B2", "B2")]


def _uncertain_kg(spark):
    """Documents with names; authors partly named — built so the
    maybe-unbound shared variable changes the answer vs a naive
    equi-join."""
    return spark.createDataFrame([
        ("d1", RDF_TYPE, f"{S}Article"), ("d1", f"{S}name", "Alice"),
        ("d2", RDF_TYPE, f"{S}Article"), ("d2", f"{S}name", "Beta"),
        ("d3", RDF_TYPE, f"{S}Article"), ("d3", f"{S}name", "Gamma"),
        ("d4", RDF_TYPE, f"{S}Article"), ("d4", f"{S}name", "Delta"),
        ("d1", f"{S}author", "a1"), ("a1", f"{S}name", "Alice"),
        ("d2", f"{S}author", "a2"), ("a2", f"{S}name", "Bob"),
        ("d4", f"{S}author", "a4"),  # a4 has NO name
    ], COLS)


def test_nested_maybe_unbound_shared_var_exact_semantics(spark):
    # ?n is bound only under the NESTED optional but shared with the
    # enclosing solution: SPARQL compatibility says an unbound ?n is
    # compatible with ANY enclosing ?n, so d4 (author a4 without a
    # name) still binds ?a = a4 — the case a naive equi-join on
    # (d, n) silently gets wrong (it would leave ?a unbound)
    rows = sparql_query(_uncertain_kg(spark), PFX + """
        SELECT ?d ?n ?a WHERE {
            ?d a schema:Article ; schema:name ?n .
            OPTIONAL { ?d schema:author ?a .
                       OPTIONAL { ?a schema:name ?n } }
        } ORDER BY ?d""").collect()
    assert [(r.d, r.n, r.a) for r in rows] == [
        ("d1", "Alice", "a1"),   # ?n agrees through the nested group
        ("d2", "Beta", None),    # a2's name "Bob" conflicts → bare
        ("d3", "Gamma", None),   # no author at all → bare
        ("d4", "Delta", "a4"),   # ?n unbound in group → compatible
    ]


def test_union_branch_partial_binding_exact_semantics(spark):
    # ?a bound in only one UNION branch: a branch-2 row (about) is
    # compatible with ANY enclosing ?a, so d3 matches BOTH branches
    # (bag semantics — two rows)
    kg = spark.createDataFrame([
        ("d1", RDF_TYPE, f"{S}Article"), ("d1", f"{S}author", "a1"),
        ("d2", RDF_TYPE, f"{S}Article"), ("d2", f"{S}author", "a2"),
        ("d3", RDF_TYPE, f"{S}Article"), ("d3", f"{S}author", "a3"),
        ("d3", f"{S}about", "t1"),
    ], COLS)
    rows = sparql_query(kg, PFX + """
        SELECT ?d ?a ?x WHERE {
            ?d a schema:Article ; schema:author ?a .
            OPTIONAL { { ?d schema:author ?a }
                       UNION { ?d schema:about ?x } }
        } ORDER BY ?d ?x""").collect()
    assert [(r.d, r.a, r.x) for r in rows] == [
        ("d1", "a1", None), ("d2", "a2", None),
        ("d3", "a3", None), ("d3", "a3", "t1")]


def test_minus_maybe_unbound_shared_var_domain_overlap(spark):
    # MINUS group = UNION binding DIFFERENT variables per branch:
    # removal needs compatibility AND a non-empty domain overlap per
    # row — d1 removed via the ?a branch, d3 via the ?d branch, d2
    # survives (SPARQL §8.3.3 row-level domains)
    kg = spark.createDataFrame([
        ("d1", RDF_TYPE, f"{S}Article"), ("d1", f"{S}author", "a1"),
        ("d2", RDF_TYPE, f"{S}Article"), ("d2", f"{S}author", "a2"),
        ("d3", RDF_TYPE, f"{S}Article"), ("d3", f"{S}author", "a3"),
        ("d3", f"{S}about", "t1"), ("a1", f"{S}name", "Alice"),
    ], COLS)
    rows = sparql_query(kg, PFX + """
        SELECT ?d ?a WHERE {
            ?d a schema:Article ; schema:author ?a .
            MINUS { { ?d schema:about ?x }
                    UNION { ?a schema:name ?m } }
        }""").collect()
    assert [(r.d, r.a) for r in rows] == [("d2", "a2")]


def test_two_sided_uncertainty_exact_semantics(spark):
    # ?z is maybe-unbound on BOTH sides: in the enclosing solution
    # (bound under the first OPTIONAL) and in the second group (bound
    # only under ITS nested OPTIONAL, which never matches here) — the
    # mask-pair decomposition must still attach ?n everywhere, with
    # ?z keeping the enclosing side's value
    rows = sparql_query(_uncertain_kg(spark), PFX + """
        SELECT ?d ?z ?n WHERE {
            ?d a schema:Article .
            OPTIONAL { ?d schema:author ?z }
            OPTIONAL { ?d schema:name ?n .
                       OPTIONAL { ?n schema:name ?z } }
        } ORDER BY ?d""").collect()
    assert [(r.d, r.z, r.n) for r in rows] == [
        ("d1", "a1", "Alice"), ("d2", "a2", "Beta"),
        ("d3", None, "Gamma"), ("d4", "a4", "Delta")]


def test_two_sided_group_value_fills_unbound_sol_var(spark):
    # the group binds ?z where the enclosing left it unbound: the
    # merged solution takes the GROUP's value (d3 has no author, but
    # its name-holder a3x does) — and where BOTH bind, they must agree
    kg = spark.createDataFrame([
        ("d1", RDF_TYPE, f"{S}Article"), ("d1", f"{S}author", "a1"),
        ("d1", f"{S}about", "t1"), ("t1", f"{S}sameAs", "a1"),
        ("d2", RDF_TYPE, f"{S}Article"), ("d2", f"{S}author", "a2"),
        ("d2", f"{S}about", "t2"), ("t2", f"{S}sameAs", "aX"),
        ("d3", RDF_TYPE, f"{S}Article"),
        ("d3", f"{S}about", "t3"), ("t3", f"{S}sameAs", "a3x"),
        ("d4", RDF_TYPE, f"{S}Article"),
    ], COLS)
    rows = sparql_query(kg, PFX + """
        SELECT ?d ?z ?t WHERE {
            ?d a schema:Article .
            OPTIONAL { ?d schema:author ?z }
            OPTIONAL { ?d schema:about ?t .
                       OPTIONAL { ?t schema:sameAs ?z } }
        } ORDER BY ?d""").collect()
    assert [(r.d, r.z, r.t) for r in rows] == [
        ("d1", "a1", "t1"),    # both bind, equal → merged
        ("d2", "a2", None),    # group binds aX ≠ a2 → incompatible,
                               # and no other group row for d2 → bare
        ("d3", "a3x", "t3"),   # sol unbound → takes the group's value
        ("d4", None, None)]    # nothing anywhere


def test_nested_subselect_inside_optional(spark):
    """§18.2 sub-SELECT inside an OPTIONAL body (previously a
    documented deviation, now compiled as a GroupSpec relation): the
    optional attaches the subquery's aggregate where the group's own
    pattern matches, NULL elsewhere."""
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?d ?n WHERE {
            ?d a schema:Article .
            OPTIONAL { ?d schema:inLanguage ?l .
                       { SELECT ?d (COUNT(?w) AS ?n)
                         WHERE { ?d schema:wordCount ?w }
                         GROUP BY ?d } }
        }""").collect()
    assert sorted((r.d, r.n) for r in got) == [("d1", None), ("d2", 1)]


def test_nested_subselect_inside_minus_and_exists(spark):
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?d WHERE {
            ?d a schema:Article .
            MINUS { ?d schema:inLanguage ?l .
                    { SELECT ?d WHERE { ?d schema:wordCount ?w } } }
        }""").collect()
    assert [r.d for r in got] == ["d1"]
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?d WHERE {
            ?d a schema:Article .
            FILTER EXISTS { ?d schema:isPartOf ?src .
                            { SELECT ?src WHERE
                              { ?src schema:name ?n } } }
        }""").collect()
    assert sorted(r.d for r in got) == ["d1", "d2"]


def test_relations_only_optional(spark):
    """``OPTIONAL { { SELECT ... } }`` — a relations-only nested
    group: LeftJoin(P, ToMultiset(sub)) per the §18.2 algebra."""
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?d ?lang WHERE {
            ?d a schema:Article .
            OPTIONAL { { SELECT ?d ?lang WHERE
                         { ?d schema:inLanguage ?lang } } }
        }""").collect()
    assert sorted((r.d, r.lang) for r in got) == [
        ("d1", None), ("d2", "en")]


def test_subselect_maybe_unbound_projection_joins_per_18_3(spark):
    """A sub-SELECT projecting a maybe-unbound variable (bound only
    under an inner OPTIONAL) shared with the outer patterns: §18.3
    compatibility — the unbound sub row matches ANY outer value and
    takes it (a plain equi join would silently drop it)."""
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?d ?l WHERE {
            ?d schema:inLanguage ?l .
            { SELECT ?d ?l WHERE {
                ?d a schema:Article
                OPTIONAL { ?d schema:inLanguage ?l } } }
        }""").collect()
    # only d2 has inLanguage; the sub binds (d2, en) — equal on both
    # sides — and (d1, NULL) which has no outer d1 row to extend
    assert sorted((r.d, r.l) for r in got) == [("d2", "en")]
    got = sparql_query(_kg(spark), PFX + """
        SELECT ?d ?w WHERE {
            ?d schema:wordCount ?w .
            { SELECT ?d ?w WHERE {
                ?d a schema:Article
                OPTIONAL { ?d schema:inLanguage ?x .
                           ?d schema:wordCount ?w } } }
        }""").collect()
    # sub rows: (d1, NULL) [no inLanguage], (d2, "80").  Outer rows:
    # (d1,"120"), (d2,"80").  §18.3: (d1,NULL) is compatible with
    # (d1,"120") and takes the outer value.
    assert sorted((r.d, r.w) for r in got) == [("d1", "120"),
                                               ("d2", "80")]


def test_nested_subselect_commute_guard_raises(spark):
    """Inside a nested group the same §18.2 commutation guard applies:
    an inner OPTIONAL touching a sub-projected variable that the
    nested group's own patterns do not bind raises."""
    with pytest.raises(SparqlSyntaxError, match="maybe-unbound"):
        parse_sparql(PFX + """
            SELECT * WHERE {
                ?d a schema:Article .
                OPTIONAL { ?d schema:isPartOf ?src .
                           OPTIONAL { ?d schema:name ?n }
                           { SELECT ?d ?n WHERE
                             { ?d schema:wordCount ?n } } }
            }""")


def test_gated_nested_query_matches_oracle(spark):
    """The gated kg_sparql_nested query (nested OPTIONAL/UNION/MINUS
    groups end-to-end from SPARQL text over real extraction output)
    agrees with its DuckDB oracle row-for-row through the driver's
    order-insensitive canon — the same pair the correctness gate runs."""
    import duckdb

    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    df = entrymod.q_kg_sparql_nested(spark, SF_DIR)
    cols = sorted(df.columns)
    got = sorted(tuple("null" if r[c] is None else str(r[c]) for c in cols)
                 for r in df.collect())

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{SF_DIR}/documents.parquet'")
    rel = con.sql(entrymod.oracle_sql()["kg_sparql_nested"])
    order = [rel.columns.index(c) for c in cols]
    exp = sorted(tuple("null" if row[i] is None else str(row[i])
                       for i in order) for row in rel.fetchall())
    assert got == exp and len(got) > 0


def test_construct_where_shorthand(spark):
    for kg, body in [
        (_kg(spark), "?d schema:isPartOf ?s"),
        # a tagged and a plain literal constant: the template keeps
        # each as that literal, the WHERE matches each as a pattern
        (_kgm(spark), '?d schema:name "alpha"@en . ?e schema:name "gamma"'),
    ]:
        full = sparql_query(kg, PFX + f"""
            CONSTRUCT {{ {body} }} WHERE {{ {body} }}""")
        short = sparql_query(kg, PFX + f"""
            CONSTRUCT WHERE {{ {body} }}""")
        assert sorted(map(tuple, short.collect())) \
            == sorted(map(tuple, full.collect()))
        assert len(short.collect()) > 0


def test_construct_where_shorthand_rejects_rich_bodies(spark):
    for text, msg in [
        ("CONSTRUCT WHERE { ?d schema:name ?n FILTER(BOUND(?n)) }",
         "triple patterns only"),
        ("CONSTRUCT WHERE { ?d schema:partOf+ ?x }",
         "plain triple patterns"),
        ("CONSTRUCT WHERE { }", "at least one"),
    ]:
        with pytest.raises(SparqlSyntaxError, match=msg):
            parse_sparql(PFX + text)


# --------------------------------------------------------------------
# tagged/typed literal constants in VALUES (term-exact entries)
# --------------------------------------------------------------------

def test_values_language_tagged_literal(spark):
    # "alpha"@en must match d1's en-tagged name but NOT an untagged or
    # differently-tagged "alpha" (term equality, not lexical)
    got = sparql_query(_kgm(spark), PFX + """
        SELECT ?x ?n WHERE {
            ?x a schema:Article ; schema:name ?n .
            VALUES ?n { "alpha"@en "gamma"@en }
        }""")
    assert {(r.x, r.n) for r in got.collect()} == {("d1", "alpha")}


def test_values_typed_literal_and_mixed_rows(spark):
    # typed entry constrains on datatype; a bare entry in another row
    # of the same VALUES stays lexical; UNDEF keeps multiplicity
    got = sparql_query(_kgm(spark), PFX + """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?x ?v WHERE {
            ?x schema:wordCount ?v .
            VALUES ?v { "120"^^xsd:integer "999"^^xsd:integer }
        }""")
    assert {(r.x, r.v) for r in got.collect()} == {("d1", "120")}
    got2 = sparql_query(_kgm(spark), PFX + """
        SELECT ?x ?n WHERE {
            ?x schema:name ?n .
            VALUES ?n { "gamma" "beta"@en-gb }
        }""")
    # "gamma" (bare) matches lexically; "beta"@en-GB tag-insensitively
    assert {(r.x, r.n) for r in got2.collect()} == {
        ("d3", "gamma"), ("d2", "beta")}


def test_values_tagged_literal_simple_vs_string(spark):
    # "gamma" with an explicit ^^xsd:string is the SAME term as the
    # stored simple literal (RDF 1.1) and must NOT match d1's tagged
    # "alpha"@en; the BARE "alpha" entry keeps the engine-wide lexical
    # identity and does (documented bare-string convention)
    got = sparql_query(_kgm(spark), PFX + """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?x WHERE {
            ?x schema:name ?n .
            VALUES ?n { "gamma"^^xsd:string "alpha" }
        }""")
    assert sorted(r.x for r in got.collect()) == ["d1", "d3"]
    got2 = sparql_query(_kgm(spark), PFX + """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?x WHERE {
            ?x schema:name ?n .
            VALUES ?n { "alpha"^^xsd:string }
        }""")
    assert got2.count() == 0


def test_values_tagged_literal_extension_rejected(spark):
    # a Lit entry for a variable the group does NOT bind is a clear
    # error (term-exact VALUES can only constrain)
    with pytest.raises(Exception, match="CONSTRAIN"):
        sparql_query(_kgm(spark), PFX + """
            SELECT * WHERE {
                ?x a schema:Article .
                VALUES ?label { "hi"@en }
            }""").collect()


# --------------------------------------------------------------------
# nested GRAPH groups (§13.3: the inner block re-scopes)
# --------------------------------------------------------------------

def test_parse_nested_graph_groups():
    q = parse_sparql(PFX + """
        SELECT * WHERE {
            GRAPH ?g {
                ?x a schema:Article .
                GRAPH <http://g/meta> { ?x schema:name ?n }
            }
        }""")
    assert q.where.patterns == [
        ("?x", RDF_TYPE, f"{S}Article", "?g"),
        ("?x", f"{S}name", "?n", "http://g/meta"),
    ]


def test_exec_nested_graph_groups(spark):
    quads = spark.createDataFrame([
        ("d1", RDF_TYPE, f"{S}Article", "http://g/1"),
        ("d2", RDF_TYPE, f"{S}Article", "http://g/2"),
        ("d1", f"{S}name", "alpha", "http://g/meta"),
        ("d2", f"{S}name", "WRONG", "http://g/2"),  # not in meta graph
    ], ["subj", "pred", "obj_value", "graph"])
    got = sparql_query(quads, PFX + """
        SELECT ?g ?x ?n WHERE {
            GRAPH ?g {
                ?x a schema:Article .
                GRAPH <http://g/meta> { ?x schema:name ?n }
            }
        }""")
    assert {(r.g, r.x, r.n) for r in got.collect()} == {
        ("http://g/1", "d1", "alpha")}


def test_exec_graph_var_with_nothing_to_scope_ranges_names(spark):
    # §13.3: every contained pattern re-scoped by the nested block, so
    # the outer ?g ranges over EVERY graph name (once per name) — was
    # a documented bind-nothing deviation until round 5
    got = sparql_query(_quads(spark), PFX + """
        SELECT ?g ?n WHERE {
            GRAPH ?g { GRAPH <g3> { ?x schema:name ?n } }
        }""")
    assert {(r.g, r.n) for r in got.collect()} == {
        (g, "carol") for g in ("g1", "g2", "g3")}
    # multiplicity: one row per (name, graph-name) pair, names distinct
    assert got.count() == 3


def test_graph_range_is_visible_to_the_group_filter(spark):
    # the range joins with the group's patterns, so a FILTER of the
    # same group can read it
    quads = spark.createDataFrame([
        ("x1", f"{S}name", "n1", "g3"),
        ("x2", f"{S}name", "n2", "g1"),
    ], ["subj", "pred", "obj_value", "graph"])
    got = sparql_query(quads, PFX + """
        SELECT ?g ?n WHERE {
            GRAPH ?g { GRAPH <g3> { ?x schema:name ?n } }
            FILTER(?g != "g1")
        }""")
    assert [(r.g, r.n) for r in got.collect()] == [("g3", "n1")]


def test_parse_graph_var_nothing_to_scope_marks_range():
    q = parse_sparql(PFX + """SELECT * WHERE {
        GRAPH ?g { GRAPH <g3> { ?x schema:name ?n } } }""")
    assert q.where.graph_ranges == ["g"]
    assert q.where.patterns == [("?x", f"{S}name", "?n", "g3")]
    # same-var nested block: ?g DOES scope the inner patterns — no range
    q2 = parse_sparql(PFX + """SELECT * WHERE {
        GRAPH ?g { GRAPH ?g { ?x schema:name ?n } } }""")
    assert q2.where.graph_ranges == []
    # a range found inside a GRAPH body survives into the group
    q3 = parse_sparql(PFX + """SELECT * WHERE {
        GRAPH ?g { GRAPH ?h { GRAPH <g3> { ?x schema:name ?n } } } }""")
    assert sorted(q3.where.graph_ranges) == ["g", "h"]


def test_parse_where_is_one_group_spec():
    """The parser builds the evaluator's group shape directly: WHERE is
    a GroupSpec for SELECT, ASK and CONSTRUCT, and absent for a
    DESCRIBE of IRIs only."""
    for text in ("SELECT ?x WHERE { ?x a schema:Article }",
                 "ASK { ?x a schema:Article }",
                 "CONSTRUCT { ?x a schema:Thing } WHERE { ?x a "
                 "schema:Article }",
                 "DESCRIBE ?x WHERE { ?x a schema:Article }"):
        assert isinstance(parse_sparql(PFX + text).where, GroupSpec)
    assert parse_sparql(PFX + "DESCRIBE <d1> <d2>").where is None


def test_graph_var_nothing_to_scope_ranges_in_nested_group(spark):
    # the §13.3 range works inside an OPTIONAL body too: the group's
    # ?g ranges over every graph name before the left join
    got = sparql_query(_quads(spark), PFX + """
        SELECT ?s ?src ?g WHERE {
            ?s schema:name ?n .
            OPTIONAL { ?s schema:isPartOf ?src .
                       GRAPH ?g { GRAPH <g3> { ?x a schema:Person } } }
        }""").collect()
    assert sorted((r.s, r.src, r.g) for r in got
                  if r.src is not None) == [
        (s, "srcA", g) for s in ("d1", "d2") for g in ("g1", "g2", "g3")]
    assert [(r.s, r.g) for r in got if r.src is None] == [("d3", None)]
