"""KG querying (operators/bgp.py): basic-graph-pattern compilation and
the typed-entity pivot."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdfa_streaming_parser_js_spark.operators.bgp import (
    bgp_construct, bgp_match, bgp_union, describe, entity_table)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
S = "http://schema.org/"

COLS = ["subj", "pred", "obj_value"]


def _kg(spark):
    return spark.createDataFrame([
        ("d1", RDF_TYPE, f"{S}Article"),
        ("d1", f"{S}name", "alpha"),
        ("d1", f"{S}isPartOf", "srcA"),
        ("d2", RDF_TYPE, f"{S}Article"),
        ("d2", f"{S}name", "beta"),
        ("d2", f"{S}isPartOf", "srcA"),
        ("d3", RDF_TYPE, f"{S}Person"),
        ("d3", f"{S}name", "carol"),
        ("d3", f"{S}isPartOf", "srcB"),
        ("loop", f"{S}sameAs", "loop"),
    ], COLS)


def test_bgp_single_pattern_constant_filter(spark):
    got = bgp_match(_kg(spark), [("?x", RDF_TYPE, f"{S}Article")])
    assert sorted(r.x for r in got.collect()) == ["d1", "d2"]


def test_bgp_shared_subject_join(spark):
    got = bgp_match(_kg(spark), [
        ("?x", RDF_TYPE, f"{S}Article"),
        ("?x", f"{S}name", "?n"),
    ], select=["x", "n"])
    assert {(r.x, r.n) for r in got.collect()} == {
        ("d1", "alpha"), ("d2", "beta")}


def test_bgp_shared_object_variable_join(spark):
    # pairs of subjects sharing a source, via the non-subject var ?s
    got = bgp_match(_kg(spark), [
        ("?a", f"{S}isPartOf", "?s"),
        ("?b", f"{S}isPartOf", "?s"),
    ]).filter(F.col("a") < F.col("b"))
    assert {(r.a, r.b, r.s) for r in got.collect()} == {
        ("d1", "d2", "srcA")}


def test_bgp_repeated_var_in_one_pattern_finds_self_loops(spark):
    got = bgp_match(_kg(spark), [("?x", f"{S}sameAs", "?x")])
    assert [r.x for r in got.collect()] == ["loop"]


def test_bgp_disjoint_patterns_cross_join(spark):
    got = bgp_match(_kg(spark), [
        ("?x", RDF_TYPE, f"{S}Article"),
        ("?y", RDF_TYPE, f"{S}Person"),
    ])
    assert {(r.x, r.y) for r in got.collect()} == {
        ("d1", "d3"), ("d2", "d3")}


def test_bgp_bag_semantics_preserves_input_multiplicity(spark):
    dup = _kg(spark).union(spark.createDataFrame(
        [("d1", f"{S}name", "alpha")], COLS))
    got = bgp_match(dup, [("?x", f"{S}name", "?n")])
    names = [r.n for r in got.filter(F.col("x") == "d1").collect()]
    assert names == ["alpha", "alpha"]


def test_bgp_rejects_empty_and_unbound(spark):
    with pytest.raises(ValueError):
        bgp_match(_kg(spark), [])
    with pytest.raises(ValueError):
        bgp_match(_kg(spark), [("d1", RDF_TYPE, f"{S}Article")])


def test_bgp_filter_restricts_solutions(spark):
    got = bgp_match(_kg(spark), [
        ("?x", RDF_TYPE, f"{S}Article"),
        ("?x", f"{S}name", "?n"),
    ], filters=["n > 'alpha'"])
    assert [(r.x, r.n) for r in got.collect()] == [("d2", "beta")]


def test_bgp_optional_left_join_semantics(spark):
    # d1 has a source, extra-article d4 has none -> NULL ?src
    kg = _kg(spark).union(spark.createDataFrame(
        [("d4", RDF_TYPE, f"{S}Article")], COLS))
    got = bgp_match(kg, [("?x", RDF_TYPE, f"{S}Article")],
                    optionals=[([("?x", f"{S}isPartOf", "?src")], None)])
    rows = {r.x: r.src for r in got.collect()}
    assert rows == {"d1": "srcA", "d2": "srcA", "d4": None}


def test_bgp_optional_group_local_filter(spark):
    # SPARQL semantics: the filter applies INSIDE the optional group,
    # so a non-matching value yields NULL, not a dropped solution
    got = bgp_match(_kg(spark), [("?x", RDF_TYPE, f"{S}Article")],
                    optionals=[([("?x", f"{S}name", "?n")],
                                ["n = 'alpha'"])])
    rows = {r.x: r.n for r in got.collect()}
    assert rows == {"d1": "alpha", "d2": None}


def test_bgp_optional_requires_shared_variable(spark):
    with pytest.raises(ValueError):
        bgp_match(_kg(spark), [("?x", RDF_TYPE, f"{S}Article")],
                  optionals=[([("?y", f"{S}name", "?n")], None)])


def test_bgp_minus_removes_compatible_solutions(spark):
    # articles MINUS {articles from srcA} -> none (both are srcA)
    got = bgp_match(_kg(spark), [("?x", RDF_TYPE, f"{S}Article")],
                    minus=[([("?x", f"{S}isPartOf", "srcA")], None)])
    assert got.count() == 0
    # with a group-local filter: only beta-named articles are removed
    got = bgp_match(_kg(spark), [("?x", RDF_TYPE, f"{S}Article")],
                    minus=[([("?x", f"{S}name", "?n")], ["n = 'beta'"])])
    assert [r.x for r in got.collect()] == ["d1"]


def test_bgp_minus_disjoint_domain_is_noop(spark):
    # SPARQL §8.3.3: MINUS sharing no variable removes nothing
    got = bgp_match(_kg(spark), [("?x", RDF_TYPE, f"{S}Article")],
                    minus=[([("?y", RDF_TYPE, f"{S}Person")], None)])
    assert sorted(r.x for r in got.collect()) == ["d1", "d2"]


def test_bgp_union_stacks_with_unbound_nulls(spark):
    arts = bgp_match(_kg(spark), [("?x", RDF_TYPE, f"{S}Article"),
                                  ("?x", f"{S}name", "?n")])
    people = bgp_match(_kg(spark), [("?x", RDF_TYPE, f"{S}Person"),
                                    ("?x", f"{S}isPartOf", "?src")])
    got = bgp_union(arts, people)
    rows = {(r.x, r.n, r.src) for r in got.collect()}
    assert rows == {("d1", "alpha", None), ("d2", "beta", None),
                    ("d3", None, "srcB")}


def test_bgp_construct_instantiates_template_per_solution(spark):
    kg = _kg(spark).withColumns({
        "obj_kind": F.when(F.col("pred") == f"{S}name", "literal")
        .otherwise("iri"),
        "obj_datatype": F.lit(None).cast("string"),
        "obj_lang": F.lit(None).cast("string")})
    sols = bgp_match(kg, [("?x", RDF_TYPE, f"{S}Article"),
                          ("?x", f"{S}name", "?n")], meta_vars={"n"})
    got = bgp_construct(sols, [
        ("?x", f"{S}headline", "?n"),
        ("?x", RDF_TYPE, f"{S}Thing"),
    ])
    rows = {(r.subj, r.pred, r.obj_value, r.obj_kind)
            for r in got.collect()}
    assert rows == {
        ("d1", f"{S}headline", "alpha", "literal"),
        ("d2", f"{S}headline", "beta", "literal"),
        ("d1", RDF_TYPE, f"{S}Thing", "iri"),
        ("d2", RDF_TYPE, f"{S}Thing", "iri"),
    }
    assert got.columns == ["subj", "subj_kind", "pred", "obj_value",
                           "obj_kind", "obj_datatype", "obj_lang"]


def test_bgp_construct_drops_unbound_optional_rows(spark):
    kg = _kg(spark).union(spark.createDataFrame(
        [("d4", RDF_TYPE, f"{S}Article")], COLS))
    sols = bgp_match(kg, [("?x", RDF_TYPE, f"{S}Article")],
                     optionals=[([("?x", f"{S}isPartOf", "?src")], None)])
    got = bgp_construct(sols, [("?src", f"{S}hasPart", "?x")])
    assert {(r.subj, r.obj_value) for r in got.collect()} == {
        ("srcA", "d1"), ("srcA", "d2")}  # d4's NULL ?src dropped


def test_bgp_construct_bnode_kind_derived(spark):
    sols = spark.createDataFrame([("_:b0", "d1")], ["b", "x"])
    got = bgp_construct(sols, [("?b", f"{S}about", "?x")]).collect()
    assert got[0].subj_kind == "bnode" and got[0].obj_kind == "iri"


DESCRIBE_COLS = ["subj", "pred", "obj_value", "obj_kind"]


def _describe_kg(spark):
    return spark.createDataFrame([
        ("d1", f"{S}name", "alpha", "literal"),
        ("d1", f"{S}author", "_:b1", "bnode"),
        ("_:b1", f"{S}name", "ann", "literal"),
        ("_:b1", f"{S}knows", "_:b2", "bnode"),   # nested bnode
        ("_:b2", f"{S}name", "bob", "literal"),
        ("d1", f"{S}isPartOf", "srcA", "iri"),    # IRI: NOT expanded
        ("srcA", f"{S}name", "source a", "literal"),
        ("d9", f"{S}name", "other", "literal"),   # unreachable
    ], DESCRIBE_COLS)


def test_describe_follows_bnodes_not_iris(spark):
    seeds = spark.createDataFrame([("d1",)], ["node"])
    got = {(r.subj, r.pred, r.obj_value)
           for r in describe(_describe_kg(spark), seeds).collect()}
    assert got == {
        ("d1", f"{S}name", "alpha"),
        ("d1", f"{S}author", "_:b1"),
        ("d1", f"{S}isPartOf", "srcA"),
        ("_:b1", f"{S}name", "ann"),
        ("_:b1", f"{S}knows", "_:b2"),
        ("_:b2", f"{S}name", "bob"),
    }


def test_describe_multi_seed_and_shared_bnode_once(spark):
    kg = _describe_kg(spark).union(spark.createDataFrame(
        [("d9", f"{S}author", "_:b1", "bnode")], DESCRIBE_COLS))
    seeds = spark.createDataFrame([("d1",), ("d9",)], ["node"])
    got = describe(kg, seeds)
    # _:b1 reached from both seeds -> its triples appear exactly once
    assert got.filter((F.col("subj") == "_:b1")
                      & (F.col("pred") == f"{S}name")).count() == 1


def test_describe_raises_on_unbounded_depth(spark):
    import pytest as _pytest
    kg = spark.createDataFrame(
        [(f"_:b{i}", f"{S}next", f"_:b{i+1}", "bnode") for i in range(9)],
        DESCRIBE_COLS)
    seeds = spark.createDataFrame([("_:b0",)], ["node"])
    with _pytest.raises(RuntimeError, match="frontier"):
        describe(kg, seeds, max_rounds=3)


def test_entity_table_pivot_and_nulls(spark):
    kg = _kg(spark).union(spark.createDataFrame(
        [("d2", f"{S}name", "aaa-earlier")], COLS))  # multi-valued name
    got = entity_table(kg, f"{S}Article", {
        "name": f"{S}name", "source": f"{S}isPartOf",
        "missing": f"{S}wordCount"})
    rows = {r.subj: r for r in got.collect()}
    assert set(rows) == {"d1", "d2"}  # the Person is excluded
    assert rows["d1"].name == "alpha" and rows["d1"].source == "srcA"
    assert rows["d2"].name == "aaa-earlier"  # deterministic min
    assert rows["d1"].missing is None


def test_entity_table_typed_subject_without_properties_kept(spark):
    kg = spark.createDataFrame([("only", RDF_TYPE, f"{S}Article")], COLS)
    rows = entity_table(kg, f"{S}Article", {"name": f"{S}name"}).collect()
    assert len(rows) == 1 and rows[0].subj == "only"
    assert rows[0].name is None


def test_entity_table_requires_properties(spark):
    with pytest.raises(ValueError):
        entity_table(_kg(spark), f"{S}Article", {})


def test_bgp_constant_only_pattern_gates_the_group(spark):
    """A fully-constant pattern is an existence constraint (SPARQL 1.1
    §5.1): present → solutions unchanged, absent → empty group."""
    present = bgp_match(_kg(spark), [
        ("?s", RDF_TYPE, f"{S}Article"),
        ("d3", RDF_TYPE, f"{S}Person"),  # exists
    ], select=["s"])
    assert sorted(r.s for r in present.collect()) == ["d1", "d2"]
    absent = bgp_match(_kg(spark), [
        ("?s", RDF_TYPE, f"{S}Article"),
        ("d3", RDF_TYPE, f"{S}Robot"),  # does not exist
    ], select=["s"])
    assert absent.count() == 0


def test_bgp_all_constant_group_raises(spark):
    with pytest.raises(ValueError, match="binds no variable"):
        bgp_match(_kg(spark), [("d3", RDF_TYPE, f"{S}Person")])


def test_entity_table_multi_sorted_arrays(spark):
    from rdfa_streaming_parser_js_spark.operators.bgp import (
        entity_table_multi)
    kg = _kg(spark).union(spark.createDataFrame(
        [("d2", f"{S}name", "aaa-earlier"),
         ("d2", f"{S}name", "zzz-later"),
         ("d2", f"{S}name", "aaa-earlier")], COLS))  # dup collapses
    got = entity_table_multi(kg, f"{S}Article", {
        "name": f"{S}name", "source": f"{S}isPartOf",
        "missing": f"{S}wordCount"})
    rows = {r.subj: r for r in got.collect()}
    assert set(rows) == {"d1", "d2"}
    assert rows["d1"].name == ["alpha"]  # single value still an array
    # distinct values (dup collapsed), sorted; d2's own name included
    assert rows["d2"].name == ["aaa-earlier", "beta", "zzz-later"]
    assert rows["d1"].missing is None  # absent property -> NULL


def test_entity_table_multi_requires_properties(spark):
    from rdfa_streaming_parser_js_spark.operators.bgp import (
        entity_table_multi)
    with pytest.raises(ValueError):
        entity_table_multi(_kg(spark), f"{S}Article", {})


def test_bgp_constant_filters_reach_the_scan(spark, tmp_path):
    """Plan shape: a constant-predicate pattern pushes its filter into
    the parquet scan (PushedFilters), so a 10^13-triple table prunes to
    one predicate slice before any join."""
    path = str(tmp_path / "kg")
    _kg(spark).write.parquet(path)
    t = spark.read.parquet(path)
    plan = (bgp_match(t, [("?x", RDF_TYPE, "?t")])
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [IsNotNull(pred), EqualTo(pred," in plan


# ---------------------------------------------------------------------------
# VALUES / FILTER EXISTS / FILTER NOT EXISTS
# ---------------------------------------------------------------------------

ARTICLES = [("?x", RDF_TYPE, f"{S}Article"), ("?x", f"{S}name", "?n")]


def test_values_constrains_and_extends(spark):
    """VALUES rows constrain bound vars (inner join) and surface new
    vars as columns; UNDEF positions come back NULL."""
    got = bgp_match(_kg(spark), ARTICLES,
                    values=[{"n": "alpha", "label": "first"},
                            {"n": "beta", "label": None},
                            {"n": "nope", "label": "never"}],
                    select=["x", "n", "label"])
    assert {(r.x, r.n, r.label) for r in got.collect()} == {
        ("d1", "alpha", "first"), ("d2", "beta", None)}


def test_values_duplicate_rows_multiply(spark):
    got = bgp_match(_kg(spark), ARTICLES,
                    values=[{"n": "alpha"}, {"n": "alpha"}])
    assert [r.x for r in got.collect()] == ["d1", "d1"]


def test_values_unshared_vars_cross_join(spark):
    """A VALUES block binding only new variables is a cross product —
    every solution times every row."""
    got = bgp_match(_kg(spark), ARTICLES,
                    values=[{"tag": "t1"}, {"tag": "t2"}],
                    select=["x", "tag"])
    assert sorted((r.x, r.tag) for r in got.collect()) == [
        ("d1", "t1"), ("d1", "t2"), ("d2", "t1"), ("d2", "t2")]


def test_values_all_undef_row_is_pure_multiplicity(spark):
    """A row of nothing but UNDEF is compatible with every solution."""
    got = bgp_match(_kg(spark), [("?x", RDF_TYPE, f"{S}Article")],
                    values=[{"n2": None}, {"n2": "x"}])
    # the UNDEF-mask row keeps both articles once; the defined row
    # cross-joins them a second time with n2='x'
    assert sorted(((r.x, r.n2) for r in got.collect()),
                  key=lambda t: (t[0], t[1] or "")) == [
        ("d1", None), ("d1", "x"), ("d2", None), ("d2", "x")]


def test_exists_keeps_correlated_solutions(spark):
    got = bgp_match(_kg(spark), ARTICLES,
                    exists=[([("?x", f"{S}isPartOf", "srcA")], None)])
    assert sorted(r.x for r in got.collect()) == ["d1", "d2"]
    got = bgp_match(_kg(spark), ARTICLES,
                    exists=[([("?x", f"{S}isPartOf", "srcB")], None)])
    assert got.count() == 0  # no Article is in srcB


def test_not_exists_removes_correlated_solutions(spark):
    got = bgp_match(_kg(spark),
                    [("?x", f"{S}name", "?n")],
                    not_exists=[([("?x", RDF_TYPE, f"{S}Article")], None)])
    assert sorted(r.x for r in got.collect()) == ["d3"]


def test_exists_group_local_filter(spark):
    got = bgp_match(_kg(spark), ARTICLES,
                    exists=[([("?x", f"{S}name", "?en")],
                             ["en > 'alpha'"])])
    assert sorted(r.x for r in got.collect()) == ["d2"]


def test_exists_semi_join_never_multiplies(spark):
    """Two matching group solutions must not duplicate the kept row."""
    kg = _kg(spark).union(spark.createDataFrame(
        [("d1", f"{S}keywords", "k1"), ("d1", f"{S}keywords", "k2")],
        COLS))
    got = bgp_match(kg, ARTICLES,
                    exists=[([("?x", f"{S}keywords", "?k")], None)])
    assert [r.x for r in got.collect()] == ["d1"]


def test_exists_substitution_unbound_outer_var_is_free(spark):
    """SPARQL §8.1.1 substitution semantics: a solution row that does
    NOT bind the correlated variable leaves it FREE in the EXISTS
    group — the group then constrains nothing for that row (it acts
    as the global non-emptiness probe), it is NOT 'never matches'."""
    kg = spark.createDataFrame([
        ("a", f"{S}name", "alpha"),
        ("b", f"{S}name", "beta"),
        ("a", f"{S}about", "x1"),             # only a binds ?t
        ("x1", f"{S}isPartOf", "srcA"),
    ], COLS)
    got = bgp_match(kg, [("?x", f"{S}name", "?n")],
                    optionals=[([("?x", f"{S}about", "?t")], None)],
                    exists=[([("?t", f"{S}isPartOf", "?s2")], None)])
    # a correlates (x1 isPartOf srcA); b leaves ?t free -> group
    # non-empty -> kept
    assert sorted(r.x for r in got.collect()) == ["a", "b"]
    got = bgp_match(kg, [("?x", f"{S}name", "?n")],
                    optionals=[([("?x", f"{S}about", "?t")], None)],
                    not_exists=[([("?t", f"{S}isPartOf", "?s2")], None)])
    assert got.count() == 0


def test_exists_substitution_bound_outer_var_still_correlates(spark):
    """The bound-mask split must not weaken correlation for rows that
    DO bind the variable: a value with no group match is dropped."""
    kg = spark.createDataFrame([
        ("a", f"{S}name", "alpha"),
        ("b", f"{S}name", "beta"),
        ("a", f"{S}about", "x2"),             # x2 has no isPartOf
        ("x1", f"{S}isPartOf", "srcA"),
    ], COLS)
    got = bgp_match(kg, [("?x", f"{S}name", "?n")],
                    optionals=[([("?x", f"{S}about", "?t")], None)],
                    exists=[([("?t", f"{S}isPartOf", "?s2")], None)])
    assert sorted(r.x for r in got.collect()) == ["b"]
    got = bgp_match(kg, [("?x", f"{S}name", "?n")],
                    optionals=[([("?x", f"{S}about", "?t")], None)],
                    not_exists=[([("?t", f"{S}isPartOf", "?s2")], None)])
    assert sorted(r.x for r in got.collect()) == ["a"]


def test_disjoint_not_exists_differs_from_minus(spark):
    """SPARQL §8.3.3: a negation group sharing no variable is a no-op
    under MINUS but a global gate under NOT EXISTS."""
    pats = [("?x", RDF_TYPE, f"{S}Article")]
    neg = [([("?y", f"{S}sameAs", "?z")], None)]
    kept = bgp_match(_kg(spark), pats, minus=neg)
    assert kept.count() == 2  # MINUS: disjoint → removes nothing
    gone = bgp_match(_kg(spark), pats, not_exists=neg)
    assert gone.count() == 0  # NOT EXISTS: group matches → all gone
    # and when the probe group matches nothing, NOT EXISTS keeps all
    neg_empty = [([("?y", f"{S}missing", "?z")], None)]
    assert bgp_match(_kg(spark), pats, not_exists=neg_empty).count() == 2


def test_constant_only_exists_group_is_global_probe(spark):
    pats = [("?x", RDF_TYPE, f"{S}Article")]
    present = [([("d3", RDF_TYPE, f"{S}Person")], None)]
    absent = [([("d3", RDF_TYPE, f"{S}Robot")], None)]
    assert bgp_match(_kg(spark), pats, exists=present).count() == 2
    assert bgp_match(_kg(spark), pats, exists=absent).count() == 0
    assert bgp_match(_kg(spark), pats, not_exists=absent).count() == 2
    assert bgp_match(_kg(spark), pats, not_exists=present).count() == 0


def test_exists_applies_after_optional(spark):
    """FILTER placement: EXISTS sees OPTIONAL columns.  Every row
    leaves ?m unbound, so ?m stays FREE in the group (§8.1.1
    substitution) — and the group matches nothing at all here, so
    all rows drop (the free variable finds no binding, NOT because
    unbound 'never matches' — see the substitution tests above)."""
    got = bgp_match(
        _kg(spark), [("?x", RDF_TYPE, f"{S}Article")],
        optionals=[([("?x", f"{S}missing", "?m")], None)],
        exists=[([("?m", f"{S}whatever", "?w")], None)])
    assert got.count() == 0


def test_bind_extends_solutions(spark):
    got = bgp_match(_kg(spark), ARTICLES,
                    binds=[("upper_n", "upper(n)"),
                           ("tagged", "concat(upper_n, '!')")],
                    select=["x", "upper_n", "tagged"])
    assert {(r.x, r.upper_n, r.tagged) for r in got.collect()} == {
        ("d1", "ALPHA", "ALPHA!"), ("d2", "BETA", "BETA!")}


def test_bind_rebinding_raises(spark):
    with pytest.raises(ValueError, match="rebind"):
        bgp_match(_kg(spark), ARTICLES, binds=[("n", "upper(n)")])


def test_bind_var_joins_with_optional(spark):
    """A BIND-created variable participates in OPTIONAL compatibility
    like any other binding (it is in scope before the left join)."""
    got = bgp_match(
        _kg(spark), [("?x", RDF_TYPE, f"{S}Article")],
        binds=[("n", "CASE WHEN x = 'd1' THEN 'alpha' ELSE 'zz' END")],
        optionals=[([("?y", f"{S}name", "?n")], None)],
        select=["x", "n", "y"])
    rows = {(r.x, r.n, r.y) for r in got.collect()}
    assert rows == {("d1", "alpha", "d1"), ("d2", "zz", None)}


@pytest.mark.parametrize("body,join", [
    ("OPTIONAL { ?x schema:isPartOf ?s }", "LeftOuter"),
    ("MINUS { ?x schema:isPartOf ?s }", "LeftAnti"),
    ("FILTER EXISTS { ?x schema:isPartOf ?s }", "LeftSemi"),
    ("FILTER NOT EXISTS { ?x schema:isPartOf ?s }", "LeftAnti"),
    ("{ SELECT ?x ?s WHERE { ?x schema:isPartOf ?s } }", "Inner"),
], ids=["optional", "minus", "exists", "not-exists", "sub-select"])
def test_certain_shared_variables_compile_to_one_plain_join(spark, body,
                                                            join):
    """Shared variables bound in every row of both sides make one
    bound-mask pair: the plan is one plain join, with no Union of mask
    partitions and no checkpoint."""
    from rdfa_streaming_parser_js_spark.operators.sparql import (
        sparql_query)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    got = sparql_query(_kg(spark), (
        f"PREFIX schema: <{S}>\n"
        f"SELECT * WHERE {{ ?x a schema:Article . {body} }}"))
    got.collect()
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan
    assert plan.count("Join ") == 1 and f"Join {join}" in plan
    assert jsc.getPersistentRDDs().size() == before
