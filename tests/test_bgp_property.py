"""Property-based BGP compiler validation: bgp_match (Catalyst join
plans) must agree — in SPARQL bag semantics, multiplicities included —
with a naive nested-loop evaluator over random small graphs and random
basic graph patterns."""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from rdfa_streaming_parser_js_spark.operators.bgp import bgp_match

SUBJECTS = ["s0", "s1", "s2", "s3"]
PREDS = ["p0", "p1", "p2"]
OBJECTS = SUBJECTS + ["lit-a", "lit-b"]
VARS = ["?a", "?b", "?c"]


@st.composite
def graph_and_bgp(draw):
    triples = draw(st.lists(
        st.tuples(st.sampled_from(SUBJECTS), st.sampled_from(PREDS),
                  st.sampled_from(OBJECTS)),
        min_size=1, max_size=14))
    n_patterns = draw(st.integers(1, 3))
    patterns = []
    for _ in range(n_patterns):
        s = draw(st.sampled_from(VARS + SUBJECTS))
        p = draw(st.sampled_from(VARS + PREDS))
        o = draw(st.sampled_from(VARS + OBJECTS))
        if not any(t.startswith("?") for t in (s, p, o)):
            s = draw(st.sampled_from(VARS))  # each pattern binds a var
        patterns.append((s, p, o))
    return triples, patterns


def naive_bgp(triples, patterns):
    """Reference evaluator: per-pattern bindings with multiplicity,
    nested-loop natural join — SPARQL §18.3 bag semantics."""
    solutions = [dict()]
    for s, p, o in patterns:
        new = []
        for sol in solutions:
            for ts, tp, to in triples:
                binding = dict(sol)
                ok = True
                for term, val in ((s, ts), (p, tp), (o, to)):
                    if term.startswith("?"):
                        name = term[1:]
                        if name in binding and binding[name] != val:
                            ok = False
                            break
                        binding[name] = val
                    elif term != val:
                        ok = False
                        break
                if ok:
                    new.append(binding)
        solutions = new
    return solutions


@given(graph_and_bgp())
@settings(max_examples=25, deadline=None)
def test_bgp_match_agrees_with_naive_evaluator(spark, case):
    triples, patterns = case
    df = spark.createDataFrame(
        triples, "subj string, pred string, obj_value string")
    got_rows = bgp_match(df, patterns).collect()
    want = naive_bgp(triples, patterns)
    var_names = sorted({t[1:] for pat in patterns for t in pat
                        if t.startswith("?")})
    got = Counter(tuple(getattr(r, v) for v in var_names)
                  for r in got_rows)
    expect = Counter(tuple(sol[v] for v in var_names) for sol in want)
    assert got == expect


@st.composite
def graph_bgp_and_negation(draw):
    """A graph, a required BGP, and one negation group (for MINUS /
    NOT EXISTS / EXISTS cross-validation) — the negation group may or
    may not share variables with the required group."""
    triples, patterns = draw(graph_and_bgp())
    s = draw(st.sampled_from(VARS + SUBJECTS))
    p = draw(st.sampled_from(VARS + PREDS))
    o = draw(st.sampled_from(VARS + OBJECTS))
    return triples, patterns, [(s, p, o)]


def _shared_vars(patterns, group):
    pv = {t[1:] for pat in patterns for t in pat if t.startswith("?")}
    gv = {t[1:] for pat in group for t in pat if t.startswith("?")}
    return sorted(pv & gv)


@given(graph_bgp_and_negation())
@settings(max_examples=20, deadline=None)
def test_exists_not_exists_agree_with_naive(spark, case):
    """FILTER (NOT) EXISTS vs the naive evaluator: a solution survives
    EXISTS iff some group solution agrees on the shared variables
    (globally non-empty when disjoint); NOT EXISTS is the complement.
    Multiplicities must be preserved exactly (semi/anti join)."""
    triples, patterns, group = case
    df = spark.createDataFrame(
        triples, "subj string, pred string, obj_value string")
    var_names = sorted({t[1:] for pat in patterns for t in pat
                        if t.startswith("?")})
    shared = _shared_vars(patterns, group)
    inner = naive_bgp(triples, group)
    outer = naive_bgp(triples, patterns)

    def match(sol):
        if not shared:
            return bool(inner)
        return any(all(g[v] == sol[v] for v in shared) for g in inner)

    for negate in (False, True):
        kw = {"not_exists": [(group, None)]} if negate else \
             {"exists": [(group, None)]}
        got_rows = bgp_match(df, patterns, **kw).collect()
        got = Counter(tuple(getattr(r, v) for v in var_names)
                      for r in got_rows)
        expect = Counter(
            tuple(sol[v] for v in var_names)
            for sol in outer if match(sol) != negate)
        assert got == expect, (patterns, group, negate)


@st.composite
def graph_bgp_and_values(draw):
    triples, patterns = draw(graph_and_bgp())
    bgp_vars = sorted({t[1:] for pat in patterns for t in pat
                       if t.startswith("?")})
    value_vars = draw(st.lists(
        st.sampled_from(bgp_vars + ["w"]), min_size=1, max_size=2,
        unique=True))
    rows = draw(st.lists(
        st.fixed_dictionaries({
            v: st.one_of(st.none(),
                         st.sampled_from(SUBJECTS + PREDS + OBJECTS))
            for v in value_vars}),
        min_size=1, max_size=4))
    return triples, patterns, rows


@given(graph_bgp_and_values())
@settings(max_examples=20, deadline=None)
def test_values_agrees_with_naive_join(spark, case):
    """VALUES vs the naive evaluator: SPARQL Join(Ω, data) with UNDEF
    compatible with anything, bag multiplicities included."""
    triples, patterns, rows = case
    df = spark.createDataFrame(
        triples, "subj string, pred string, obj_value string")
    bgp_vars = sorted({t[1:] for pat in patterns for t in pat
                       if t.startswith("?")})
    all_vars = sorted(set(bgp_vars) | {v for r in rows for v in r})
    outer = naive_bgp(triples, patterns)
    expect = Counter()
    for sol in outer:
        for r in rows:
            if all(r[v] is None or v not in sol or r[v] == sol[v]
                   for v in r):
                merged = dict(sol)
                merged.update({v: x for v, x in r.items()
                               if x is not None and v not in sol})
                expect[tuple(merged.get(v) for v in all_vars)] += 1
    got_rows = bgp_match(df, patterns, values=rows).collect()
    got = Counter(tuple(getattr(r, v) for v in all_vars)
                  for r in got_rows)
    assert got == expect, (patterns, rows)


# ---------------------------------------------------------------------
# nested groups (GroupSpec recursion)
# ---------------------------------------------------------------------

def _compatible(s1: dict, s2: dict) -> bool:
    """SPARQL §18.3 solution compatibility: agree on the common BOUND
    variables (a variable absent from a mapping is unbound and
    compatible with anything)."""
    return all(s1[k] == s2[k] for k in s1.keys() & s2.keys())


def _left_join(outer: list[dict], inner: list[dict]) -> list[dict]:
    """SPARQL LeftJoin(Ω1, Ω2) with no expression — bag semantics."""
    out = []
    for s in outer:
        matched = [i for i in inner if _compatible(s, i)]
        if matched:
            out.extend({**s, **i} for i in matched)
        else:
            out.append(dict(s))
    return out


@st.composite
def graph_and_nested_optional(draw):
    """Required BGP over ?a/?b, an OPTIONAL group over ?a/?c that
    itself nests an OPTIONAL over ?c/?d.  The variable pools guarantee
    every enclosing equi-join key is bound by the joined group's
    required patterns (certain), so the compiled plan never trips the
    join-key guard and must agree with the naive evaluator exactly."""
    triples = draw(st.lists(
        st.tuples(st.sampled_from(SUBJECTS), st.sampled_from(PREDS),
                  st.sampled_from(OBJECTS)),
        min_size=1, max_size=14))
    req = [("?a", draw(st.sampled_from(PREDS)),
            draw(st.sampled_from(["?b"] + OBJECTS)))]
    if draw(st.booleans()):
        req.append(("?a", draw(st.sampled_from(PREDS + ["?b"])),
                    draw(st.sampled_from(OBJECTS))))
    outer = [("?a", draw(st.sampled_from(PREDS)), "?c")]
    inner = [("?c", draw(st.sampled_from(PREDS)),
              draw(st.sampled_from(["?d"] + OBJECTS)))]
    return triples, req, outer, inner


@given(graph_and_nested_optional())
@settings(max_examples=20, deadline=None)
def test_nested_optional_agrees_with_naive(spark, case):
    """OPTIONAL { P1 OPTIONAL { P2 } } = LeftJoin(req,
    LeftJoin(P1, P2)) — SPARQL §18.5 bottom-up, bag semantics."""
    from rdfa_streaming_parser_js_spark.operators.bgp import GroupSpec
    triples, req, outer, inner = case
    df = spark.createDataFrame(
        triples, "subj string, pred string, obj_value string")
    spec = GroupSpec(patterns=outer,
                     optionals=[GroupSpec(patterns=inner)])
    got_rows = bgp_match(df, req, optionals=[spec]).collect()
    want = _left_join(
        naive_bgp(triples, req),
        _left_join(naive_bgp(triples, outer), naive_bgp(triples, inner)))
    all_vars = sorted({t[1:] for pats in (req, outer, inner)
                       for pat in pats for t in pat
                       if t.startswith("?")})
    got = Counter(tuple(getattr(r, v) for v in all_vars)
                  for r in got_rows)
    expect = Counter(tuple(sol.get(v) for v in all_vars) for sol in want)
    assert got == expect, (req, outer, inner)


@st.composite
def graph_and_union_optional(draw):
    """OPTIONAL { {A} UNION {B} } where both branches bind ?a and ?c
    (so the enclosing join keys are certain in every branch)."""
    triples = draw(st.lists(
        st.tuples(st.sampled_from(SUBJECTS), st.sampled_from(PREDS),
                  st.sampled_from(OBJECTS)),
        min_size=1, max_size=14))
    req = [("?a", draw(st.sampled_from(PREDS)),
            draw(st.sampled_from(["?b"] + OBJECTS)))]
    b1 = [("?a", draw(st.sampled_from(PREDS)), "?c")]
    b2 = [("?a", draw(st.sampled_from(PREDS)), "?c"),
          ("?c", draw(st.sampled_from(PREDS)),
           draw(st.sampled_from(OBJECTS)))]
    return triples, req, b1, b2


@given(graph_and_union_optional())
@settings(max_examples=20, deadline=None)
def test_union_inside_optional_agrees_with_naive(spark, case):
    """OPTIONAL { {A} UNION {B} } = LeftJoin(req, Union(A, B)) —
    branch solutions stack with bag multiplicity before the left
    join."""
    from rdfa_streaming_parser_js_spark.operators.bgp import GroupSpec
    triples, req, b1, b2 = case
    df = spark.createDataFrame(
        triples, "subj string, pred string, obj_value string")
    spec = GroupSpec(union=[GroupSpec(patterns=b1),
                            GroupSpec(patterns=b2)])
    got_rows = bgp_match(df, req, optionals=[spec]).collect()
    want = _left_join(naive_bgp(triples, req),
                      naive_bgp(triples, b1) + naive_bgp(triples, b2))
    all_vars = sorted({t[1:] for pats in (req, b1, b2)
                       for pat in pats for t in pat
                       if t.startswith("?")})
    got = Counter(tuple(getattr(r, v) for v in all_vars)
                  for r in got_rows)
    expect = Counter(tuple(sol.get(v) for v in all_vars) for sol in want)
    assert got == expect, (req, b1, b2)


# ---------------------------------------------------------------------
# maybe-unbound shared variables (bound-mask compatibility joins)
# ---------------------------------------------------------------------

@st.composite
def graph_and_uncertain_optional(draw):
    """Required BGP binds ?a and ?b; the OPTIONAL group binds ?a/?c in
    its required pattern and ?b only under its NESTED optional — so
    the enclosing join key ?b is maybe-unbound in the group and the
    compiled plan must take the bound-mask compatibility path."""
    triples = draw(st.lists(
        st.tuples(st.sampled_from(SUBJECTS), st.sampled_from(PREDS),
                  st.sampled_from(OBJECTS)),
        min_size=1, max_size=14))
    req = [("?a", draw(st.sampled_from(PREDS)), "?b")]
    outer = [("?a", draw(st.sampled_from(PREDS)), "?c")]
    inner = [("?c", draw(st.sampled_from(PREDS)), "?b")]
    return triples, req, outer, inner


@given(graph_and_uncertain_optional())
@settings(max_examples=20, deadline=None)
def test_uncertain_optional_agrees_with_naive(spark, case):
    """LeftJoin with a maybe-unbound shared variable: SPARQL §18.3
    compatibility (unbound matches anything), bag multiplicities —
    vs the naive evaluator."""
    from rdfa_streaming_parser_js_spark.operators.bgp import GroupSpec
    triples, req, outer, inner = case
    df = spark.createDataFrame(
        triples, "subj string, pred string, obj_value string")
    spec = GroupSpec(patterns=outer,
                     optionals=[GroupSpec(patterns=inner)])
    got_rows = bgp_match(df, req, optionals=[spec]).collect()
    want = _left_join(
        naive_bgp(triples, req),
        _left_join(naive_bgp(triples, outer), naive_bgp(triples, inner)))
    all_vars = sorted({t[1:] for pats in (req, outer, inner)
                       for pat in pats for t in pat
                       if t.startswith("?")})
    got = Counter(tuple(getattr(r, v) for v in all_vars)
                  for r in got_rows)
    expect = Counter(tuple(sol.get(v) for v in all_vars) for sol in want)
    assert got == expect, (req, outer, inner)


def _naive_minus(outer: list[dict], inner: list[dict]) -> list[dict]:
    """SPARQL §18.5 Minus: drop μ1 when some μ2 is compatible AND
    their domains overlap (row-level, §8.3.3)."""
    return [s for s in outer
            if not any(_compatible(s, i) and (s.keys() & i.keys())
                       for i in inner)]


@st.composite
def graph_and_uncertain_minus(draw):
    """MINUS { {A} UNION {B} } where the branches bind DIFFERENT
    variable subsets — both enclosing join keys are maybe-unbound, and
    branch rows binding neither shared variable must remove nothing
    (disjoint domains)."""
    triples = draw(st.lists(
        st.tuples(st.sampled_from(SUBJECTS), st.sampled_from(PREDS),
                  st.sampled_from(OBJECTS)),
        min_size=1, max_size=14))
    req = [("?a", draw(st.sampled_from(PREDS)), "?b")]
    b1 = [("?a", draw(st.sampled_from(PREDS)),
           draw(st.sampled_from(OBJECTS + ["?x"])))]
    b2 = [("?b", draw(st.sampled_from(PREDS)),
           draw(st.sampled_from(OBJECTS + ["?y"])))]
    b3 = [(draw(st.sampled_from(SUBJECTS)),
           draw(st.sampled_from(PREDS)), "?z")]
    return triples, req, b1, b2, b3


@given(graph_and_uncertain_minus())
@settings(max_examples=20, deadline=None)
def test_uncertain_minus_agrees_with_naive(spark, case):
    from rdfa_streaming_parser_js_spark.operators.bgp import GroupSpec
    triples, req, b1, b2, b3 = case
    df = spark.createDataFrame(
        triples, "subj string, pred string, obj_value string")
    spec = GroupSpec(union=[GroupSpec(patterns=b) for b in (b1, b2, b3)])
    got_rows = bgp_match(df, req, minus=[spec]).collect()
    want = _naive_minus(
        naive_bgp(triples, req),
        naive_bgp(triples, b1) + naive_bgp(triples, b2)
        + naive_bgp(triples, b3))
    got = Counter((r.a, r.b) for r in got_rows)
    expect = Counter((sol["a"], sol["b"]) for sol in want)
    assert got == expect, (req, b1, b2, b3)


@st.composite
def graph_and_two_sided_optional(draw):
    """?x is maybe-unbound on BOTH sides: the enclosing solution gets
    it from a flat OPTIONAL, the GroupSpec group binds it only under
    its own nested OPTIONAL — mask pairs on both sides.  The second
    group is also drawn flat (``flat2``), binding ?x in its required
    pattern: only the enclosing side is maybe-unbound there, and a
    flat tuple entry must get the same §18.3 compatibility."""
    triples = draw(st.lists(
        st.tuples(st.sampled_from(SUBJECTS), st.sampled_from(PREDS),
                  st.sampled_from(OBJECTS)),
        min_size=1, max_size=14))
    req = [("?a", draw(st.sampled_from(PREDS)), "?b")]
    flat = [("?a", draw(st.sampled_from(PREDS)), "?x")]
    outer = [("?a", draw(st.sampled_from(PREDS)), "?c")]
    inner = [("?c", draw(st.sampled_from(PREDS)), "?x")]
    flat2 = [("?a", draw(st.sampled_from(PREDS)), "?x")]
    return triples, req, flat, outer, inner, flat2


def _second_groups(triples, outer, inner, flat2):
    """The two forms of the second group, each with its naive
    solutions: the nested GroupSpec and the flat tuple entry."""
    from rdfa_streaming_parser_js_spark.operators.bgp import GroupSpec
    spec = GroupSpec(patterns=outer,
                     optionals=[GroupSpec(patterns=inner)])
    return [(spec, _left_join(naive_bgp(triples, outer),
                              naive_bgp(triples, inner))),
            ((flat2, None), naive_bgp(triples, flat2))]


@given(graph_and_two_sided_optional())
@settings(max_examples=20, deadline=None)
def test_two_sided_optional_agrees_with_naive(spark, case):
    triples, req, flat, outer, inner, flat2 = case
    df = spark.createDataFrame(
        triples, "subj string, pred string, obj_value string")
    for second, group_sols in _second_groups(triples, outer, inner,
                                             flat2):
        got_rows = bgp_match(df, req,
                             optionals=[(flat, None), second]).collect()
        want = _left_join(
            _left_join(naive_bgp(triples, req), naive_bgp(triples, flat)),
            group_sols)
        all_vars = ["a", "b", "c", "x"]
        got = Counter(tuple(r.asDict().get(v) for v in all_vars)
                      for r in got_rows)
        expect = Counter(tuple(sol.get(v) for v in all_vars)
                         for sol in want)
        assert got == expect, (req, flat, second)


@given(graph_and_two_sided_optional())
@settings(max_examples=15, deadline=None)
def test_two_sided_minus_agrees_with_naive(spark, case):
    triples, req, flat, outer, inner, flat2 = case
    df = spark.createDataFrame(
        triples, "subj string, pred string, obj_value string")
    for second, group_sols in _second_groups(triples, outer, inner,
                                             flat2):
        got_rows = bgp_match(df, req, optionals=[(flat, None)],
                             minus=[second]).collect()
        want = _naive_minus(
            _left_join(naive_bgp(triples, req), naive_bgp(triples, flat)),
            group_sols)
        got = Counter((r.a, r.b, r.x) for r in got_rows)
        expect = Counter((sol["a"], sol["b"], sol.get("x"))
                         for sol in want)
        assert got == expect, (req, flat, second)


# ---------------------------------------------------------------------
# EXISTS substitution semantics over maybe-unbound ENCLOSING variables
# ---------------------------------------------------------------------

def _substitute(sol: dict, patterns: list) -> list:
    """SPARQL §18.6 ``substitute()``: replace each variable the
    solution binds with its value; unbound variables stay free."""
    return [tuple(sol[t[1:]]
                  if t.startswith("?") and sol.get(t[1:]) is not None
                  else t for t in pat)
            for pat in patterns]


@st.composite
def graph_exists_uncertain_outer(draw):
    """Required BGP binds ?a/?b; one or two OPTIONALs introduce
    maybe-unbound ?c (and sometimes ?d); the EXISTS group correlates
    on them through its own REQUIRED patterns — so the compiled plan
    must take the enclosing-side bound-mask substitution path."""
    triples = draw(st.lists(
        st.tuples(st.sampled_from(SUBJECTS), st.sampled_from(PREDS),
                  st.sampled_from(OBJECTS)),
        min_size=1, max_size=14))
    req = [("?a", draw(st.sampled_from(PREDS)),
            draw(st.sampled_from(["?b"] + OBJECTS)))]
    opt = [("?a", draw(st.sampled_from(PREDS)), "?c")]
    if draw(st.booleans()):  # two uncertain correlation vars (4 masks)
        opt2 = [("?a", draw(st.sampled_from(PREDS)), "?d")]
        group = [("?c", draw(st.sampled_from(PREDS)), "?d")]
    else:
        opt2 = None
        group = [("?c", draw(st.sampled_from(PREDS)),
                  draw(st.sampled_from(["?e"] + OBJECTS)))]
    return triples, req, opt, opt2, group


@given(graph_exists_uncertain_outer())
@settings(max_examples=20, deadline=None)
def test_exists_substitution_agrees_with_naive(spark, case):
    """FILTER [NOT] EXISTS with maybe-unbound enclosing correlation:
    per SPARQL §8.1.1 the row's BOUND variables are substituted into
    the group (§18.6) and unbound ones stay FREE — a row keeping ?c
    unbound passes EXISTS iff the group matches at all.  Verified
    against a naive substitution evaluator, bag multiplicities
    exact."""
    triples, req, opt, opt2, group = case
    df = spark.createDataFrame(
        triples, "subj string, pred string, obj_value string")
    outer = _left_join(naive_bgp(triples, req), naive_bgp(triples, opt))
    if opt2:
        outer = _left_join(outer, naive_bgp(triples, opt2))

    def match(sol):
        return bool(naive_bgp(triples, _substitute(sol, group)))

    all_vars = sorted({t[1:] for pats in ([req, opt] +
                                          ([opt2] if opt2 else []))
                       for pat in pats for t in pat
                       if t.startswith("?")})
    optionals = [(opt, None)] + ([(opt2, None)] if opt2 else [])
    for negate in (False, True):
        kw = {"not_exists": [(group, None)]} if negate else \
             {"exists": [(group, None)]}
        got_rows = bgp_match(df, req, optionals=optionals,
                             **kw).collect()
        got = Counter(tuple(getattr(r, v) for v in all_vars)
                      for r in got_rows)
        expect = Counter(
            tuple(sol.get(v) for v in all_vars)
            for sol in outer if match(sol) != negate)
        assert got == expect, (req, opt, opt2, group, negate)
