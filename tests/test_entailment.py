"""RDFS ρdf materialization (operators/entailment.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from rdfa_streaming_parser_js_spark.operators.entailment import (
    RDF_TYPE, RDFS_DOMAIN, RDFS_RANGE, RDFS_SUBCLASS, RDFS_SUBPROP,
    rdfs_entail)

EX = "http://example.org/"

SCHEMA = ("url string, subj string, subj_kind string, pred string, "
          "obj_value string, obj_kind string, obj_datatype string, "
          "obj_lang string")


def _row(subj, pred, obj, obj_kind="iri"):
    return ("http://p.example/1", subj, "iri", pred, obj, obj_kind,
            None, None)


def _ontology(spark):
    return spark.createDataFrame([
        _row(f"{EX}Article", RDFS_SUBCLASS, f"{EX}CreativeWork"),
        _row(f"{EX}CreativeWork", RDFS_SUBCLASS, f"{EX}Thing"),
        _row(f"{EX}name", RDFS_SUBPROP, f"{EX}label"),
        _row(f"{EX}wrote", RDFS_DOMAIN, f"{EX}Person"),
        _row(f"{EX}wrote", RDFS_RANGE, f"{EX}CreativeWork"),
    ], SCHEMA)


def _spo(df):
    return {(r.subj, r.pred, r.obj_value) for r in df.collect()}


def test_rdfs9_transitive_type_inheritance(spark):
    inst = spark.createDataFrame(
        [_row(f"{EX}d", RDF_TYPE, f"{EX}Article")], SCHEMA)
    got = _spo(rdfs_entail(inst, _ontology(spark)))
    assert got == {(f"{EX}d", RDF_TYPE, f"{EX}Article"),
                   (f"{EX}d", RDF_TYPE, f"{EX}CreativeWork"),
                   (f"{EX}d", RDF_TYPE, f"{EX}Thing")}


def test_rdfs7_property_inheritance_keeps_literal_shape(spark):
    inst = spark.createDataFrame(
        [("u", f"{EX}d", "iri", f"{EX}name", "t", "literal", None, "en")],
        SCHEMA)
    out = rdfs_entail(inst, _ontology(spark))
    lab = out.filter(F.col("pred") == f"{EX}label").collect()
    assert len(lab) == 1
    assert (lab[0].obj_value, lab[0].obj_kind, lab[0].obj_lang) == \
        ("t", "literal", "en")


def test_rdfs2_rdfs3_domain_range_then_subclass(spark):
    # wrote: domain Person, range CreativeWork; the range-derived type
    # must then climb the class hierarchy (stratified completeness)
    inst = spark.createDataFrame(
        [_row(f"{EX}alice", f"{EX}wrote", f"{EX}book")], SCHEMA)
    got = _spo(rdfs_entail(inst, _ontology(spark)))
    assert (f"{EX}alice", RDF_TYPE, f"{EX}Person") in got
    assert (f"{EX}book", RDF_TYPE, f"{EX}CreativeWork") in got
    assert (f"{EX}book", RDF_TYPE, f"{EX}Thing") in got  # via rdfs9


def test_rdfs3_skips_literal_objects(spark):
    ont = spark.createDataFrame(
        [_row(f"{EX}name", RDFS_RANGE, f"{EX}Text")], SCHEMA)
    inst = spark.createDataFrame(
        [_row(f"{EX}d", f"{EX}name", "plain", obj_kind="literal")],
        SCHEMA)
    out = rdfs_entail(inst, ont)
    assert out.filter(F.col("pred") == RDF_TYPE).count() == 0


def test_subprop_then_domain_chain(spark):
    # x P y, P subProp Q, domain(Q)=C  =>  x type C  (rdfs7 feeds rdfs2)
    ont = spark.createDataFrame([
        _row(f"{EX}P", RDFS_SUBPROP, f"{EX}Q"),
        _row(f"{EX}Q", RDFS_DOMAIN, f"{EX}C"),
    ], SCHEMA)
    inst = spark.createDataFrame([_row(f"{EX}x", f"{EX}P", f"{EX}y")],
                                 SCHEMA)
    got = _spo(rdfs_entail(inst, ont))
    assert (f"{EX}x", f"{EX}Q", f"{EX}y") in got
    assert (f"{EX}x", RDF_TYPE, f"{EX}C") in got


def test_derived_rows_inherit_provenance_and_schema(spark):
    inst = spark.createDataFrame(
        [_row(f"{EX}d", RDF_TYPE, f"{EX}Article")], SCHEMA)
    out = rdfs_entail(inst, _ontology(spark))
    assert out.columns == inst.columns
    assert {r.url for r in out.collect()} == {"http://p.example/1"}


def test_ontology_never_iterated_per_instance_row(spark):
    # plan shape: both hierarchy joins are broadcast (the instance
    # side is never shuffled by the materialization)
    inst = spark.createDataFrame(
        [_row(f"{EX}d", RDF_TYPE, f"{EX}Article")], SCHEMA)
    plan = (rdfs_entail(inst, _ontology(spark))
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --------------------------------------------------------------------
# OWL property rules (owl_entail)
# --------------------------------------------------------------------

from rdfa_streaming_parser_js_spark.operators.entailment import (  # noqa: E402
    OWL_INVERSE, OWL_SYMMETRIC, OWL_TRANSITIVE, owl_entail)

GSCHEMA = ("subj string, subj_kind string, pred string, obj_value "
           "string, obj_kind string, obj_datatype string, obj_lang "
           "string")


def _g(spark, rows):
    return spark.createDataFrame(rows, GSCHEMA)


def _t(s, p, o, sk="iri", ok="iri", dt=None, lang=None):
    return (s, sk, p, o, ok, dt, lang)


def _owl_ont(spark, *rows):
    return spark.createDataFrame(
        [("o", s, "iri", p, o, "iri", None, None) for s, p, o in rows],
        "url string, subj string, subj_kind string, pred string,"
        " obj_value string, obj_kind string, obj_datatype string,"
        " obj_lang string")


def test_owl_inverse_both_directions(spark):
    g = _g(spark, [_t("d1", f"{EX}isPartOf", "src"),
                   _t("src2", f"{EX}hasPart", "d2")])
    ont = _owl_ont(spark, (f"{EX}isPartOf", OWL_INVERSE, f"{EX}hasPart"))
    got = _spo(owl_entail(g, ont))
    assert ("src", f"{EX}hasPart", "d1") in got
    assert ("d2", f"{EX}isPartOf", "src2") in got
    assert len(got) == 4


def test_owl_inverse_skips_literal_objects(spark):
    g = _g(spark, [_t("d1", f"{EX}isPartOf", "plain", ok="literal")])
    ont = _owl_ont(spark, (f"{EX}isPartOf", OWL_INVERSE, f"{EX}hasPart"))
    assert _spo(owl_entail(g, ont)) == {("d1", f"{EX}isPartOf", "plain")}


def test_owl_symmetric(spark):
    g = _g(spark, [_t("a", f"{EX}knows", "b")])
    ont = _owl_ont(spark, (f"{EX}knows", RDF_TYPE, OWL_SYMMETRIC))
    got = _spo(owl_entail(g, ont))
    assert got == {("a", f"{EX}knows", "b"), ("b", f"{EX}knows", "a")}


def test_owl_transitive_chain_and_metadata(spark):
    g = _g(spark, [
        _t("a", f"{EX}within", "b", ok="bnode"),
        _t("b", f"{EX}within", "c", sk="bnode"),
        _t("c", f"{EX}within", "seven", ok="literal",
           dt="http://www.w3.org/2001/XMLSchema#integer"),
        _t("a", f"{EX}other", "z"),
    ], )
    ont = _owl_ont(spark, (f"{EX}within", RDF_TYPE, OWL_TRANSITIVE))
    out = owl_entail(g, ont)
    got = _spo(out)
    assert ("a", f"{EX}within", "c") in got
    assert ("a", f"{EX}within", "seven") in got  # composed to terminal
    assert ("b", f"{EX}within", "seven") in got
    assert ("a", f"{EX}other", "z") in got
    assert len(got) == 7
    # composed endpoints keep the slice's term metadata
    row = {(r.subj, r.obj_value): (r.subj_kind, r.obj_kind,
                                   r.obj_datatype)
           for r in out.collect()}
    assert row[("a", "b")] == ("iri", "bnode", None)
    assert row[("a", "seven")] == (
        "iri", "literal", "http://www.w3.org/2001/XMLSchema#integer")
    assert row[("b", "seven")][0] == "bnode"


def test_owl_inverse_of_transitive_is_closed(spark):
    # P transitive, P inverseOf Q: Q must contain the inverse of P's
    # CLOSURE (swap pass 2), and edges asserted on Q feed P's closure
    # (swap pass 1 before closing)
    g = _g(spark, [_t("a", f"{EX}anc", "b"),
                   _t("c", f"{EX}desc", "b")])  # i.e. b anc c
    ont = _owl_ont(spark,
                   (f"{EX}anc", RDF_TYPE, OWL_TRANSITIVE),
                   (f"{EX}anc", OWL_INVERSE, f"{EX}desc"))
    got = _spo(owl_entail(g, ont))
    assert ("a", f"{EX}anc", "c") in got       # via the inverted edge
    assert ("c", f"{EX}desc", "a") in got      # inverse of the closure
    assert ("b", f"{EX}anc", "c") in got
    assert ("b", f"{EX}desc", "a") in got


def test_owl_empty_ontology_is_identity_set(spark):
    g = _g(spark, [_t("a", f"{EX}p", "b"), _t("a", f"{EX}p", "b")])
    got = owl_entail(g, _owl_ont(spark))
    assert got.count() == 1  # set semantics


def test_owl_requires_full_schema(spark):
    import pytest
    thin = _g(spark, [_t("a", f"{EX}p", "b")]).select("subj", "pred")
    with pytest.raises(ValueError, match="term schema"):
        owl_entail(thin, _owl_ont(spark))


def test_rdfs_entail_leaves_nothing_persisted(spark):
    """Every checkpoint ``rdfs_entail`` takes (the ontology closures) is
    released by the loop or tracked: after ``release_tracked()`` no RDD
    persisted by the call remains."""
    from rdfa_streaming_parser_js_spark.operators.storage import (
        release_tracked)
    jsc = spark.sparkContext._jsc

    def persisted():
        return frozenset(int(k) for k in
                         jsc.getPersistentRDDs().keySet().toArray())

    onto = spark.createDataFrame([
        _row(f"{EX}Article", RDFS_SUBCLASS, f"{EX}CreativeWork"),
        _row(f"{EX}CreativeWork", RDFS_SUBCLASS, f"{EX}Thing"),
    ], SCHEMA)
    inst = spark.createDataFrame(
        [_row(f"{EX}d", RDF_TYPE, f"{EX}Article")], SCHEMA)
    before = persisted()
    got = _spo(rdfs_entail(inst, onto))
    release_tracked()
    assert (f"{EX}d", RDF_TYPE, f"{EX}Thing") in got
    assert persisted() - before == frozenset()
