"""SHACL-lite shape validation (operators/validate.py)."""

import pytest
from pyspark.sql import functions as F

from rdfa_streaming_parser_js_spark.operators.validate import (
    PropertyShape, RDF_TYPE, conforms, shacl_report)

S = "http://schema.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"

COLS = ("subj string, pred string, obj_value string, obj_kind string, "
        "obj_datatype string, obj_lang string")


def _kg(spark):
    rows = [
        # d1: conforming article
        ("d1", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d1", f"{S}name", "alpha", "literal", None, "en"),
        ("d1", f"{S}wordCount", "10", "literal", f"{XSD}integer", None),
        ("d1", f"{S}isPartOf", "http://src/a", "iri", None, None),
        # d2: missing name (minCount), two wordCounts (maxCount), one of
        # them a plain literal (datatype), literal isPartOf (nodeKind)
        ("d2", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d2", f"{S}wordCount", "7", "literal", f"{XSD}integer", None),
        ("d2", f"{S}wordCount", "seven", "literal", None, None),
        ("d2", f"{S}isPartOf", "just text", "literal", None, None),
        # d3: not an Article — never a focus node, violates nothing
        ("d3", RDF_TYPE, f"{S}Person", "iri", None, None),
    ]
    return spark.createDataFrame(rows, COLS)


SHAPES = [
    PropertyShape("sh:name", f"{S}Article", f"{S}name", min_count=1,
                  max_count=1),
    PropertyShape("sh:wc", f"{S}Article", f"{S}wordCount", max_count=1,
                  datatype=f"{XSD}integer", pattern="^[0-9]+$"),
    PropertyShape("sh:src", f"{S}Article", f"{S}isPartOf",
                  node_kind="iri"),
]


def test_shacl_report_components(spark):
    rep = shacl_report(_kg(spark), SHAPES)
    got = {(r.focus, r.shape_id, r.constraint, r.value)
           for r in rep.collect()}
    assert got == {
        ("d2", "sh:name", "minCount", "0"),
        ("d2", "sh:wc", "maxCount", "2"),
        ("d2", "sh:wc", "datatype", "seven"),
        ("d2", "sh:wc", "pattern", "seven"),
        ("d2", "sh:src", "nodeKind", "just text"),
    }


def test_conforms_and_clean_subset(spark):
    kg = _kg(spark).filter(F.col("subj") != "d2")
    assert conforms(kg, SHAPES)
    assert not conforms(_kg(spark), SHAPES)


def test_min_count_zero_is_vacuous_and_in_values(spark):
    # sh:opt's path exists on no focus: an absent focus has no value
    # for the row-local components to reject
    shapes = [
        PropertyShape("sh:opt", f"{S}Article", f"{S}missing",
                      min_count=0, datatype=f"{XSD}integer",
                      node_kind="iri", in_values=("x",), pattern="^x$",
                      min_length=3, max_length=5, language_in=("en",),
                      class_=f"{S}WebSite"),
        PropertyShape("sh:lang", f"{S}Article", f"{S}name",
                      in_values=("beta", "gamma")),
    ]
    rep = shacl_report(_kg(spark), shapes).collect()
    assert {(r.shape_id, r.focus, r.value) for r in rep} == {
        ("sh:lang", "d1", "alpha")}


def test_value_nodes_are_a_set(spark):
    """A triple that several pages (url rows) assert is ONE value node:
    it neither inflates the count nor repeats a row-local violation."""
    rows = [(url, *t) for url in ("u1", "u2") for t in (
        ("d1", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d1", f"{S}name", "alpha", "literal", None, "en"),
        ("d2", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d2", f"{S}wordCount", "seven", "literal", None, None))]
    kg = spark.createDataFrame(rows, "url string, " + COLS)
    shapes = [
        PropertyShape("sh:name", f"{S}Article", f"{S}name", max_count=1,
                      unique_lang=True),
        PropertyShape("sh:wc", f"{S}Article", f"{S}wordCount",
                      max_count=1, datatype=f"{XSD}integer"),
    ]
    got = [(r.focus, r.shape_id, r.constraint, r.value)
           for r in shacl_report(kg, shapes).collect()]
    assert got == [("d2", "sh:wc", "datatype", "seven")]


def test_report_is_lazy(spark):
    """Building the report runs no Spark job; consuming it does."""
    sc = spark.sparkContext
    sc.setJobGroup("shacl-lazy", "build the SHACL report")
    try:
        rep = shacl_report(_kg2(spark), SHAPES2)
        assert list(sc.statusTracker().getJobIdsForGroup("shacl-lazy")) == []
        rep.collect()
        assert list(sc.statusTracker().getJobIdsForGroup("shacl-lazy"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_empty_shapes_empty_report(spark):
    rep = shacl_report(_kg(spark), [])
    assert rep.columns == ["focus", "shape_id", "constraint", "path",
                           "value", "detail"]
    assert rep.count() == 0


def test_report_plan_filters_pred_before_join(spark):
    """The value-row join input must be the property slice (pred filter
    pushed below the join), not the whole graph."""
    rep = shacl_report(_kg(spark), SHAPES[:1])
    plan = rep._jdf.queryExecution().optimizedPlan().toString()
    assert "isnotnull(pred" in plan


def _kg2(spark):
    rows = [
        ("d1", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d1", f"{S}name", "alpha", "literal", None, "en"),
        ("d1", f"{S}name", "alfa", "literal", None, "es"),
        ("d1", f"{S}inLanguage", "en", "literal", None, None),
        ("d1", f"{S}isPartOf", "http://src/a", "iri", None, None),
        ("http://src/a", RDF_TYPE, f"{S}WebSite", "iri", None, None),
        # d2: short name, duplicated EN names, wrong hasValue, isPartOf
        # points at an UNTYPED node, name lang outside languageIn
        ("d2", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d2", f"{S}name", "x", "literal", None, "fr"),
        ("d2", f"{S}name", "long enough name", "literal", None, "en"),
        ("d2", f"{S}name", "another en name", "literal", None, "EN"),
        ("d2", f"{S}inLanguage", "fr", "literal", None, None),
        ("d2", f"{S}isPartOf", "http://src/b", "iri", None, None),
        # d3: no inLanguage at all (hasValue absent-focus case)
        ("d3", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d3", f"{S}isPartOf", "plain text", "literal", None, None),
    ]
    return spark.createDataFrame(rows, COLS)


SHAPES2 = [
    PropertyShape("sh:name2", f"{S}Article", f"{S}name", min_length=2,
                  max_length=30, language_in=("en", "ES"),
                  unique_lang=True),
    PropertyShape("sh:lang2", f"{S}Article", f"{S}inLanguage",
                  has_value="en"),
    PropertyShape("sh:src2", f"{S}Article", f"{S}isPartOf",
                  class_=f"{S}WebSite"),
]


def test_shacl_extended_components(spark):
    rep = shacl_report(_kg2(spark), SHAPES2).collect()
    got = {(r.focus, r.shape_id, r.constraint, r.value) for r in rep}
    assert [r.detail for r in rep if r.constraint == "uniqueLang"] == [
        "uniqueLang (2 values)"]
    assert got == {
        # d2 name "x" too short; fr not in languageIn; two en-tagged
        # names (case-insensitive) break uniqueLang
        ("d2", "sh:name2", "minLength", "x"),
        ("d2", "sh:name2", "languageIn", "fr"),
        ("d2", "sh:name2", "uniqueLang", "en"),
        # d2 inLanguage=fr misses hasValue en; d3 has NO inLanguage
        ("d2", "sh:lang2", "hasValue", "(absent)"),
        ("d3", "sh:lang2", "hasValue", "(absent)"),
        # d2's source untyped; d3's a literal — both violate sh:class
        ("d2", "sh:src2", "class", "http://src/b"),
        ("d3", "sh:src2", "class", "plain text"),
    }


def test_shacl_extended_conforming_graph_is_silent(spark):
    rows = [
        ("d1", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d1", f"{S}name", "alpha", "literal", None, "en"),
        ("d1", f"{S}inLanguage", "en", "literal", None, None),
        ("d1", f"{S}isPartOf", "http://src/a", "iri", None, None),
        ("http://src/a", RDF_TYPE, f"{S}WebSite", "iri", None, None),
    ]
    assert conforms(spark.createDataFrame(rows, COLS), SHAPES2)


# ---------------------------------------------------------------------
# shape induction (schema discovery)
# ---------------------------------------------------------------------

def test_induce_shapes_toy(spark):
    from rdfa_streaming_parser_js_spark.operators.validate import (
        induce_shapes)
    rows = [
        ("d1", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d1", f"{S}name", "alpha", "literal", None, "en"),
        ("d1", f"{S}wordCount", "10", "literal", f"{XSD}integer", None),
        ("d2", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d2", f"{S}name", "beta", "literal", None, None),
        ("d2", f"{S}name", "beta2", "literal", None, None),  # repeat
        # d2 lacks wordCount → coverage 50, no min_count proposal
    ]
    got = {(r.path): r for r in
           induce_shapes(spark.createDataFrame(rows, COLS)).collect()}
    name = got[f"{S}name"]
    assert (name.n_class, name.n_foci, name.coverage_pct) == (2, 2, 100)
    assert name.min_count == 1 and name.max_count is None
    assert name.datatype is None and name.node_kind == "literal"
    wc = got[f"{S}wordCount"]
    assert (wc.coverage_pct, wc.min_count, wc.max_count) == (50, None, 1)
    assert wc.datatype == f"{XSD}integer" and wc.node_kind == "literal"


def test_induced_shapes_validate_cleanly(spark):
    """Closure property: shapes induced at 100 % coverage CONFORM on
    the graph they were induced from (cardinality + datatype +
    nodeKind proposals translated to PropertyShape)."""
    from rdfa_streaming_parser_js_spark.operators.validate import (
        induce_shapes)
    kg = _kg(spark)
    shapes = [
        PropertyShape(f"ind:{i}", r.target_class, r.path,
                      min_count=r.min_count, max_count=r.max_count,
                      datatype=r.datatype, node_kind=r.node_kind)
        for i, r in enumerate(induce_shapes(kg).collect())]
    assert shapes and conforms(kg, shapes)
