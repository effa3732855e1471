"""VoID dataset description (operators/void_stats.py)."""

from pyspark.sql import functions as F

from rdfa_streaming_parser_js_spark.operators.void_stats import (
    RDF_TYPE, VOID_NS, XSD_INTEGER, void_description)

S = "http://schema.org/"
D = "http://corpus.example.org/dataset"

COLS = ("subj string, pred string, obj_value string, obj_kind string, "
        "obj_datatype string, obj_lang string")


def _kg(spark):
    rows = [
        ("d1", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d1", f"{S}name", "alpha", "literal", None, "en"),
        ("d2", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("d2", f"{S}name", "beta", "literal", None, "en"),
        ("d3", RDF_TYPE, f"{S}Person", "iri", None, None),
        ("d3", f"{S}name", "ann", "literal", None, None),
    ]
    return spark.createDataFrame(rows, COLS)


def _by_pred(desc):
    return {(r.subj, r.pred): (r.obj_value, r.obj_kind, r.obj_datatype)
            for r in desc.collect()}


def test_global_statistics(spark):
    got = _by_pred(void_description(_kg(spark), D))
    assert got[(D, RDF_TYPE)] == (f"{VOID_NS}Dataset", "iri", None)
    assert got[(D, f"{VOID_NS}triples")] == ("6", "literal", XSD_INTEGER)
    assert got[(D, f"{VOID_NS}distinctSubjects")][0] == "3"
    assert got[(D, f"{VOID_NS}properties")][0] == "2"
    assert got[(D, f"{VOID_NS}classes")][0] == "2"
    # distinct objects: Article, Person, alpha, beta, ann
    assert got[(D, f"{VOID_NS}distinctObjects")][0] == "5"


def _entities_by_class(desc):
    cls = {r.subj: r.obj_value for r in desc.filter(
        F.col("pred") == f"{VOID_NS}class").collect()}
    ents = {r.subj: r.obj_value for r in desc.filter(
        F.col("pred") == f"{VOID_NS}entities").collect()}
    return {cls[k]: ents[k] for k in cls}


def test_class_and_property_partitions(spark):
    desc = void_description(_kg(spark), D)
    assert _entities_by_class(desc) == {f"{S}Article": "2", f"{S}Person": "1"}

    prop = {r.subj: r.obj_value for r in desc.filter(
        F.col("pred") == f"{VOID_NS}property").collect()}
    ptriples = {r.subj: r.obj_value for r in desc.filter(
        (F.col("pred") == f"{VOID_NS}triples")
        & (F.col("subj") != D)).collect()}
    assert {prop[k]: ptriples[k] for k in prop} == {
        RDF_TYPE: "3", f"{S}name": "3"}


def test_two_type_subject_counts_in_both_classes(spark):
    kg = spark.createDataFrame([
        ("e1", RDF_TYPE, f"{S}Article", "iri", None, None),
        ("e1", RDF_TYPE, f"{S}CreativeWork", "iri", None, None),
        ("e2", RDF_TYPE, f"{S}Article", "iri", None, None),
    ], COLS)
    desc = void_description(kg, D)
    got = _by_pred(desc)
    assert got[(D, f"{VOID_NS}distinctSubjects")][0] == "2"
    assert got[(D, f"{VOID_NS}classes")][0] == "2"
    assert _entities_by_class(desc) == {
        f"{S}Article": "2", f"{S}CreativeWork": "1"}


def test_distinct_objects_are_terms(spark):
    """void:distinctObjects counts RDF terms: one lexical form as two
    language-tagged literals, a plain literal and an IRI is four objects."""
    kg = spark.createDataFrame([
        ("d1", f"{S}name", "x", "literal", None, "de"),
        ("d1", f"{S}name", "x", "literal", None, "en"),
        ("d2", f"{S}name", "x", "literal", None, "en"),
        ("d2", f"{S}name", "x", "literal", None, None),
        ("d2", f"{S}sameAs", "x", "iri", None, None),
    ], COLS)
    got = _by_pred(void_description(kg, D))
    assert got[(D, f"{VOID_NS}distinctObjects")][0] == "4"


def test_empty_graph_is_a_dataset_with_zero_counts(spark):
    desc = void_description(spark.createDataFrame([], COLS), D)
    assert sorted((r.subj, r.pred, r.obj_value) for r in desc.collect()) == [
        (D, f"{VOID_NS}{p}", "0") for p in (
            "classes", "distinctObjects", "distinctSubjects", "properties",
            "triples")] + [(D, RDF_TYPE, f"{VOID_NS}Dataset")]


def test_partition_iris_deterministic_and_linked(spark):
    desc1 = void_description(_kg(spark), D)
    desc2 = void_description(_kg(spark).repartition(7), D)
    assert ({tuple(r) for r in desc1.collect()}
            == {tuple(r) for r in desc2.collect()})
    # every partition node the dataset links to is described
    linked = {r.obj_value for r in desc1.filter(F.col("pred").isin(
        f"{VOID_NS}classPartition", f"{VOID_NS}propertyPartition"))
        .collect()}
    described = {r.subj for r in desc1.filter(
        F.col("subj") != D).collect()}
    assert linked == described and len(linked) == 4


def test_plan_has_no_union(spark):
    """One grouping-sets aggregate and one explode emit every row."""
    desc = void_description(_kg(spark), D)
    assert desc.columns == ["subj", "pred", "obj_value", "obj_kind",
                            "obj_datatype", "obj_lang"]
    assert "Union" not in desc._jdf.queryExecution().optimizedPlan().toString()
