"""W3C SPARQL 1.1 Query Results formats (functions/results.py):
TSV / JSON round trips, their DuckDB mirrors, the CSV lossy form, and
a hypothesis fuzz over nasty terms."""

import json

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from rdfa_streaming_parser_js_spark.functions.results import (
    parse_results_json, parse_results_json_sql, parse_results_tsv,
    parse_results_tsv_sql, results_csv, results_csv_header,
    results_json_bindings, results_json_document, results_tsv,
    results_tsv_header)

XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"

COLS = ("s string, s__kind string, s__lang string, s__dt string, "
        "o string, o__kind string, o__lang string, o__dt string")

ROWS = [
    ("http://ex.org/a", "iri", None, None, "chat", "literal", "fr", None),
    ("_:b0", "bnode", None, None, "5", "literal", None, XSD_INT),
    ("http://ex.org/c", "iri", None, None,
     'we"ird\t\nli\rt\\x', "literal", None, None),
    ("http://ex.org/d", "iri", None, None,
     "http://ex.org/e", "iri", None, None),
    ("http://ex.org/f", "iri", None, None, "_:b9", "bnode", None, None),
    ("http://ex.org/u", "iri", None, None, None, None, None, None),
]

VS = ["s", "o"]


def _sol(spark, rows=ROWS):
    return spark.createDataFrame(rows, COLS)


def _key(df):
    return sorted(
        ((r.s, r.s__kind, r.s__lang, r.s__dt,
          r.o, r.o__kind, r.o__lang, r.o__dt) for r in df.collect()),
        key=lambda t: tuple((x is None, x or "") for x in t))


def test_tsv_lines(spark):
    lines = {r.line for r in results_tsv(_sol(spark), VS).collect()}
    assert '<http://ex.org/a>\t"chat"@fr' in lines
    assert f'_:b0\t"5"^^<{XSD_INT}>' in lines
    assert '<http://ex.org/c>\t"we\\"ird\\t\\nli\\rt\\\\x"' in lines
    assert "<http://ex.org/f>\t_:b9" in lines
    assert "<http://ex.org/u>\t" in lines  # unbound = empty field
    assert results_tsv_header(VS) == "?s\t?o"


def test_tsv_roundtrip(spark):
    sol = _sol(spark)
    back = parse_results_tsv(results_tsv(sol, VS), VS)
    assert _key(back) == _key(sol)


def test_tsv_reader_skips_header(spark):
    lines = spark.createDataFrame(
        [("?s\t?o",), ('<http://x>\t"v"',)], "line string")
    got = parse_results_tsv(lines, VS).collect()
    assert len(got) == 1 and got[0].s == "http://x"


def test_tsv_reader_blank_and_short_lines_are_null_not_errors(spark):
    """Under ANSI mode a blank or short line must not abort the job:
    its missing fields read as NULL bindings."""
    lines = spark.createDataFrame(
        [("",), ("<http://x>",), ('<http://a>\t"v"@en',)], "line string")
    got = {r.s: r for r in parse_results_tsv(lines, VS).collect()}
    assert set(got) == {None, "http://x", "http://a"}
    assert all(v is None for v in got[None])
    assert got["http://x"].s__kind == "iri"
    assert got["http://x"].o is None and got["http://x"].o__kind is None
    assert (got["http://a"].o, got["http://a"].o__lang) == ("v", "en")

def test_json_bindings(spark):
    lines = [json.loads(r.line) for r in
             results_json_bindings(_sol(spark), VS).collect()]
    by_s = {b["s"]["value"]: b for b in lines if "s" in b}
    assert by_s["http://ex.org/a"]["o"] == {
        "type": "literal", "value": "chat", "xml:lang": "fr"}
    assert by_s["b0"]["s"]["type"] == "bnode"  # label without _:
    assert by_s["b0"]["o"]["datatype"] == XSD_INT
    assert by_s["http://ex.org/f"]["o"] == {"type": "bnode",
                                            "value": "b9"}
    assert "o" not in by_s["http://ex.org/u"]  # unbound omitted


def test_json_roundtrip(spark):
    sol = _sol(spark)
    back = parse_results_json(results_json_bindings(sol, VS), VS)
    assert _key(back) == _key(sol)


def test_json_document(spark):
    doc = results_json_document(_sol(spark), VS).collect()[0].document
    parsed = json.loads(doc)
    assert parsed["head"] == {"vars": ["s", "o"]}
    assert len(parsed["results"]["bindings"]) == len(ROWS)


def test_duckdb_mirrors(spark):
    sol = _sol(spark)
    con = duckdb.connect()
    for fn, parse_sql, extra in (
            (results_tsv, parse_results_tsv_sql,
             " WHERE line NOT LIKE '?%'"),
            (results_json_bindings, parse_results_json_sql, "")):
        lines = [(r.line,) for r in fn(sol, VS).collect()]
        con.execute("CREATE OR REPLACE TABLE t(line VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?)", lines)
        got = sorted(con.execute(
            f"SELECT {parse_sql('line', VS)} FROM t{extra}").fetchall())
        assert got == _key(sol), fn.__name__


def test_lang_wins_over_datatype_in_every_format(spark):
    """An out-of-contract literal carrying both xml:lang and a datatype
    serializes the same way in TSV, JSON and XML: the language wins."""
    from rdfa_streaming_parser_js_spark.functions.results import (
        parse_results_xml, results_xml)
    sol = _sol(spark, [("http://ex.org/a", "iri", None, None,
                        "chat", "literal", "fr", XSD_INT)])
    line = json.loads(results_json_bindings(sol, VS).collect()[0].line)
    assert line["o"] == {"type": "literal", "value": "chat",
                         "xml:lang": "fr"}
    legs = [_key(parse_results_tsv(results_tsv(sol, VS), VS)),
            _key(parse_results_json(results_json_bindings(sol, VS), VS)),
            _key(parse_results_xml(results_xml(sol, VS), VS))]
    assert legs[0] == legs[1] == legs[2] == [
        ("http://ex.org/a", "iri", None, None,
         "chat", "literal", "fr", None)]

def test_csv_lossy(spark):
    lines = {r.line for r in results_csv(_sol(spark), VS).collect()}
    assert "http://ex.org/a,chat" in lines
    assert "_:b0,5" in lines  # bnode keeps _:, literal bare
    assert '<http://ex.org/c>'.strip("<>") + ',"we""ird\t\nli\rt\\x"' \
        in lines  # RFC 4180 quoting, backslash NOT escaped
    assert "http://ex.org/u," in lines
    assert results_csv_header(VS) == "s,o"


def test_xml_lines(spark):
    from rdfa_streaming_parser_js_spark.functions.results import (
        results_xml)
    lines = {r.line for r in results_xml(_sol(spark), VS).collect()}
    assert ('<result><binding name="s"><uri>http://ex.org/a</uri>'
            '</binding><binding name="o">'
            '<literal xml:lang="fr">chat</literal></binding></result>'
            in lines)
    assert ('<result><binding name="s"><bnode>b0</bnode></binding>'
            f'<binding name="o"><literal datatype="{XSD_INT}">5'
            '</literal></binding></result>' in lines)
    assert ('<result><binding name="s"><uri>http://ex.org/u</uri>'
            '</binding></result>' in lines)  # unbound omitted


def test_xml_roundtrip_and_mirror(spark):
    from rdfa_streaming_parser_js_spark.functions.results import (
        parse_results_xml, parse_results_xml_sql, results_xml)
    sol = _sol(spark)
    back = parse_results_xml(results_xml(sol, VS), VS)
    assert _key(back) == _key(sol)
    con = duckdb.connect()
    con.execute("CREATE OR REPLACE TABLE x(line VARCHAR)")
    con.executemany("INSERT INTO x VALUES (?)",
                    [(r.line,) for r in results_xml(sol, VS).collect()])
    got = sorted(con.execute(
        f"SELECT {parse_results_xml_sql('line', VS)} FROM x")
        .fetchall())
    assert got == _key(sol)


def test_xml_document_and_ask(spark):
    from rdfa_streaming_parser_js_spark.functions.results import (
        SPARQL_XMLNS, ask_results_xml, results_xml_document)
    doc = results_xml_document(_sol(spark), VS).collect()[0].document
    assert doc.startswith('<?xml version="1.0"?>')
    assert SPARQL_XMLNS in doc and doc.count("<result>") == len(ROWS)
    ask = spark.createDataFrame([(False,)], "ask boolean")
    assert "<boolean>false</boolean>" in \
        ask_results_xml(ask).collect()[0].document


def test_ask_document_roundtrip(spark):
    from rdfa_streaming_parser_js_spark.functions.results import (
        ask_results_json, parse_ask_results_json)
    for val in (True, False):
        ask = spark.createDataFrame([(val,)], "ask boolean")
        doc = ask_results_json(ask).collect()[0].document
        assert json.loads(doc) == {"head": {}, "boolean": val}
        back = parse_ask_results_json(
            spark.createDataFrame([(doc,)], "document string"))
        assert back.collect()[0].ask is val


_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40)
_lang = st.sampled_from([None, "en", "fr", "en-US"])
_term = st.one_of(
    st.tuples(st.just("iri"),
              st.text(alphabet=st.characters(
                  whitelist_categories=("Ll", "Nd")), min_size=1,
                  max_size=20).map(lambda s: "http://ex.org/" + s),
              st.none(), st.none()),
    st.tuples(st.just("bnode"),
              st.text(alphabet="abcdef0123456789", min_size=1,
                      max_size=12).map(lambda s: "_:" + s),
              st.none(), st.none()),
    st.tuples(st.just("literal"), _text, _lang,
              st.none()),
    st.tuples(st.just("literal"), _text, st.none(),
              st.sampled_from([XSD_INT, None])),
    st.tuples(st.none(), st.none(), st.none(), st.none()),  # unbound
)


@settings(max_examples=12, deadline=None)
@given(st.lists(st.tuples(_term, _term), min_size=1, max_size=6))
def test_fuzz_roundtrips(spark, solutions):
    rows = [
        (sv, sk, sl, sd, ov, ok, ol, od)
        for (sk, sv, sl, sd), (ok, ov, ol, od) in solutions]
    sol = spark.createDataFrame(rows, COLS)
    assert _key(parse_results_tsv(results_tsv(sol, VS), VS)) \
        == _key(sol)
    assert _key(parse_results_json(
        results_json_bindings(sol, VS), VS)) == _key(sol)
    from rdfa_streaming_parser_js_spark.functions.results import (
        parse_results_xml, results_xml)
    assert _key(parse_results_xml(results_xml(sol, VS), VS)) \
        == _key(sol)
