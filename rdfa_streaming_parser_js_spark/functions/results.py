"""SPARQL 1.1 Query Results serialization — the W3C TSV, CSV and JSON
results formats over the engine's solution tables.

The reference parser's consumers query its quad stream with SPARQL
(/root/reference/README.md:37-57 pipes into ``rdf-store-stream``); the
answers those stacks exchange are the W3C results formats
(https://www.w3.org/TR/sparql11-results-csv-tsv/ and
https://www.w3.org/TR/sparql11-results-json/).  This module closes the
output half of that interchange: a solution table — variable columns
holding lexical forms plus the ``{v}__kind`` / ``{v}__lang`` /
``{v}__dt`` term-metadata companions of :mod:`operators.bgp`
(``META_SUFFIXES``) — serializes to one results line per solution, and
the TSV and JSON readers parse such lines back into an identical
solution table.

All three serializers and both readers are pure column expressions
(whole-stage codegen — one concat / one regexp or ``from_json`` per
row, no Python), so a results dump of 10^12 solutions is a map-only
write, embarrassingly parallel, exactly like the N-Triples sink.

Format notes (each is the spec's own canonical choice, not ours):

- **TSV** encodes full terms (``<iri>``, ``_:label``, ``"lit"@lang``,
  ``"5"^^<dt>``) with Turtle string escapes, so it round-trips
  losslessly; an unbound variable is an empty field.  The header line
  (``?v1\\t?v2``) is metadata, not a solution — :func:`results_tsv`
  emits data lines and :func:`results_tsv_header` the one-line header
  to prepend at write time.
- **JSON** encodes one *binding object* per solution
  (``{"v": {"type": "uri", "value": ...}, ...}``, unbound variables
  omitted — §3.2.2); :func:`results_json_bindings` emits them as
  NDJSON rows (the distributed form) and
  :func:`results_json_document` assembles the full
  ``{"head": ..., "results": ...}`` document for BOUNDED results (one
  single-row output — the document is a single JSON value, so this is
  inherently a coalesce-to-one; use the NDJSON form at scale).  Per
  §3.2.2 a blank node's ``value`` carries the label WITHOUT the
  ``_:`` prefix; the reader restores it.
- **CSV** is the spec's LOSSY form (§1: plain lexical values, no term
  kinds) — serializer only, no reader can exist.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rdfa_streaming_parser_js_spark.functions.ntriples import (
    escape_literal, unescape_literal)
from rdfa_streaming_parser_js_spark.operators.bgp import node_kind

# one TSV field: empty (unbound) | <iri> | _:bnode | "lit"[@lang|^^<dt>]
TSV_FIELD_RE = (r'^(?:<([^>]*)>|(_:[^\t]+)|"((?:[^"\\]|\\.)*)"'
                r'(?:@([A-Za-z0-9-]+)|\^\^<([^>]*)>)?)?$')


def _meta(sol: DataFrame, var: str, suffix: str) -> Column:
    """Companion column if present, else NULL (a solution table is not
    required to carry metadata for every variable — e.g. a subject
    variable projected without ``meta_vars``)."""
    name = f"{var}{suffix}"
    return F.col(name) if name in sol.columns else F.lit(None)


def _term_field(sol: DataFrame, var: str) -> Column:
    """One TSV term field for ``var``: SPARQL-syntax encoding driven by
    the ``__kind`` companion; a variable with no companion defaults to
    :func:`bgp.node_kind`.  NULL value = unbound = empty field."""
    v = F.col(var)
    kind = F.coalesce(_meta(sol, var, "__kind"), node_kind(v))
    lang, dt = _meta(sol, var, "__lang"), _meta(sol, var, "__dt")
    lit = F.concat(
        F.lit('"'), escape_literal(v), F.lit('"'),
        F.when(lang.isNotNull(), F.concat(F.lit("@"), lang))
        .when(dt.isNotNull(), F.concat(F.lit("^^<"), dt, F.lit(">")))
        .otherwise(F.lit("")))
    enc = (F.when(kind == "literal", lit)
           .when(kind == "bnode", v)
           .otherwise(F.concat(F.lit("<"), v, F.lit(">"))))
    return F.when(v.isNull(), F.lit("")).otherwise(enc)


def results_tsv(sol: DataFrame, variables: list[str]) -> DataFrame:
    """Solution table → one ``line`` per solution in SPARQL TSV term
    encoding, fields in ``variables`` order.  Prepend
    :func:`results_tsv_header` when writing a results file."""
    fields = [_term_field(sol, v) for v in variables]
    return sol.select(
        F.concat_ws("\t", *fields).alias("line"))


def results_tsv_header(variables: list[str]) -> str:
    return "\t".join("?" + v for v in variables)


def parse_results_tsv(lines: DataFrame, variables: list[str],
                      line_col: str = "line") -> DataFrame:
    """TSV data lines → solution table with full metadata companions
    (``v``, ``v__kind``, ``v__lang``, ``v__dt`` per variable).  The
    header line (starting ``?``) is dropped if present, so a results
    file can be read wholesale.  Pure codegen: one split + one regexp
    per field."""
    parts = F.split(F.col(line_col), "\t", -1)
    cols = []
    for i, v in enumerate(variables):
        raw = F.try_element_at(parts, F.lit(i + 1))
        g = lambda j: F.regexp_extract(raw, TSV_FIELD_RE, j)  # noqa: E731
        iri, bn, lit, lang, dt = g(1), g(2), g(3), g(4), g(5)
        is_iri = raw.startswith("<")
        is_bn = raw.startswith("_:")
        is_lit = raw.startswith('"')
        cols += [
            F.when(is_iri, iri).when(is_bn, bn)
            .when(is_lit, unescape_literal(lit)).alias(v),
            F.when(is_iri, "iri").when(is_bn, "bnode")
            .when(is_lit, "literal").alias(f"{v}__kind"),
            F.when(is_lit & (lang != ""), lang).alias(f"{v}__lang"),
            F.when(is_lit & (dt != ""), dt).alias(f"{v}__dt"),
        ]
    return (lines
            .filter(~F.col(line_col).startswith("?"))
            .select(*cols))


def parse_results_tsv_sql(line_expr: str, variables: list[str]) -> str:
    """DuckDB mirror of :func:`parse_results_tsv` — a SELECT-list
    fragment (embed in a query that filters header lines with
    ``line NOT LIKE '?%'``)."""
    pat = TSV_FIELD_RE
    out = []
    for i, v in enumerate(variables):
        raw = f"list_extract(string_split({line_expr}, chr(9)), {i + 1})"
        g = lambda j: f"regexp_extract({raw}, '{pat}', {j})"  # noqa: E731
        unesc = (
            "array_to_string(list_transform(string_split("
            f"{g(3)}, '\\\\'), x -> "
            "replace(replace(replace(replace(x,"
            " '\\\"', '\"'), '\\n', chr(10)), '\\r', chr(13)),"
            " '\\t', chr(9))), '\\')")
        out.append(f"""
        CASE WHEN {raw} LIKE '<%' THEN {g(1)}
             WHEN {raw} LIKE '_:%' THEN {g(2)}
             WHEN {raw} LIKE '"%' THEN {unesc} END AS {v},
        CASE WHEN {raw} LIKE '<%' THEN 'iri'
             WHEN {raw} LIKE '_:%' THEN 'bnode'
             WHEN {raw} LIKE '"%' THEN 'literal' END AS {v}__kind,
        CASE WHEN {raw} LIKE '"%' THEN nullif({g(4)}, '') END
            AS {v}__lang,
        CASE WHEN {raw} LIKE '"%' THEN nullif({g(5)}, '') END
            AS {v}__dt""")
    return ",".join(out)


# --------------------------------------------------------------------------
# JSON results format
# --------------------------------------------------------------------------

def _binding_struct(sol: DataFrame, var: str) -> Column:
    """One W3C JSON term object for ``var`` (§3.2.2): type/value plus
    optional xml:lang / datatype; NULL (→ omitted by ``to_json``) when
    unbound.  A literal carrying both keeps only xml:lang, as the TSV
    and XML legs do."""
    v = F.col(var)
    kind = F.coalesce(_meta(sol, var, "__kind"), node_kind(v))
    lang, dt = _meta(sol, var, "__lang"), _meta(sol, var, "__dt")
    typ = (F.when(kind == "literal", "literal")
           .when(kind == "bnode", "bnode")
           .otherwise("iri"))
    is_bn = typ == "bnode"
    return F.when(v.isNull(), F.lit(None)).otherwise(F.struct(
        F.when(typ == "iri", "uri").otherwise(typ).alias("type"),
        F.when(is_bn, F.substring(v, 3, 2 ** 30)).otherwise(v)
        .alias("value"),
        F.when(typ == "literal", lang).alias("xml:lang"),
        F.when((typ == "literal") & lang.isNull(), dt).alias("datatype")))


def results_json_bindings(sol: DataFrame,
                          variables: list[str]) -> DataFrame:
    """Solution table → one JSON *binding object* per solution
    (NDJSON ``line`` column) — the distributed form of §3.2.1's
    ``results.bindings`` array.  ``to_json`` drops NULL fields, so
    unbound variables and absent lang/datatype are omitted exactly as
    the spec requires."""
    binding = F.struct(*[
        _binding_struct(sol, v).alias(v) for v in variables])
    return sol.select(F.to_json(binding).alias("line"))


def results_json_document(sol: DataFrame,
                          variables: list[str]) -> DataFrame:
    """Full §3 results document as ONE row (``document`` column):
    ``{"head":{"vars":[...]},"results":{"bindings":[...]}}``.  A JSON
    document is a single value, so this necessarily coalesces — use
    only for bounded results (the NDJSON form is the scale path).
    Bindings are sorted, so an ORDER BY order is not kept."""
    lines = results_json_bindings(sol, variables)
    head = ('{"head":{"vars":['
            + ",".join(f'"{v}"' for v in variables)
            + ']},"results":{"bindings":[')
    return lines.agg(
        F.concat(F.lit(head),
                 F.concat_ws(",", F.sort_array(F.collect_list("line"))),
                 F.lit("]}}")).alias("document"))


def _binding_schema(variables: list[str]) -> T.StructType:
    term = T.StructType([
        T.StructField("type", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("xml:lang", T.StringType()),
        T.StructField("datatype", T.StringType()),
    ])
    return T.StructType([T.StructField(v, term) for v in variables])


def parse_results_json(lines: DataFrame, variables: list[str],
                       line_col: str = "line") -> DataFrame:
    """NDJSON binding objects → solution table with metadata
    companions (inverse of :func:`results_json_bindings`; restores the
    ``_:`` bnode prefix).  One ``from_json`` per row."""
    b = F.from_json(F.col(line_col), _binding_schema(variables))
    cols = []
    for v in variables:
        t = b[v]
        typ, val = t["type"], t["value"]
        cols += [
            F.when(typ == "bnode", F.concat(F.lit("_:"), val))
            .otherwise(val).alias(v),
            F.when(typ == "uri", "iri")
            .when(typ.isNotNull(), typ).alias(f"{v}__kind"),
            t["xml:lang"].alias(f"{v}__lang"),
            t["datatype"].alias(f"{v}__dt"),
        ]
    return lines.select(*cols)


def parse_results_json_sql(line_expr: str, variables: list[str]) -> str:
    """DuckDB mirror of :func:`parse_results_json` (json_extract over
    the same paths)."""
    out = []
    for v in variables:
        t = f"json_extract_string({line_expr}, '$.{v}.type')"
        val = f"json_extract_string({line_expr}, '$.{v}.value')"
        out.append(f"""
        CASE WHEN {t} = 'bnode' THEN '_:' || {val} ELSE {val} END AS {v},
        CASE WHEN {t} = 'uri' THEN 'iri' ELSE {t} END AS {v}__kind,
        json_extract_string({line_expr}, '$.{v}."xml:lang"')
            AS {v}__lang,
        json_extract_string({line_expr}, '$.{v}.datatype') AS {v}__dt""")
    return ",".join(out)


# --------------------------------------------------------------------------
# XML results format (SPARQL Query Results XML Format, 2nd ed.)
# --------------------------------------------------------------------------

SPARQL_XMLNS = "http://www.w3.org/2005/sparql-results#"


def _xml_escape(col: Column) -> Column:
    out = F.regexp_replace(col, "&", "&amp;")
    out = F.regexp_replace(out, "<", "&lt;")
    out = F.regexp_replace(out, ">", "&gt;")
    return F.regexp_replace(out, '"', "&quot;")


def _xml_unescape(col: Column) -> Column:
    out = F.replace(col, F.lit("&quot;"), F.lit('"'))
    out = F.replace(out, F.lit("&gt;"), F.lit(">"))
    out = F.replace(out, F.lit("&lt;"), F.lit("<"))
    return F.replace(out, F.lit("&amp;"), F.lit("&"))


def results_xml(sol: DataFrame, variables: list[str]) -> DataFrame:
    """Solution table → one ``<result>`` element per solution
    (``line`` column) in the XML results vocabulary: ``<binding
    name="v">`` wrapping ``<uri>`` / ``<bnode>`` / ``<literal>``
    (with ``xml:lang`` / ``datatype``), unbound variables omitted.
    Standard five-entity escaping; lexical forms go in verbatim
    otherwise — a binary-unsafe form can exceed XML 1.0's character
    range, the format's own well-known limitation.  Map-only
    codegen, same shape as the other serializers."""
    parts = []
    for v in variables:
        val = F.col(v)
        typ = F.coalesce(_meta(sol, v, "__kind"), node_kind(val))
        lang, dt = _meta(sol, v, "__lang"), _meta(sol, v, "__dt")
        esc = _xml_escape(val)
        lit = F.concat(
            F.lit("<literal"),
            F.when(lang.isNotNull(),
                   F.concat(F.lit(' xml:lang="'), lang, F.lit('"')))
            .when(dt.isNotNull(),
                  F.concat(F.lit(' datatype="'), _xml_escape(dt),
                           F.lit('"')))
            .otherwise(F.lit("")),
            F.lit(">"), esc, F.lit("</literal>"))
        term = (F.when(typ == "literal", lit)
                .when(typ == "bnode",
                      F.concat(F.lit("<bnode>"),
                               F.substring(val, 3, 2 ** 30),
                               F.lit("</bnode>")))
                .otherwise(F.concat(F.lit("<uri>"), esc,
                                    F.lit("</uri>"))))
        parts.append(F.when(val.isNull(), F.lit("")).otherwise(
            F.concat(F.lit(f'<binding name="{v}">'), term,
                     F.lit("</binding>"))))
    return sol.select(F.concat(F.lit("<result>"), *parts,
                               F.lit("</result>")).alias("line"))


def results_xml_document(sol: DataFrame,
                         variables: list[str]) -> DataFrame:
    """Full results document as ONE row (``document`` column) —
    bounded results only, like :func:`results_json_document`.  Results
    are sorted, so an ORDER BY order is not kept."""
    head = ('<?xml version="1.0"?>'
            f'<sparql xmlns="{SPARQL_XMLNS}"><head>'
            + "".join(f'<variable name="{v}"/>' for v in variables)
            + "</head><results>")
    lines = results_xml(sol, variables)
    return lines.agg(
        F.concat(F.lit(head),
                 F.concat_ws("", F.sort_array(F.collect_list("line"))),
                 F.lit("</results></sparql>")).alias("document"))


def parse_results_xml(lines: DataFrame, variables: list[str],
                      line_col: str = "line") -> DataFrame:
    """``<result>`` elements → solution table with metadata
    companions (inverse of :func:`results_xml`; restores the ``_:``
    bnode prefix).  The reader targets the CANONICAL form this
    module's serializer emits (single-quote-free attributes, no
    insignificant whitespace) — one regexp per variable; arbitrary
    third-party XML needs a real XML parser upstream."""
    cols = []
    for v in variables:
        b = F.regexp_extract(
            F.col(line_col),
            f'<binding name="{v}">([\\s\\S]*?)</binding>', 1)
        uri = F.regexp_extract(b, "^<uri>([\\s\\S]*)</uri>$", 1)
        bnode = F.regexp_extract(b, "^<bnode>([\\s\\S]*)</bnode>$", 1)
        lit = F.regexp_extract(
            b, "^<literal[^>]*>([\\s\\S]*)</literal>$", 1)
        lang = F.regexp_extract(b, '^<literal xml:lang="([^"]*)">', 1)
        dt = F.regexp_extract(b, '^<literal datatype="([^"]*)">', 1)
        is_uri = b.startswith("<uri>")
        is_bn = b.startswith("<bnode>")
        is_lit = b.startswith("<literal")
        cols += [
            F.when(is_uri, _xml_unescape(uri))
            .when(is_bn, F.concat(F.lit("_:"), bnode))
            .when(is_lit, _xml_unescape(lit)).alias(v),
            F.when(is_uri, "iri").when(is_bn, "bnode")
            .when(is_lit, "literal").alias(f"{v}__kind"),
            F.when(is_lit & (lang != ""), lang).alias(f"{v}__lang"),
            F.when(is_lit & (dt != ""), _xml_unescape(dt))
            .alias(f"{v}__dt"),
        ]
    return lines.select(*cols)


def parse_results_xml_sql(line_expr: str, variables: list[str]) -> str:
    """DuckDB mirror of :func:`parse_results_xml`."""
    unesc = (lambda x:
             "replace(replace(replace(replace(" + x +
             ", '&quot;', '\"'), '&gt;', '>'), '&lt;', '<'),"
             " '&amp;', '&')")
    out = []
    for v in variables:
        b = (f"regexp_extract({line_expr}, "
             f"'<binding name=\"{v}\">([\\s\\S]*?)</binding>', 1)")
        uri = f"regexp_extract({b}, '^<uri>([\\s\\S]*)</uri>$', 1)"
        bno = f"regexp_extract({b}, '^<bnode>([\\s\\S]*)</bnode>$', 1)"
        lit = (f"regexp_extract({b}, "
               "'^<literal[^>]*>([\\s\\S]*)</literal>$', 1)")
        lang = (f"regexp_extract({b}, "
                "'^<literal xml:lang=\"([^\"]*)\">', 1)")
        dt = (f"regexp_extract({b}, "
              "'^<literal datatype=\"([^\"]*)\">', 1)")
        out.append(f"""
        CASE WHEN {b} LIKE '<uri>%' THEN {unesc(uri)}
             WHEN {b} LIKE '<bnode>%' THEN '_:' || {bno}
             WHEN {b} LIKE '<literal%' THEN {unesc(lit)} END AS {v},
        CASE WHEN {b} LIKE '<uri>%' THEN 'iri'
             WHEN {b} LIKE '<bnode>%' THEN 'bnode'
             WHEN {b} LIKE '<literal%' THEN 'literal' END AS {v}__kind,
        CASE WHEN {b} LIKE '<literal%' THEN nullif({lang}, '') END
            AS {v}__lang,
        CASE WHEN {b} LIKE '<literal%'
             THEN nullif({unesc(dt)}, '') END AS {v}__dt""")
    return ",".join(out)


def ask_results_xml(ask_df: DataFrame,
                    bool_col: str = "ask") -> DataFrame:
    """Boolean results document in the XML vocabulary."""
    return ask_df.select(
        F.concat(F.lit('<?xml version="1.0"?>'
                       f'<sparql xmlns="{SPARQL_XMLNS}">'
                       "<head/><boolean>"),
                 F.when(F.col(bool_col), "true").otherwise("false"),
                 F.lit("</boolean></sparql>")).alias("document"))


def ask_results_json(ask_df: DataFrame,
                     bool_col: str = "ask") -> DataFrame:
    """§3.2.3 boolean results document from the engine's one-row ASK
    output (:func:`operators.sparql.sparql_query` ASK form):
    ``{"head":{},"boolean":true}`` as a ``document`` column."""
    return ask_df.select(
        F.concat(F.lit('{"head":{},"boolean":'),
                 F.when(F.col(bool_col), "true").otherwise("false"),
                 F.lit("}")).alias("document"))


def parse_ask_results_json(docs: DataFrame,
                           doc_col: str = "document") -> DataFrame:
    """Inverse of :func:`ask_results_json` → one-row ``ask`` boolean."""
    schema = T.StructType([T.StructField("boolean", T.BooleanType())])
    return docs.select(
        F.from_json(F.col(doc_col), schema)["boolean"].alias("ask"))


# --------------------------------------------------------------------------
# CSV (lossy by spec — serializer only)
# --------------------------------------------------------------------------

def results_csv(sol: DataFrame, variables: list[str]) -> DataFrame:
    """Solution table → CSV data lines (§2: plain lexical values —
    IRIs bare, bnodes with ``_:``, literals unquoted; RFC 4180 quoting
    only where the value contains comma / quote / CR / LF).  Lossy by
    design; there is deliberately no CSV reader."""
    fields = []
    for v in variables:
        val = F.coalesce(F.col(v), F.lit(""))
        needs = val.rlike('[",\r\n]')
        quoted = F.concat(
            F.lit('"'), F.regexp_replace(val, '"', '""'), F.lit('"'))
        fields.append(F.when(needs, quoted).otherwise(val))
    return sol.select(F.concat_ws(",", *fields).alias("line"))


def results_csv_header(variables: list[str]) -> str:
    return ",".join(variables)
