"""Canonical JSON node serialization of the knowledge graph.

RDFJS consumers exchange graphs as JSON-LD-style node objects; this is
the sink half for that ecosystem: one JSON document per subject with
all its edges.  Determinism is the whole design problem — JSON key
order and float formatting make naive ``to_json`` engine-specific — so
the document is BUILT, not serialized: each edge becomes a canonical
fragment string, fragments sort lexicographically (ASCII, stable in
every engine), and the node is a single concat.  Escaping is a
plain-replace chain (backslash first, then quote, then LF/CR/TAB)
identical in Spark and the DuckDB oracle.

Structure (JSON-LD flavored, minimal):

  {"@id": "<subj>", "edges": [
      {"p": "<pred>", "o": {"@id": "..."}}                 — IRI/bnode
      {"p": "<pred>", "o": {"@value": "...",
                            "@language"/"@type": "..."}}   — literal
  ]}

Scale shape: one shuffle (groupBy subj, map-side combined collect),
fragments bounded by per-subject degree — the same hub-skew profile as
canonicalization, so the same salting applies if a subject is hot.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdfa_streaming_parser_js_spark.operators.bgp import node_kind


# C0 controls other than LF/CR/TAB (which get short escapes): RFC 8259
# requires EVERY control below 0x20 escaped, and raw bytes like 0x01 do
# survive HTML text accumulation into literals (fuzz-found in the
# N-Triples pair; same wire reality here).
_OTHER_CONTROLS = [c for c in range(0x20) if chr(c) not in "\n\r\t"]


def json_escape(col: Column) -> Column:
    """JSON string escaping for HTML-extracted text: backslash first
    (so later escapes aren't double-escaped), then quote, the
    short-escape controls (LF/CR/TAB), then every remaining C0 control
    as ``\\u00XX`` — anything less emits invalid JSON documents."""
    out = F.replace(F.replace(col, F.lit("\\"), F.lit("\\\\")),
                    F.lit('"'), F.lit('\\"'))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    out = F.replace(out, F.lit("\r"), F.lit("\\r"))
    out = F.replace(out, F.lit("\t"), F.lit("\\t"))
    for c in _OTHER_CONTROLS:
        out = F.replace(out, F.lit(chr(c)), F.lit(f"\\u{c:04x}"))
    return out


def _edge_fragment() -> Column:
    val = json_escape(F.col("obj_value"))
    obj = F.when(
        F.col("obj_kind") != "literal",
        F.concat(F.lit('{"@id":"'), val, F.lit('"}'))
    ).otherwise(F.concat(
        F.lit('{"@value":"'), val, F.lit('"'),
        F.when(F.col("obj_lang").isNotNull(),
               F.concat(F.lit(',"@language":"'),
                        F.col("obj_lang"), F.lit('"')))
        .when(F.col("obj_datatype").isNotNull(),
              F.concat(F.lit(',"@type":"'),
                       json_escape(F.col("obj_datatype")), F.lit('"')))
        .otherwise(F.lit("")),
        F.lit("}")))
    return F.concat(F.lit('{"p":"'), json_escape(F.col("pred")),
                    F.lit('","o":'), obj, F.lit("}"))


def json_graph_nodes(triples: DataFrame) -> DataFrame:
    """(subj, node_json): one canonical JSON document per subject."""
    frags = (triples
             .select("subj", _edge_fragment().alias("frag"))
             .groupBy("subj")
             .agg(F.array_sort(F.collect_list("frag")).alias("frags")))
    return frags.select(
        "subj",
        F.concat(F.lit('{"@id":"'), json_escape(F.col("subj")),
                 F.lit('","edges":['), F.array_join("frags", ","),
                 F.lit("]}")).alias("node_json"))


def json_graph_nodes_sql(triples_cte: str) -> str:
    """DuckDB mirror over a CTE yielding the triples columns."""
    def esc(e: str) -> str:
        out = (f"replace(replace(replace(replace(replace("
               f"{e}, '\\', '\\\\'), "
               f"'\"', '\\\"'), chr(10), '\\n'), chr(13), '\\r'), "
               f"chr(9), '\\t')")
        for c in _OTHER_CONTROLS:
            out = f"replace({out}, chr({c}), '\\u{c:04x}')"
        return out
    obj = f"""CASE WHEN obj_kind <> 'literal'
        THEN '{{"@id":"' || {esc('obj_value')} || '"}}'
        ELSE '{{"@value":"' || {esc('obj_value')} || '"' ||
             CASE WHEN obj_lang IS NOT NULL
                  THEN ',"@language":"' || obj_lang || '"'
                  WHEN obj_datatype IS NOT NULL
                  THEN ',"@type":"' || {esc('obj_datatype')} || '"'
                  ELSE '' END || '}}' END"""
    frag = f"""'{{"p":"' || {esc('pred')} || '","o":' || {obj} || '}}'"""
    return f"""
        WITH t AS ({triples_cte}),
        fr AS (SELECT subj, {frag} AS frag FROM t)
        SELECT subj,
               '{{"@id":"' || {esc('subj')} || '","edges":[' ||
               string_agg(frag, ',' ORDER BY frag) || ']}}' AS node_json
        FROM fr GROUP BY subj
    """


# --------------------------------------------------------------------
# reader (inverse of json_graph_nodes)
# --------------------------------------------------------------------

# from_json schema of one node document.  Column names carry the
# JSON-LD '@' prefix verbatim (backquoted), so the parse is purely
# structural — no string surgery on the document.
NODE_SCHEMA = ("STRUCT<`@id`: STRING, edges: ARRAY<STRUCT<p: STRING, "
               "o: STRUCT<`@id`: STRING, `@value`: STRING, "
               "`@language`: STRING, `@type`: STRING>>>>")


def parse_json_nodes(nodes: DataFrame,
                     json_col: str = "node_json") -> DataFrame:
    """Inverse of :func:`json_graph_nodes`: node documents back to the
    engine triple schema (subj, subj_kind, pred, obj_value, obj_kind,
    obj_datatype, obj_lang).

    ``from_json`` + one ``explode`` — pure flatMap, zero shuffle,
    JVM-side JSON parsing (all the escaping the sink emits, including
    ``\\u00XX`` C0 controls, is standard JSON and round-trips).  Term
    kinds are re-derived by :func:`bgp.node_kind` (``_:`` prefix =
    bnode), the rule bgp_construct uses; a literal's NULL datatype is
    the RDF 1.1 plain/xsd:string reading, and language-tagged
    literals carry no datatype — exactly what the sink serialized.
    Rows whose document fails to parse are DROPPED (from_json yields
    NULL, the explode skips it) — count in/out to audit, as with the
    N-Triples reader."""
    n = (nodes.select(F.from_json(F.col(json_col), NODE_SCHEMA)
                      .alias("n"))
         .filter(F.col("n").isNotNull()))
    e = n.select(F.col("n.`@id`").alias("subj"),
                 F.explode("n.edges").alias("e"))
    obj_id = F.col("e.o.`@id`")
    return e.select(
        "subj",
        node_kind(F.col("subj")).alias("subj_kind"),
        F.col("e.p").alias("pred"),
        F.coalesce(obj_id, F.col("e.o.`@value`")).alias("obj_value"),
        F.when(obj_id.isNotNull(), node_kind(obj_id))
        .otherwise(F.lit("literal")).alias("obj_kind"),
        F.col("e.o.`@type`").alias("obj_datatype"),
        F.col("e.o.`@language`").alias("obj_lang"))
