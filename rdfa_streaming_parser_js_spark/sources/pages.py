"""Deterministic synthetic Common-Crawl-style pages table.

Per BASELINE.json ``input_hint`` the pipeline's only source is a table of
pages ``(url:string, warc_ts:timestamp, html:binary, text:string,
lang:string)``.  We synthesize it **from the driver's ``documents``
parquet** with pure native Spark SQL expressions (JVM-side, whole-stage
codegen — no Python in the generator), which makes every downstream
extraction query DuckDB-oracle-able: the oracle reconstructs the expected
triples straight from ``documents`` without parsing HTML.

Template (single-line, no inter-tag whitespace so the extracted-text
invariant is an exact concat; RDFa semantics per the reference parser —
see /root/reference/lib/RdfaParser.ts:87-590):

    <!DOCTYPE html><html lang="{lang}"><head><title>{name}</title></head>
    <body prefix="schema: http://schema.org/">
    <div about="#it" typeof="schema:Article">
    <h1 property="schema:name">{name}</h1>
    <span property="schema:text">{text}</span>
    <meta property="schema:inLanguage" content="{lang}"/>
    <span property="schema:wordCount" content="{nw}" datatype="xsd:integer"></span>
    <a rel="schema:isPartOf" href="{SOURCE_IRI_PREFIX}{source}">{source}</a>
    <time property="schema:dateCreated" datetime="{date}"></time>
    </div></body></html>

with name = first 8 whitespace-split words, nw = word count,
date = 2024-03-(page_id % 28 + 1).  Expected triples per page (subject
S = url + "#it", language tags from @lang on <html>):

    (S, rdf:type,            schema:Article)
    (S, schema:name,         "{name}"@lang)
    (S, schema:text,         "{text}"@lang)
    (S, schema:inLanguage,   "{lang}"@lang)
    (S, schema:wordCount,    "{nw}"^^xsd:integer)
    (S, schema:isPartOf,     <source IRI>)
    (S, schema:dateCreated,  "{date}"^^xsd:date)

The ``text`` column is the reference-semantics extracted text: text
consumed as a property literal is dropped from upward propagation
(/root/reference/lib/RdfaParser.ts:645-673 via the v3.0.1 fix), so only
the <title> and <a> text survive → text = name || source.

``copies`` > 1 amplifies the corpus (page_id = doc_id * copies + c) so
benchmarks can scale the page count independently of the documents table
— every page stays fully deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

PAGE_URL_PREFIX = "http://pages.example.org/page/"
SOURCE_IRI_PREFIX = "http://corpus.example.org/source/"
SCHEMA_ORG = "http://schema.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"
NAME_WORDS = 8


def _derived_columns(page_id: Column) -> dict[str, Column]:
    words = F.split(F.col("text"), " ")
    return {
        "url": F.concat(F.lit(PAGE_URL_PREFIX), page_id.cast("string")),
        "name": F.array_join(F.slice(words, 1, NAME_WORDS), " "),
        "nw": F.size(words).cast("string"),
        "date": F.concat(
            F.lit("2024-03-"),
            F.lpad((page_id % 28 + 1).cast("string"), 2, "0")),
    }


def pages_from_documents(spark: SparkSession, sf_dir: str,
                         copies: int = 1) -> DataFrame:
    """documents.parquet → pages(url, warc_ts, html, text, lang, page_id)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if copies > 1:
        reps = spark.range(copies).withColumnRenamed("id", "copy_i")
        docs = docs.crossJoin(F.broadcast(reps))
        page_id = (F.col("doc_id") * copies + F.col("copy_i")).cast("long")
    else:
        page_id = F.col("doc_id").cast("long")

    d = _derived_columns(page_id)
    html = F.concat(
        F.lit('<!DOCTYPE html><html lang="'), F.col("lang"),
        F.lit('"><head><title>'), d["name"],
        F.lit('</title></head><body prefix="schema: http://schema.org/">'
              '<div about="#it" typeof="schema:Article">'
              '<h1 property="schema:name">'), d["name"],
        F.lit('</h1><span property="schema:text">'), F.col("text"),
        F.lit('</span><meta property="schema:inLanguage" content="'),
        F.col("lang"),
        F.lit('"/><span property="schema:wordCount" content="'), d["nw"],
        F.lit('" datatype="xsd:integer"></span><a rel="schema:isPartOf" '
              'href="' + SOURCE_IRI_PREFIX), F.col("source"),
        F.lit('">'), F.col("source"),
        F.lit('</a><time property="schema:dateCreated" datetime="'),
        d["date"],
        F.lit('"></time></div></body></html>'),
    )
    return docs.select(
        page_id.alias("page_id"),
        d["url"].alias("url"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=page_id.cast("double"))).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.concat(d["name"], F.col("source")).alias("text"),
        F.col("lang"),
    )


def _words(n: int) -> list[Column]:
    """The text's first ``n`` space-split words; a word past the end is
    the empty string (the DuckDB mirrors coalesce theirs the same way)."""
    words = F.split(F.col("text"), " ")
    return [F.coalesce(F.try_element_at(words, F.lit(i)), F.lit(""))
            for i in range(1, n + 1)]


RICH_URL_PREFIX = "http://pages.example.org/rich/"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def rich_pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second synthetic corpus exercising the bnode + rdf:List machinery:
    nested ``typeof`` without ``about`` (→ minted blank node) and two
    ``inlist`` keywords (→ rdf:first/rest/nil cons cells).

    Deterministic skolemization makes even the BLANK NODES oracle-able:
    the kernel mints g_0 (author), g_1, g_2 (list cells) in document
    order, and the Spark layer skolemizes to ``'_:' || sha256(url ||
    '|g_N')`` — which DuckDB can reconstruct (rich_expected_triples_sql).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w1, w2, w3 = _words(3)
    url = F.concat(F.lit(RICH_URL_PREFIX), F.col("doc_id").cast("string"))
    html = F.concat(
        F.lit('<!DOCTYPE html><html><head><title>'), w1,
        F.lit('</title></head><body prefix="schema: http://schema.org/">'
              '<div about="#it" typeof="schema:Article">'
              '<div property="schema:author" typeof="schema:Person">'
              '<span property="schema:name">Author '), F.col("source"),
        F.lit('</span></div><span inlist="" property="schema:keywords">'),
        w2,
        F.lit('</span><span inlist="" property="schema:keywords">'), w3,
        F.lit('</span></div></body></html>'))
    return docs.select(
        F.col("doc_id").cast("long").alias("page_id"),
        url.alias("url"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("doc_id").cast("double")))
        .alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        w1.alias("text"),
        F.col("lang"))


def rich_expected_triples_sql() -> str:
    """DuckDB oracle for the rich corpus, including skolemized bnodes."""
    base = f"""
      SELECT '{RICH_URL_PREFIX}' || CAST(doc_id AS VARCHAR) AS url,
             '{RICH_URL_PREFIX}' || CAST(doc_id AS VARCHAR) || '#it' AS it,
             '_:' || sha256('{RICH_URL_PREFIX}' || CAST(doc_id AS VARCHAR)
                            || '|g_0') AS b0,
             '_:' || sha256('{RICH_URL_PREFIX}' || CAST(doc_id AS VARCHAR)
                            || '|g_1') AS b1,
             '_:' || sha256('{RICH_URL_PREFIX}' || CAST(doc_id AS VARCHAR)
                            || '|g_2') AS b2,
             coalesce(string_split(text, ' ')[2], '') AS w2,
             coalesce(string_split(text, ' ')[3], '') AS w3,
             'Author ' || source AS author_name
      FROM documents
    """
    def row(s, p, o, sk="iri", ok="iri"):
        return (f"SELECT url, {s} AS subj, '{sk}' AS subj_kind, "
                f"'{p}' AS pred, {o} AS obj_value, '{ok}' AS obj_kind, "
                f"CAST(NULL AS VARCHAR) AS obj_datatype, "
                f"CAST(NULL AS VARCHAR) AS obj_lang FROM p")
    parts = [
        row("it", f"{RDF_NS}type", f"'{SCHEMA_ORG}Article'"),
        row("b0", f"{RDF_NS}type", f"'{SCHEMA_ORG}Person'", sk="bnode"),
        row("it", f"{SCHEMA_ORG}author", "b0", ok="bnode"),
        row("b0", f"{SCHEMA_ORG}name", "author_name",
            sk="bnode", ok="literal"),
        row("b1", f"{RDF_NS}first", "w2", sk="bnode", ok="literal"),
        row("b1", f"{RDF_NS}rest", "b2", sk="bnode", ok="bnode"),
        row("b2", f"{RDF_NS}first", "w3", sk="bnode", ok="literal"),
        row("b2", f"{RDF_NS}rest", f"'{RDF_NS}nil'", sk="bnode"),
        row("it", f"{SCHEMA_ORG}keywords", "b1", ok="bnode"),
    ]
    return "WITH p AS (" + base + ")\n" + "\nUNION ALL\n".join(parts)


XMLCOPY_URL_PREFIX = "http://pages.example.org/xc/"
RDFA_NS = "http://www.w3.org/ns/rdfa#"


def xmlcopy_pages_from_documents(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Third corpus: rdfa:Pattern/rdfa:copy (the reference's only
    self-join-like construct, /root/reference/lib/RdfaParser.ts:819-868)
    and rdf:XMLLiteral serialization with deterministic alphabetical
    xmlns re-declaration (/root/reference/lib/RdfaParser.ts:123-139)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w1, w2, w3 = _words(3)
    url = F.concat(F.lit(XMLCOPY_URL_PREFIX),
                   F.col("doc_id").cast("string"))
    html = F.concat(
        F.lit('<html><body prefix="schema: http://schema.org/ '
              'rdf: http://www.w3.org/1999/02/22-rdf-syntax-ns# '
              'rdfa: http://www.w3.org/ns/rdfa#">'
              '<div about="#x" typeof="">'
              '<link property="rdfa:copy" href="#pat"/></div>'
              '<div about="#y" typeof="">'
              '<link property="rdfa:copy" href="#pat"/></div>'
              '<div resource="#pat" typeof="rdfa:Pattern">'
              '<span property="schema:name">'), w1,
        F.lit('</span></div><div about="#x">'
              '<span property="schema:desc" datatype="rdf:XMLLiteral">'),
        w2, F.lit(' <b>'), w3, F.lit('</b></span></div></body></html>'))
    return docs.select(
        F.col("doc_id").cast("long").alias("page_id"),
        url.alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        w1.alias("text"), F.col("lang"))


def xmlcopy_expected_triples_sql() -> str:
    xmlns = ('xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
             'xmlns:rdfa="http://www.w3.org/ns/rdfa#" '
             'xmlns:schema="http://schema.org/"')
    base = f"""
      SELECT '{XMLCOPY_URL_PREFIX}' || CAST(doc_id AS VARCHAR) AS url,
             '{XMLCOPY_URL_PREFIX}' || CAST(doc_id AS VARCHAR) AS u,
             coalesce(string_split(text, ' ')[1], '') AS w1,
             coalesce(string_split(text, ' ')[2], '') AS w2,
             coalesce(string_split(text, ' ')[3], '') AS w3
      FROM documents
    """
    return f"""
    WITH p AS ({base})
    SELECT url, u || '#x' AS subj, 'iri' AS subj_kind,
           '{SCHEMA_ORG}name' AS pred, w1 AS obj_value,
           'literal' AS obj_kind, CAST(NULL AS VARCHAR) AS obj_datatype,
           CAST(NULL AS VARCHAR) AS obj_lang FROM p
    UNION ALL
    SELECT url, u || '#y', 'iri', '{SCHEMA_ORG}name', w1, 'literal',
           NULL, NULL FROM p
    UNION ALL
    SELECT url, u || '#x', 'iri', '{SCHEMA_ORG}desc',
           w2 || ' <b {xmlns}>' || w3 || '</b>', 'literal',
           'http://www.w3.org/1999/02/22-rdf-syntax-ns#XMLLiteral',
           NULL FROM p
    """


ROLE_TIME_URL_PREFIX = "http://pages.example.org/rt/"
XHV = "http://www.w3.org/1999/xhtml/vocab#"
EX_NS = "http://ex.example.org/ns#"
RT_BASE_PREFIX = "http://base.example.org/"

# doc_id % 6 → (<time> lexical form class, sniffed xsd datatype); the
# forms cover every TIME_REGEXES class (kernel/util.py:34-44, ported
# from /root/reference/lib/Util.ts:17-30).
_TIME_CLASSES = ("date", "dateTime", "time", "duration",
                 "gYearMonth", "gYear")


def role_time_pages_from_documents(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Fourth corpus (profile 'xml'): @role (reference
    RdfaParser.ts:253-268, tests RdfaParser-test.ts:981-1247), xml:base
    subtree rebasing (RdfaParser.ts:208-211), safe CURIEs in @about,
    and <time> xsd-datatype sniffing across all six lexical classes
    (Util.ts:17-30) — plus datatype-beats-language and dual prefix
    mappings (xmlns: and @prefix on one document).

    xml:base sits on the SAME element as @about/@role: both engines
    drop local bases declared on skipped (RDFa-attribute-less)
    elements, so that placement is the part of the semantics a corpus
    query can pin down deterministically.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w1, w2 = _words(2)
    did = F.col("doc_id")
    ds = did.cast("string")
    url = F.concat(F.lit(ROLE_TIME_URL_PREFIX), ds)
    dd = F.lpad((did % 28 + 1).cast("string"), 2, "0")
    m6 = did % 6
    tv = (F.when(m6 == 0, F.concat(F.lit("2024-03-"), dd))
          .when(m6 == 1, F.concat(F.lit("2024-03-"), dd,
                                  F.lit("T12:34:00")))
          .when(m6 == 2, F.concat(F.lit("10:34:0"),
                                  (did % 10).cast("string")))
          .when(m6 == 3, F.concat(F.lit("P"), (did % 9 + 1).cast("string"),
                                  F.lit("D")))
          .when(m6 == 4, F.concat(F.lit("2024-0"),
                                  (did % 9 + 1).cast("string")))
          .otherwise(F.concat(F.lit("19"),
                              (did % 90 + 10).cast("string"))))
    html = F.concat(
        F.lit(f'<doc xmlns:schema="{SCHEMA_ORG}" '
              f'prefix="ex: {EX_NS}">'
              '<item about="[ex:item'), ds,
        F.lit(']" id="main" role="button schema:link" '
              f'xml:base="{RT_BASE_PREFIX}'), ds,
        F.lit('/" lang="'), F.col("lang"),
        F.lit('"><span property="schema:name">'), w1,
        F.lit('</span><time property="schema:temporal">'), tv,
        F.lit('</time><span about="rel.html" property="schema:desc">'),
        w2, F.lit("</span></item></doc>"))
    return docs.select(
        did.cast("long").alias("page_id"),
        url.alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        w1.alias("text"), F.col("lang"))


def role_time_expected_triples_sql() -> str:
    """DuckDB oracle for the role_time corpus (5 triples per page)."""
    tv_sql = """CASE doc_id % 6
        WHEN 0 THEN '2024-03-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        WHEN 1 THEN '2024-03-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T12:34:00'
        WHEN 2 THEN '10:34:0' || CAST(doc_id % 10 AS VARCHAR)
        WHEN 3 THEN 'P' || CAST(doc_id % 9 + 1 AS VARCHAR) || 'D'
        WHEN 4 THEN '2024-0' || CAST(doc_id % 9 + 1 AS VARCHAR)
        ELSE '19' || CAST(doc_id % 90 + 10 AS VARCHAR) END"""
    dt_sql = "CASE doc_id % 6 " + " ".join(
        f"WHEN {i} THEN '{XSD}{c}'" for i, c in enumerate(_TIME_CLASSES[:5])
    ) + f" ELSE '{XSD}{_TIME_CLASSES[5]}' END"
    base = f"""
      SELECT '{ROLE_TIME_URL_PREFIX}' || CAST(doc_id AS VARCHAR) AS url,
             '{RT_BASE_PREFIX}' || CAST(doc_id AS VARCHAR) || '/#main' AS rsubj,
             '{RT_BASE_PREFIX}' || CAST(doc_id AS VARCHAR) || '/rel.html' AS dsubj,
             '{EX_NS}item' || CAST(doc_id AS VARCHAR) AS it,
             coalesce(string_split(text, ' ')[1], '') AS w1,
             coalesce(string_split(text, ' ')[2], '') AS w2,
             lower(lang) AS lng,
             {tv_sql} AS tv,
             {dt_sql} AS tdt
      FROM documents
    """
    null_v = "CAST(NULL AS VARCHAR)"
    return f"""
    WITH p AS ({base})
    SELECT url, rsubj AS subj, 'iri' AS subj_kind,
           '{XHV}role' AS pred, '{XHV}button' AS obj_value,
           'iri' AS obj_kind, {null_v} AS obj_datatype,
           {null_v} AS obj_lang FROM p
    UNION ALL
    SELECT url, rsubj, 'iri', '{XHV}role', '{SCHEMA_ORG}link', 'iri',
           NULL, NULL FROM p
    UNION ALL
    SELECT url, it, 'iri', '{SCHEMA_ORG}name', w1, 'literal',
           NULL, lng FROM p
    UNION ALL
    SELECT url, it, 'iri', '{SCHEMA_ORG}temporal', tv, 'literal',
           tdt, NULL FROM p
    UNION ALL
    SELECT url, dsubj, 'iri', '{SCHEMA_ORG}desc', w2, 'literal',
           NULL, lng FROM p
    """


def expected_triples_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native-Spark reconstruction of the template's expected triples —
    the distributed 'expected' side for P/R scoring (operators/scoring),
    mirroring ``expected_triples_sql`` column for column."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    page_id = F.col("doc_id").cast("long")
    d = _derived_columns(page_id)
    null_s = F.lit(None).cast("string")
    base = docs.select(
        d["url"].alias("url"),
        F.concat(d["url"], F.lit("#it")).alias("subj"),
        d["name"].alias("name"), d["nw"].alias("nw"),
        d["date"].alias("dt"), "text", "lang", "source")

    def t(pred, obj, kind="literal", dtype=None, lang=None):
        return base.select(
            "url", "subj", F.lit("iri").alias("subj_kind"),
            F.lit(pred).alias("pred"), obj.alias("obj_value"),
            F.lit(kind).alias("obj_kind"),
            (F.lit(dtype) if dtype else null_s).alias("obj_datatype"),
            (F.col("lang") if lang else null_s).alias("obj_lang"))

    parts = [
        t(RDF_TYPE, F.lit(f"{SCHEMA_ORG}Article"), kind="iri"),
        t(f"{SCHEMA_ORG}name", F.col("name"), lang=True),
        t(f"{SCHEMA_ORG}text", F.col("text"), lang=True),
        t(f"{SCHEMA_ORG}inLanguage", F.col("lang"), lang=True),
        t(f"{SCHEMA_ORG}wordCount", F.col("nw"), dtype=f"{XSD}integer"),
        t(f"{SCHEMA_ORG}isPartOf",
          F.concat(F.lit(SOURCE_IRI_PREFIX), F.col("source")), kind="iri"),
        t(f"{SCHEMA_ORG}dateCreated", F.col("dt"), dtype=f"{XSD}date"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def synthetic_page_sql() -> str:
    """DuckDB CTE body reconstructing the synthetic pages table —
    (doc_id, url, warc_date, html) — character-identical to
    :func:`pages_from_documents` (used by the WARC round-trip oracle:
    the oracle never parses WARC, it rebuilds what the reader must
    produce)."""
    return f"""
      SELECT doc_id,
             '{PAGE_URL_PREFIX}' || CAST(doc_id AS VARCHAR) AS url,
             strftime(TIMESTAMP '2024-01-01 00:00:00'
                      + doc_id * INTERVAL 1 SECOND,
                      '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
             '<!DOCTYPE html><html lang="' || lang || '"><head><title>'
             || array_to_string(string_split(text, ' ')[1:{NAME_WORDS}], ' ')
             || '</title></head>'
             || '<body prefix="schema: http://schema.org/">'
             || '<div about="#it" typeof="schema:Article">'
             || '<h1 property="schema:name">'
             || array_to_string(string_split(text, ' ')[1:{NAME_WORDS}], ' ')
             || '</h1><span property="schema:text">' || text
             || '</span><meta property="schema:inLanguage" content="'
             || lang || '"/><span property="schema:wordCount" content="'
             || CAST(len(string_split(text, ' ')) AS VARCHAR)
             || '" datatype="xsd:integer"></span>'
             || '<a rel="schema:isPartOf" href="{SOURCE_IRI_PREFIX}'
             || source || '">' || source
             || '</a><time property="schema:dateCreated" datetime="'
             || '2024-03-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
             || '"></time></div></body></html>' AS html
      FROM documents
    """


def expected_triples_sql() -> str:
    """DuckDB CTE body reconstructing the template's expected triples from
    the pre-registered ``documents`` view — the correctness oracle for the
    whole HTML-tokenizer + RDFa-evaluation pipeline."""
    base = f"""
      SELECT doc_id,
             '{PAGE_URL_PREFIX}' || CAST(doc_id AS VARCHAR) AS url,
             '{PAGE_URL_PREFIX}' || CAST(doc_id AS VARCHAR) || '#it' AS subj,
             array_to_string(string_split(text, ' ')[1:{NAME_WORDS}], ' ') AS name,
             CAST(len(string_split(text, ' ')) AS VARCHAR) AS nw,
             '2024-03-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS dt,
             text, lang, source
      FROM documents
    """
    return f"""
    WITH p AS ({base})
    SELECT url, subj, 'iri' AS subj_kind, pred, obj_value, obj_kind,
           obj_datatype, obj_lang
    FROM (
      SELECT url, subj, '{RDF_TYPE}' AS pred,
             '{SCHEMA_ORG}Article' AS obj_value, 'iri' AS obj_kind,
             CAST(NULL AS VARCHAR) AS obj_datatype,
             CAST(NULL AS VARCHAR) AS obj_lang FROM p
      UNION ALL
      SELECT url, subj, '{SCHEMA_ORG}name', name, 'literal', NULL, lang FROM p
      UNION ALL
      SELECT url, subj, '{SCHEMA_ORG}text', text, 'literal', NULL, lang FROM p
      UNION ALL
      SELECT url, subj, '{SCHEMA_ORG}inLanguage', lang, 'literal', NULL, lang FROM p
      UNION ALL
      SELECT url, subj, '{SCHEMA_ORG}wordCount', nw, 'literal',
             '{XSD}integer', NULL FROM p
      UNION ALL
      SELECT url, subj, '{SCHEMA_ORG}isPartOf',
             '{SOURCE_IRI_PREFIX}' || source, 'iri', NULL, NULL FROM p
      UNION ALL
      SELECT url, subj, '{SCHEMA_ORG}dateCreated', dt, 'literal',
             '{XSD}date', NULL FROM p
    )
    """
