"""DuckDB oracle: expected outputs rebuilt from the generating documents.

Extraction outputs are compared per page (url) by row count and an
order-independent checksum (the sum of per-row hashes), so a wrong,
missing or extra triple fails exactly the page it belongs to.  The
expected triples come from the repo's ``*_expected_triples_sql`` helpers,
which reconstruct each template's triples from ``documents`` without
parsing HTML.  Graph-table outputs (canonical graph, manifest, entity
links, VoID) and SPARQL answers are recomputed in DuckDB over the same
files the program wrote.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

from rdfa_streaming_parser_js_spark.operators.entity_link import (
    DEFAULT_ENTITY_NAMES, KB_PREFIX)
from rdfa_streaming_parser_js_spark.operators.void_stats import VOID_NS
from rdfa_streaming_parser_js_spark.sources.pages import (
    PAGE_URL_PREFIX, expected_triples_sql, rich_expected_triples_sql,
    xmlcopy_expected_triples_sql)

from corpus import ARTICLE, RICH, XMLCOPY, Corpus, Query

COLS = "subj, subj_kind, pred, obj_value, obj_kind, obj_datatype, obj_lang"
_DIGEST = f"count(*) AS n, sum(hash({COLS})::HUGEINT) AS h"

_EXPECTED_SQL = {ARTICLE: expected_triples_sql,
                 RICH: rich_expected_triples_sql,
                 XMLCOPY: xmlcopy_expected_triples_sql}

_S = "http://schema.org/"
_RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
DATASET_IRI = "http://corpus.example.org/void/dataset"


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


class Oracle:
    """Expected results for one generated corpus."""

    def __init__(self, corpus: Corpus):
        self.corpus = corpus
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute(
            "CREATE TABLE exp (url VARCHAR, subj VARCHAR, subj_kind VARCHAR, "
            "pred VARCHAR, obj_value VARCHAR, obj_kind VARCHAR, "
            "obj_datatype VARCHAR, obj_lang VARCHAR)")
        for kind, docs in corpus.docs.items():
            self.con.register("documents", docs)
            self.con.execute(
                f"INSERT INTO exp SELECT * FROM ({_EXPECTED_SQL[kind]()})")
            self.con.unregister("documents")
        self.con.execute(f"CREATE TABLE exp_url AS SELECT url, {_DIGEST} "
                         "FROM exp GROUP BY url")
        self.n_pages = corpus.all_docs.num_rows
        self.n_triples = self.con.execute(
            "SELECT count(*) FROM exp").fetchone()[0]

    # -- extraction ---------------------------------------------------------

    def _bad_pages(self, actual_sql: str) -> int:
        """Pages whose triples differ from the expectation (including
        pages missing from the output and urls that should not exist)."""
        return self.con.execute(f"""
            SELECT count(*) FROM exp_url e FULL OUTER JOIN (
              SELECT url, {_DIGEST} FROM {actual_sql} GROUP BY url) a
            USING (url)
            WHERE a.n IS DISTINCT FROM e.n OR a.h IS DISTINCT FROM e.h
        """).fetchone()[0]

    def check_extract(self, triples: pa.Table) -> int:
        """Failed pages of one extract_triples pass."""
        self.con.register("actual", triples)
        try:
            return self._bad_pages("actual")
        finally:
            self.con.unregister("actual")

    # -- the graph build ----------------------------------------------------

    def check_graph(self, graph_dir: str) -> list[str]:
        """Mismatches of a canonical graph table: every distinct triple
        with its first url and page count, and ``n_pages`` = k for the
        triples of urls whose recrawls never changed."""
        problems = []
        graph = _parquet(graph_dir)
        got = self.con.execute(
            f"SELECT count(*), sum(hash({COLS}, first_url, n_pages)::HUGEINT)"
            f" FROM {graph}").fetchone()
        want = self.con.execute(
            f"SELECT count(*), sum(hash({COLS}, first_url, n_pages)::HUGEINT)"
            f" FROM (SELECT {COLS}, min(url) AS first_url,"
            f" count(*) AS n_pages FROM exp GROUP BY ALL)").fetchone()
        if got != want:
            problems.append(f"canonical graph {got} != expected {want}")
        k = self.corpus.k_crawls
        unchanged = [f"{PAGE_URL_PREFIX}{d}#it"
                     for d in sorted(self.corpus.unchanged_ids)]
        if unchanged:
            self.con.register("unchanged", pa.table({"subj": unchanged}))
            wrong_k = self.con.execute(
                f"SELECT count(*) FROM {graph} JOIN unchanged USING (subj) "
                f"WHERE n_pages != {k}").fetchone()[0]
            self.con.unregister("unchanged")
            if wrong_k:
                problems.append(f"{wrong_k} unchanged triples with "
                                f"n_pages != {k}")
        return problems

    def check_build(self, out: str, n_buckets: int) -> list[str]:
        """Every mismatch of one pipeline build's outputs, as messages."""
        problems = []
        raw = _parquet(f"{out}/extract/triples")
        bad = self._bad_pages(raw)
        if bad:
            problems.append(f"{bad} pages with wrong raw triples")

        problems += self.check_graph(f"{out}/graph")

        buckets, commits, pages, triples = self.con.execute(
            f"SELECT list(DISTINCT bucket ORDER BY bucket), count(*), "
            f"sum(n_pages), sum(n_triples) FROM "
            f"read_parquet('{out}/extract/_manifest/*.parquet')").fetchone()
        if (buckets != list(range(n_buckets)) or commits != n_buckets
                or pages != self.n_pages or triples != self.n_triples):
            problems.append(
                f"manifest covers {len(buckets or [])}/{n_buckets} buckets "
                f"in {commits} rows, {pages} pages, {triples} triples")

        void_n = self.con.execute(
            f"SELECT obj_value FROM {_parquet(f'{out}/void')} "
            f"WHERE subj = '{DATASET_IRI}' AND pred = '{VOID_NS}triples'"
        ).fetchall()
        want_n = self.con.execute(
            "SELECT count(*) FROM (SELECT DISTINCT subj, pred, obj_value, "
            "obj_kind, obj_datatype, obj_lang FROM exp)").fetchone()[0]
        if void_n != [(str(want_n),)]:
            problems.append(f"void:triples {void_n} != {want_n}")

        if self._links(f"{_parquet(f'{out}/entity_links')}") \
                != self._expected_links():
            problems.append("entity links differ")
        return problems

    def _links(self, source: str):
        return self.con.execute(
            "SELECT count(*), sum(hash(id, entity_iri, name, n_mentions)"
            f"::HUGEINT) FROM {source}").fetchone()

    def _expected_links(self):
        self.con.register("documents", self.corpus.all_docs)
        names = ", ".join(f"('{n}')" for n in DEFAULT_ENTITY_NAMES)
        try:
            return self._links(f"""(
              WITH m AS (SELECT doc_id AS id,
                                unnest(string_split(text, ' ')) AS token
                         FROM documents),
                   d(name) AS (VALUES {names}),
                   c AS (SELECT id, name, count(*) AS n_mentions
                         FROM m JOIN d ON token = name GROUP BY id, name),
                   r AS (SELECT *, row_number() OVER (PARTITION BY id
                           ORDER BY n_mentions DESC, name) AS rn FROM c)
              SELECT id, '{KB_PREFIX}' || name AS entity_iri, name,
                     n_mentions FROM r WHERE rn = 1)""")
        finally:
            self.con.unregister("documents")

    # -- SPARQL -------------------------------------------------------------

    def load_graph(self, graph_dir: str) -> None:
        self.con.execute(f"CREATE OR REPLACE TABLE g AS SELECT {COLS} "
                         f"FROM {_parquet(graph_dir)}")

    def answer(self, q: Query) -> list:
        """The expected answer of ``q`` over the loaded graph, normalized
        like :func:`normalize`."""
        sql, ordered = _QUERY_SQL[q.cls]
        rows = self.con.execute(sql, list(q.params)).fetchall()
        out = [tuple(None if v is None else str(v) for v in r) for r in rows]
        return out if ordered else sorted(out, key=repr)


def normalize(q: Query, rows: list) -> list:
    """A Spark answer as comparable tuples of lexical strings."""
    if q.cls == "describe":
        rows = [(r.subj, r.pred, r.obj_value, r.obj_kind, r.obj_datatype,
                 r.obj_lang) for r in rows]
    out = [tuple(None if v is None else str(v) for v in r) for r in rows]
    return out if _QUERY_SQL[q.cls][1] else sorted(out, key=repr)


_QUERY_SQL = {
    "lookup": ("SELECT pred, obj_value FROM g WHERE subj = $1", False),
    "analytic": (f"""
        SELECT d.subj, n.obj_value, w.obj_value FROM g d
        JOIN g n ON n.subj = d.subj AND n.pred = '{_S}name'
        JOIN g s ON s.subj = d.subj AND s.pred = '{_S}isPartOf'
                 AND s.obj_value = $1
        LEFT JOIN g w ON w.subj = d.subj AND w.pred = '{_S}wordCount'
        WHERE d.pred = '{_RDF}type' AND d.obj_value = '{_S}Article'
          AND length(n.obj_value) > $2
        ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST LIMIT 10""",
                 True),
    "aggregate": (f"""
        SELECT l.obj_value, count(*) FROM g d
        JOIN g l ON l.subj = d.subj AND l.pred = '{_S}inLanguage'
        JOIN g s ON s.subj = d.subj AND s.pred = '{_S}isPartOf'
                 AND s.obj_value = $1
        WHERE d.pred = '{_RDF}type' AND d.obj_value = '{_S}Article'
        GROUP BY 1""", False),
    "path": (f"""
        WITH RECURSIVE cell(node) AS (
          SELECT obj_value FROM g WHERE subj = $1 AND pred = '{_S}keywords'
          UNION
          SELECT g.obj_value FROM g JOIN cell ON g.subj = cell.node
          WHERE g.pred = '{_RDF}rest')
        SELECT g.obj_value FROM g JOIN cell ON g.subj = cell.node
        WHERE g.pred = '{_RDF}first'""", False),
    "describe": ("""
        WITH RECURSIVE node(id) AS (
          SELECT $1
          UNION
          SELECT g.obj_value FROM g JOIN node ON g.subj = node.id
          WHERE g.obj_kind = 'bnode')
        SELECT subj, pred, obj_value, obj_kind, obj_datatype, obj_lang
        FROM g WHERE subj IN (SELECT id FROM node)""", False),
    "ask": (f"""
        SELECT EXISTS (SELECT 1 FROM g WHERE subj = $1
                       AND pred = '{_S}name' AND contains(obj_value, $2))""",
            False),
}
