"""KG-construction benchmark: ``extract``, ``extract_small``, ``kg_build``
and ``kg_query``.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 20 --trace 0

Runs one seeded workload against the package in the checkout this file
sits in and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0``
reports the end-to-end metrics (``setup_s``, ``op_latency_ms``);
``--trace 1`` is a separate traced run that reports the per-layer
metrics.  Every run also prints the workload operations' figures by name
(``pages_per_s``, ``build_s``, ``query_p50_ms``, ``query_p90_ms``,
``error_rate``, ``peak_rss_mb``) above that line.  BENCHMARK.json at the
root of the checkout lists every metric with its unit and the workloads a
regression check runs, ``extract`` and ``extract_small``.  ``kg_build``
(15-20 s a build) and ``kg_query`` (whole-run latency swings of 20-45 %)
are run by hand; the sweep of every traced run times their layers.

All load comes from this one driver process: Spark runs at
``local[<cores>]`` through ``session.get_spark`` with the library's
defaults.  Every file the run writes lives under ``perfbench/.work/``
(removed at exit) or ``perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import sys
import time
from functools import reduce
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = len(os.sched_getaffinity(0))
MB = 1024 * 1024

STAGED_FILES = 16       # files in each staged pages table
SETUP_REPS = 3          # stagings per run; setup_s takes their median
# Timed operations per run even past --seconds (one more in a traced run,
# which alternates untraced and traced operations).  kg_query runs whole
# rounds of the six query classes, eight of them, which outlast a 20 s
# run: latencies still fall from round to round, so a round count set by
# the clock would let a slow start lower the count and raise the median.
MIN_OPS = {"extract": 2, "extract_small": 2, "kg_build": 1, "kg_query": 48}
HARD_LIMIT_S = 150      # no new operation starts after this
WARM_QUERIES = 18       # kg_query's untimed warm-up queries
# tools/run_pipeline.py's batch-mode arguments.
N_BUCKETS, BUCKETS_PER_COMMIT, HUBS_K = 16, 8, 10

EXTRACT_PAGES = 240
SMALL_PAGES = 16000
RECRAWL_URLS, RECRAWL_K, RECRAWL_CHANGED = 300, 3, 0.25
QUERY_PAGES = 1000

WORKLOADS = ("extract", "extract_small", "kg_build", "kg_query")
OP_OF = {"extract": "pass", "extract_small": "pass", "kg_build": "build",
         "kg_query": "query"}


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _tail(xs) -> tuple[float, int]:
    """(value, p) of the highest percentile p with at least ten samples
    beyond it, capped at p90 and never below the median."""
    n = len(xs)
    p = max(50, min(90, int(100 * (1 - 10 / n)))) if n else 50
    if n < 2:
        return (xs[0] if xs else float("nan")), p
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1], p


def _tree_files(path: Path) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = list(path.rglob("*.parquet"))
    return len(files), sum(f.stat().st_size for f in files)


class Run:
    """One benchmark process: setup, the timed loop, checks, metrics."""

    def __init__(self, args, work: Path):
        from probe import RssSampler, Tracer
        self.workload = args.workload
        self.op = OP_OF[args.workload]  # pass, build or query
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced_run = bool(args.trace)
        self.work = work
        self.tracer = Tracer()
        self.span = self.tracer.span
        self.sampler = RssSampler().start()
        self.attempted = 0
        self.failed = 0
        self.ops: list[tuple[str, float, bool]] = []  # (kind, s, traced)
        self.groups: list[str] = []
        self.query_jobs: list[int] = []
        self.query_rows: list[int] = []
        self.last_build: tuple[Path, dict] | None = None
        self.last_pass_rows = 0
        # Traced run only: the sweep's operations, by kind and by class.
        self.sweep_ops: dict[str, list[float]] = {}
        self.sweep_latency: dict[str, float] = {}
        self.tail_note = "no queries"

    # -- environment --------------------------------------------------------

    def _hermetic_env(self) -> None:
        """Keep every file Spark, the JVM and Python write under ``work``
        and put the package on the Python workers' path."""
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True)
        env = os.environ
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), env.get("PYTHONPATH")) if p)
        env["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        env["TMPDIR"] = str(tmp)
        env["SPARK_SUBMIT_OPTS"] = " ".join(
            p for p in (env.get("SPARK_SUBMIT_OPTS"),
                        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)
        if self.traced_run:
            from probe import EVENT_LOG_CONF
            conf, log = self.work / "conf", self.work / "eventlog"
            conf.mkdir()
            log.mkdir()
            (conf / "spark-defaults.conf").write_text(
                EVENT_LOG_CONF.format(dir=log))
            env["SPARK_CONF_DIR"] = str(conf)
        import tempfile
        tempfile.tempdir = None
        os.chdir(self.work)

    # -- calls into the program ---------------------------------------------

    def stage(self, corpus, rep_dir: Path) -> tuple[Path, Path]:
        """Write the documents tables, build pages with the repo's
        generators, splice in boilerplate and stage the pages table."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F
        from rdfa_streaming_parser_js_spark.sources import pages as src
        from corpus import ARTICLE, RICH, XMLCOPY, boilerplate
        gens = {ARTICLE: src.pages_from_documents,
                RICH: src.rich_pages_from_documents,
                XMLCOPY: src.xmlcopy_pages_from_documents}
        with self.span("sources.generate"):
            frames = []
            for kind, docs in {**corpus.docs, "all": corpus.all_docs}.items():
                d = rep_dir / "docs" / kind
                d.mkdir(parents=True)
                pq.write_table(docs, d / "documents.parquet")
                if kind in gens:
                    frame = gens[kind](self.spark, str(d))
                    if kind != ARTICLE:
                        # Only the article template declares a language;
                        # the others are extracted without one.
                        frame = frame.withColumn("lang", F.lit(None)
                                                 .cast("string"))
                    frames.append(frame)
            pages = (reduce(DataFrame.unionByName, frames).toArrow()
                     .sort_by([("page_id", "ascending"),
                               ("text", "ascending")]))
            if corpus.boiler_bytes:
                rng = random.Random(f"{self.seed}:boilerplate")
                html = []
                for pid, h in zip(pages.column("page_id").to_pylist(),
                                  pages.column("html").to_pylist()):
                    s = h.decode()
                    n = corpus.boiler_bytes[pid]
                    pre = boilerplate(rng, n * 2 // 5)
                    post = boilerplate(rng, n - len(pre))
                    i, j = s.index("<div"), s.rindex("</body>")
                    html.append((s[:i] + pre + s[i:j] + post + s[j:]).encode())
                pages = pages.set_column(pages.schema.get_field_index("html"),
                                         "html", pa.array(html, pa.binary()))
            order = list(range(pages.num_rows))
            random.Random(f"{self.seed}:order").shuffle(order)
            pages = pages.take(order)
            out = rep_dir / "pages"
            out.mkdir()
            step = -(-pages.num_rows // STAGED_FILES)
            for f in range(STAGED_FILES):
                pq.write_table(pages.slice(f * step, step),
                               out / f"part-{f:05d}.parquet")
        self.n_pages = pages.num_rows
        self.html_bytes = sum(len(h) for h in
                              pages.column("html").to_pylist())
        return out, rep_dir / "docs" / "all"

    def warm_workers(self, pages: Path) -> None:
        from rdfa_streaming_parser_js_spark.operators.extract import (
            extract_triples)
        with self.span("session.worker_warm"):
            extract_triples(
                self.spark.read.parquet(str(pages)).limit(4)).count()

    def extract_pass(self, pages: Path):
        from rdfa_streaming_parser_js_spark.operators.extract import (
            extract_triples)
        with self.span("extract.extract_triples"):
            out = extract_triples(self.spark.read.parquet(str(pages))
                                  ).toArrow()
        self.last_pass_rows = out.num_rows
        return out

    def build(self, pages: Path, docs: Path, out: Path) -> dict:
        """tools/run_pipeline.py's batch pipeline into ``out``."""
        from rdfa_streaming_parser_js_spark.operators.canonicalize import (
            hub_subjects, materialize_graph)
        from rdfa_streaming_parser_js_spark.operators.entity_link import (
            best_entity_per_doc, entity_dictionary)
        from rdfa_streaming_parser_js_spark.operators.validate import (
            shacl_report)
        from rdfa_streaming_parser_js_spark.operators.void_stats import (
            void_description)
        from rdfa_streaming_parser_js_spark.plans.lineage import (
            CheckpointedExtraction)
        from oracle import DATASET_IRI
        spark = self.spark
        with self.span("lineage.run"):
            ck = CheckpointedExtraction(f"{out}/extract", n_buckets=N_BUCKETS)
            info = ck.run(spark.read.parquet(str(pages)),
                          buckets_per_commit=BUCKETS_PER_COMMIT)
        with self.span("lineage.triples"):
            triples = ck.triples(spark)
        with self.span("canonicalize.materialize_graph"):
            materialize_graph(triples, f"{out}/graph")
        self.last_build = (out, info)
        with self.span("canonicalize.hub_subjects"):
            hub_subjects(triples, k=HUBS_K).collect()
        graph_set = triples.select("subj", "pred", "obj_value", "obj_kind",
                                   "obj_datatype", "obj_lang").distinct()
        with self.span("validate.shacl_report"):
            shacl_report(triples, SHAPES).write.mode("overwrite").parquet(
                f"{out}/shacl_report")
        with self.span("void_stats.void_description"):
            void_description(graph_set, DATASET_IRI).write.mode(
                "overwrite").parquet(f"{out}/void")
        with self.span("entity_link.best_entity_per_doc"):
            docs_df = spark.read.parquet(f"{docs}/documents.parquet")
            best_entity_per_doc(docs_df, entity_dictionary(spark)).write.mode(
                "overwrite").parquet(f"{out}/entity_links")
        return info

    def query(self, graph, q, group: str | None = None) -> list:
        from rdfa_streaming_parser_js_spark.operators.sparql import (
            parse_sparql, sparql_query)
        if self.tracer.enabled:
            with self.span("sparql.parse_sparql"):
                parse_sparql(q.text)
        with self.span("sparql.sparql_query"):
            df = sparql_query(graph, q.text)
        with self.span("sparql.collect"):
            rows = df.collect()
        if self.tracer.enabled and group is not None:
            self.query_jobs.append(len(
                self.spark.sparkContext.statusTracker()
                .getJobIdsForGroup(group)))
            self.query_rows.append(len(rows))
        return rows

    # -- checks -------------------------------------------------------------

    def _fail(self, what: str) -> None:
        print(f"perfbench: oracle mismatch: {what}", file=sys.stderr)

    def check_pass(self, triples) -> None:
        bad = self.oracle.check_extract(triples)
        self.attempted += self.oracle.n_pages
        self.failed += bad
        if bad:
            self._fail(f"{bad} pages of an extract pass")

    def check_graph(self, graph_dir: Path) -> None:
        problems = self.oracle.check_graph(str(graph_dir))
        self.attempted += 1
        self.failed += bool(problems)
        for p in problems:
            self._fail(p)

    def check_build(self, out: Path) -> None:
        problems = self.oracle.check_build(str(out), N_BUCKETS)
        self.attempted += 1
        self.failed += bool(problems)
        for p in problems:
            self._fail(p)

    def check_query(self, q, rows) -> None:
        from oracle import normalize
        self.attempted += 1
        if normalize(q, rows) != self.oracle.answer(q):
            self.failed += 1
            self._fail(f"{q.cls} query {q.text!r}")

    # -- workload phases ----------------------------------------------------

    def make_corpus(self):
        import corpus as C
        if self.workload == "extract":
            return C.extract_corpus(self.seed, EXTRACT_PAGES)
        if self.workload == "extract_small":
            return C.template_corpus(self.seed, SMALL_PAGES)
        if self.workload == "kg_build":
            return C.recrawl_corpus(self.seed, RECRAWL_URLS, RECRAWL_K,
                                    RECRAWL_CHANGED)
        return C.template_corpus(self.seed, QUERY_PAGES)

    def stage_inputs(self, rep_dir: Path) -> None:
        """Generate the seeded corpus and stage it as tables under
        ``rep_dir``; repeated in setup, the last staging is the one used."""
        self.corpus = self.make_corpus()
        self.pages, self.docs = self.stage(self.corpus, rep_dir)

    def warm_up(self) -> None:
        """Worker start plus one untimed operation of the workload; for
        kg_query also the graph table the queries read."""
        from corpus import query_mix
        self.warm_workers(self.pages)
        if self.op == "pass":
            self.extract_pass(self.pages)
        elif self.op == "build":
            self.build(self.pages, self.docs, self.work / "warm")
        else:
            from rdfa_streaming_parser_js_spark.operators.canonicalize import (
                materialize_graph)
            from rdfa_streaming_parser_js_spark.operators.extract import (
                extract_triples)
            self.graph_dir = self.work / "kg" / "graph"
            with self.span("canonicalize.materialize_graph"):
                materialize_graph(extract_triples(
                    self.spark.read.parquet(str(self.pages))),
                    str(self.graph_dir))
            self.graph = self.spark.read.parquet(str(self.graph_dir))
            # Query latencies keep falling over the first rounds of the
            # mix; three untimed rounds take the steepest part of that fall.
            for q in query_mix(self.seed, self.corpus, WARM_QUERIES,
                               tag="warm"):
                self.query(self.graph, q)

    def timed_op(self, i: int) -> None:
        """Operation ``i`` of the measured loop, then its checks."""
        kind = self.op
        group = f"op-{i}"
        self.groups.append(group)
        self.spark.sparkContext.setJobGroup(group, "perfbench " + kind)
        # A traced run alternates untraced and traced operations; the
        # difference between the two is the cost of the trace itself.
        traced = self.traced_run and i % 2 == 1
        self.tracer.enabled = traced
        if self.op == "query":
            q = self.mix[i % len(self.mix)]
            kind = q.cls
        t0 = time.perf_counter()
        with self.span("op." + kind, op=group):
            if self.op == "pass":
                result = self.extract_pass(self.pages)
            elif self.op == "build":
                out = self.work / "builds" / f"b{i}"
                self.build(self.pages, self.docs, out)
            else:
                result = self.query(self.graph, q, group)
        self.ops.append((kind, time.perf_counter() - t0, traced))
        self.tracer.enabled = self.traced_run
        if self.op == "pass":
            self.check_pass(result)
        elif self.op == "build":
            self.check_build(out)
            if self.prev_build is not None:  # cleanup stays untimed
                shutil.rmtree(self.prev_build)
            self.prev_build = out
        else:
            self.check_query(q, result)

    def sweep(self) -> None:
        """Traced run only: one extract pass, one build and one query of
        each class — whichever the workload's own loop does not run — on
        the workload's own inputs, so that every per-layer metric is
        measured in every traced run."""
        from corpus import query_mix
        sc = self.spark.sparkContext
        sc.setJobGroup("sweep", "perfbench sweep")

        def timed(kind, fn, *args):
            t0 = time.perf_counter()
            result = fn(*args)
            self.sweep_ops.setdefault(kind, []).append(
                time.perf_counter() - t0)
            return result

        with self.span("sweep", op="sweep"):
            if self.op != "pass":
                self.check_pass(timed("pass", self.extract_pass, self.pages))
            if self.op != "build":
                out = self.work / "sweep_build"
                timed("build", self.build, self.pages, self.docs, out)
                self.check_build(out)
            if self.op != "query":
                graph_dir = self.last_build[0] / "graph"
                self.oracle.load_graph(str(graph_dir))
                graph = self.spark.read.parquet(str(graph_dir))
                for j, q in enumerate(query_mix(self.seed, self.corpus, 6,
                                                tag="sweep")):
                    sc.setJobGroup(f"sweep-q{j}", "perfbench sweep")
                    rows = timed("query", self.query, graph, q, f"sweep-q{j}")
                    self.sweep_latency[q.cls] = self.sweep_ops["query"][-1]
                    self.check_query(q, rows)
                sc.setJobGroup("sweep", "perfbench sweep")
            with self.span("sources.scan"):
                from pyspark.sql import functions as F
                scanned = (self.spark.read.parquet(str(self.pages))
                           .select(F.sum(F.length("html"))).first()[0])
            self.attempted += 1
            if scanned != self.html_bytes:
                self.failed += 1
                self._fail(f"scan read {scanned} html bytes, "
                           f"staged {self.html_bytes}")

    def kernel_baseline(self) -> dict:
        """Direct single-process parse_rdfa calls on a seeded sample of
        the staged pages: the single-core baseline."""
        import pyarrow.parquet as pq
        from rdfa_streaming_parser_js_spark.kernel import parse_rdfa
        tbl = pq.read_table(self.pages, columns=["url", "html", "lang"])
        n = tbl.num_rows
        idx = sorted(random.Random(f"{self.seed}:kernel").sample(
            range(n), max(16, n // 10)))
        rows = tbl.take(idx).to_pylist()
        triples = errors = size = 0
        t0 = time.perf_counter()
        with self.span("kernel.parse_rdfa", op="kernel"):
            for r in rows:
                size += len(r["html"])
                try:
                    ex = parse_rdfa(r["html"], base_iri=r["url"],
                                    profile="html",
                                    language=r["lang"] or None)
                except Exception:  # noqa: BLE001 — counted, not raised
                    errors += 1
                    continue
                triples += len(ex.triples)
                errors += ex.parse_error is not None
        secs = time.perf_counter() - t0
        return {"kernel.pages_per_s_1core": len(rows) / secs,
                "kernel.mb_per_s_1core": size / MB / secs,
                "kernel.triples_per_page": triples / len(rows),
                "kernel.parse_errors": errors}

    # -- the run ------------------------------------------------------------

    def run(self) -> dict:
        from corpus import QUERY_CLASSES, query_mix
        from oracle import Oracle
        from probe import spark_metrics, stop_spark
        from rdfa_streaming_parser_js_spark.session import get_spark

        self._hermetic_env()
        self.tracer.enabled = self.traced_run
        started = time.perf_counter()
        with self.span("session.get_spark", op="setup"):
            self.spark = get_spark(f"perfbench-{self.workload}",
                                   parallelism=CORES)
            self.spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - started
        # Staging is repeated and its median taken; the warm-up runs once,
        # since a second one would find everything already warm.
        reps = []
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            with self.span("setup.stage", op="setup"):
                self.stage_inputs(self.work / f"rep{r}")
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        with self.span("setup.warm_up", op="setup"):
            self.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + _median(reps) + warm_s
        # Start the timed loop from a collected heap in both processes, so
        # that garbage left by setup does not land in the first operations.
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()

        self.oracle = Oracle(self.corpus)
        if self.op == "query":
            self.check_graph(self.graph_dir)
            self.oracle.load_graph(str(self.graph_dir))
            self.mix = query_mix(self.seed, self.corpus, 1200)
        self.prev_build = None
        min_ops = MIN_OPS[self.workload] + self.traced_run
        t_start = time.perf_counter()
        i = 0
        round_len = len(QUERY_CLASSES) if self.op == "query" else 1
        while ((time.perf_counter() - t_start < self.seconds or i < min_ops
                or i % round_len)
               and time.perf_counter() - started < HARD_LIMIT_S):
            self.timed_op(i)
            i += 1

        metrics = {}
        if self.traced_run:
            self.sweep()
            metrics.update(self.kernel_baseline())
            metrics.update(self.layer_metrics(session_s))
        figures = self.op_figures()
        stop_spark(self.spark)
        figures["peak_rss_mb"] = (self.sampler.stop() / MB, "MB")
        if self.traced_run:
            metrics.update({k: v for k, (v, _) in figures.items()})
            metrics["extract.core_efficiency"] = metrics["pages_per_s"] / (
                CORES * metrics["kernel.pages_per_s_1core"])
            metrics.update(spark_metrics(self.work / "eventlog",
                                         set(self.groups)))
            self.tracer.dump(
                HERE / "traces" / f"{self.workload}-seed{self.seed}.json",
                {"ops": self.ops, "metrics": metrics})
        e2e = {"setup_s": (setup_s, "s"),
               "op_latency_ms": (self.op_latency_s() * 1000, "ms")}
        self.print_report(e2e, figures, metrics, setup_reps=reps,
                          warm_s=warm_s)
        if self.traced_run:
            chosen = {k: (metrics[k], u) for k, u in PER_LAYER_UNITS.items()}
        else:
            chosen = e2e
        return {"correct": self.failed == 0 and self.attempted > 0,
                "attempted": self.attempted, "failed": self.failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in chosen.items()}}

    # -- metrics ------------------------------------------------------------

    def _durations(self, name: str) -> list[float]:
        """Durations of a span outside setup, or in setup when the
        workload only calls that layer there (kg_query's graph build)."""
        spans = [s for s in self.tracer.spans if s["name"] == name]
        timed = [s for s in spans if s["op"] != "setup"]
        return [s["end"] - s["start"] for s in (timed or spans)]

    def layer_metrics(self, session_s: float) -> dict:
        import duckdb
        d = self._durations
        m = {"session.start_s": session_s,
             "session.worker_warm_s": d("session.worker_warm")[0],
             "sources.generate_s": _median(d("sources.generate")),
             "sources.pages": self.n_pages,
             "sources.html_mb": self.html_bytes / MB,
             "sources.scan_s": _median(d("sources.scan"))}
        pass_s = _median(d("extract.extract_triples"))
        m.update({"extract.pass_s": pass_s,
                  "extract.rows_in": self.n_pages,
                  "extract.rows_out": self.last_pass_rows,
                  "extract.html_mb_per_s": self.html_bytes / MB / pass_s})

        out, info = self.last_build
        con = duckdb.connect()
        manifest = con.execute(
            "SELECT median(commit_wall_sec), sum(n_triples) FROM "
            f"(SELECT DISTINCT run_id, committed_at, commit_wall_sec, "
            f"bucket, n_triples FROM read_parquet("
            f"'{out}/extract/_manifest/*.parquet'))").fetchone()
        lin_files, lin_bytes = _tree_files(out / "extract")
        run_s = _median(d("lineage.run"))
        m.update({"lineage.run_s": run_s,
                  "lineage.commits": info["commits"],
                  "lineage.commit_s_p50": manifest[0],
                  "lineage.overhead_s": run_s - pass_s,
                  "lineage.files_written": lin_files,
                  "lineage.mb_written": lin_bytes / MB})
        g_files, g_bytes = _tree_files(out / "graph")
        rows_out = con.execute(
            f"SELECT count(*) FROM read_parquet('{out}/graph/**/*.parquet')"
        ).fetchone()[0]

        def rows(sub: str) -> int:
            if not (out / sub).exists():
                return 0
            return con.execute(f"SELECT count(*) FROM read_parquet("
                               f"'{out}/{sub}/*.parquet')").fetchone()[0]
        m.update({"canonicalize.materialize_s":
                  _median(d("canonicalize.materialize_graph")),
                  "canonicalize.rows_in": manifest[1],
                  "canonicalize.rows_out": rows_out,
                  "canonicalize.dedup_ratio": rows_out / manifest[1],
                  "canonicalize.files_written": g_files,
                  "canonicalize.bytes_per_triple": g_bytes / rows_out,
                  "canonicalize.hubs_s": _median(
                      d("canonicalize.hub_subjects")),
                  "validate.shacl_s": _median(d("validate.shacl_report")),
                  "validate.violations": rows("shacl_report"),
                  "void_stats.s": _median(d("void_stats.void_description")),
                  "entity_link.s": _median(
                      d("entity_link.best_entity_per_doc")),
                  "entity_link.links": rows("entity_links")})
        con.close()

        from corpus import QUERY_CLASSES
        m.update({"sparql.parse_ms_p50":
                  _median(d("sparql.parse_sparql")) * 1000,
                  "sparql.plan_ms_p50":
                  _median(d("sparql.sparql_query")) * 1000,
                  "sparql.exec_ms_p50": _median(d("sparql.collect")) * 1000,
                  "sparql.jobs_per_query": _median(self.query_jobs),
                  "sparql.rows_p50": _median(self.query_rows)})
        for cls in QUERY_CLASSES:
            m[f"sparql.{cls}_p50_ms"] = _median(self._class_latency(cls)) * 1000

        per_kind = {}
        for kind, s, traced in self.ops:
            per_kind.setdefault(kind, ([], []))[traced].append(s)
        # Per kind (query class) so the class mix of the traced and the
        # untraced half does not masquerade as tracing cost.
        pairs = [(_median(t), _median(u)) for u, t in per_kind.values()
                 if u and t]
        m["trace.overhead_pct"] = 100 * (
            sum(t for t, _ in pairs) / sum(u for _, u in pairs) - 1)
        return m

    def op_latency_s(self) -> float:
        """The end-to-end latency of the untraced timed operations: the
        median operation, except on kg_query, where it is the geometric
        mean over the query classes of each class's median latency, so
        that the whole mix sets it rather than whichever class the overall
        median happens to fall in."""
        by_kind: dict[str, list[float]] = {}
        for kind, secs, traced in self.ops:
            if not traced:
                by_kind.setdefault(kind, []).append(secs)
        if self.op != "query":
            return _median([s for v in by_kind.values() for s in v])
        return statistics.geometric_mean(_median(v) for v in by_kind.values())

    def op_figures(self) -> dict[str, tuple[float, str]]:
        """The workload operations' own figures, by the names a user reads:
        the timed loop's untraced operations give the workload's own
        kind, the traced run's sweep gives the other two kinds."""
        native = self.op
        plain = [s for _, s, traced in self.ops if not traced]
        times = {**self.sweep_ops, native: plain}
        f = {}
        if times.get("pass"):
            f["pages_per_s"] = (self.n_pages / _median(times["pass"]),
                                "pages/s")
        if times.get("build"):
            f["build_s"] = (_median(times["build"]), "s")
        if times.get("query"):
            tail, p = _tail(times["query"])
            f["query_p50_ms"] = (_median(times["query"]) * 1000, "ms")
            f["query_p90_ms"] = (tail * 1000, "ms")
            self.tail_note = (f"query_p90_ms is p{p} of "
                              f"{len(times['query'])} queries")
        f["error_rate"] = (self.failed / max(1, self.attempted), "ratio")
        return f

    def _class_latency(self, cls: str) -> list[float]:
        """Traced latencies of one query class: the timed loop's on
        kg_query, the sweep's elsewhere."""
        timed = [s for k, s, traced in self.ops if k == cls and traced]
        return timed or [self.sweep_latency[cls]]

    def print_report(self, e2e: dict, figures: dict, metrics: dict,
                     setup_reps, warm_s: float) -> None:
        lat = [s for _, s, _ in self.ops]
        print(f"perfbench {self.workload} seed={self.seed} cores={CORES} "
              f"ops={len(lat)} pages={self.n_pages} "
              f"html_mb={self.html_bytes / MB:.2f} "
              f"stage_reps_s={[round(r, 3) for r in setup_reps]} "
              f"warm_up_s={warm_s:.3f}")
        for k, (v, u) in {**e2e, **figures}.items():
            print(f"  {k} = {v:.6g} {u}")
        print(f"  ({self.failed} of {self.attempted} checks failed; "
              f"{self.tail_note})")
        by_kind: dict[str, list[float]] = {}
        for kind, secs, _ in self.ops:
            by_kind.setdefault(kind, []).append(secs * 1000)
        print("  timed ms: " + ", ".join(
            f"{k}={[round(x) for x in v]}" for k, v in by_kind.items()))
        if not self.traced_run:
            return
        traced_ops = {g for g, (_, _, t) in zip(self.groups, self.ops) if t}
        selft = self.tracer.self_times(traced_ops)
        wall = sum(s for _, s, t in self.ops if t)
        n = max(1, len(traced_ops))
        print(f"  self time per traced {self.op} "
              f"(mean of {len(traced_ops)}):")
        for layer, s in sorted(selft.items(), key=lambda kv: -kv[1]):
            name = "uncovered" if layer == "op" else layer
            print(f"    {name:<14} {s / n:9.4f} s  {100 * s / wall:5.1f}%")
        print(f"    {'sum':<14} {sum(selft.values()) / n:9.4f} s  "
              f"(op wall {wall / n:.4f} s)")
        for k, v in metrics.items():
            if k not in figures:
                print(f"  {k} = {v:.6g} {PER_LAYER_UNITS[k]}")


SHAPES = None  # filled by _shapes() once the package is importable


def _shapes():
    from rdfa_streaming_parser_js_spark.operators.validate import (
        PropertyShape)
    schema_org = "http://schema.org/"
    xsd = "http://www.w3.org/2001/XMLSchema#"
    # The publish-gating shapes of tools/run_pipeline.py.
    return [
        PropertyShape("sh:article-name", f"{schema_org}Article",
                      f"{schema_org}name", min_count=1, max_count=1),
        PropertyShape("sh:article-src", f"{schema_org}Article",
                      f"{schema_org}isPartOf", node_kind="iri"),
        PropertyShape("sh:article-wc", f"{schema_org}Article",
                      f"{schema_org}wordCount", datatype=f"{xsd}integer"),
    ]


def _per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s", "session.worker_warm_s": "s",
        "sources.generate_s": "s", "sources.pages": "count",
        "sources.html_mb": "MB", "sources.scan_s": "s",
        "kernel.pages_per_s_1core": "pages/s", "kernel.mb_per_s_1core": "MB/s",
        "kernel.triples_per_page": "triples/page",
        "kernel.parse_errors": "count",
        "extract.pass_s": "s", "extract.rows_in": "rows",
        "extract.rows_out": "rows", "extract.html_mb_per_s": "MB/s",
        "extract.core_efficiency": "ratio",
        "lineage.run_s": "s", "lineage.commits": "count",
        "lineage.commit_s_p50": "s", "lineage.overhead_s": "s",
        "lineage.files_written": "count", "lineage.mb_written": "MB",
        "canonicalize.materialize_s": "s", "canonicalize.rows_in": "rows",
        "canonicalize.rows_out": "rows", "canonicalize.dedup_ratio": "ratio",
        "canonicalize.files_written": "count",
        "canonicalize.bytes_per_triple": "B/triple",
        "canonicalize.hubs_s": "s",
        "validate.shacl_s": "s", "validate.violations": "count",
        "void_stats.s": "s", "entity_link.s": "s",
        "entity_link.links": "count",
        "sparql.parse_ms_p50": "ms", "sparql.plan_ms_p50": "ms",
        "sparql.exec_ms_p50": "ms", "sparql.jobs_per_query": "jobs",
        "sparql.rows_p50": "rows",
        "spark.jobs": "jobs/op", "spark.stages": "stages/op",
        "spark.tasks": "tasks/op", "spark.tasks_failed": "tasks/op",
        "spark.executor_run_s": "s/op", "spark.executor_cpu_s": "s/op",
        "spark.jvm_gc_s": "s/op", "spark.shuffle_write_mb": "MB/op",
        "spark.shuffle_read_mb": "MB/op", "spark.output_mb": "MB/op",
        "spark.spill_mb": "MB/op", "spark.task_skew": "ratio",
        "trace.overhead_pct": "%",
        "pages_per_s": "pages/s", "build_s": "s", "query_p50_ms": "ms",
        "query_p90_ms": "ms", "error_rate": "ratio", "peak_rss_mb": "MB",
    }
    for cls in ("lookup", "analytic", "aggregate", "path", "describe", "ask"):
        units[f"sparql.{cls}_p50_ms"] = "ms"
    return units


PER_LAYER_UNITS = _per_layer_units()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import rdfa_streaming_parser_js_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not in {ROOT}: {e}",
              file=sys.stderr)
        return 2
    global SHAPES
    SHAPES = _shapes()
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    cwd = os.getcwd()
    bench = Run(args, work)
    try:
        result = bench.run()
    except BaseException:
        # A failed run still ends the JVM and the Python workers it started.
        if getattr(bench, "spark", None) is not None:
            from probe import stop_spark
            stop_spark(bench.spark)
        raise
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # Python salts string hashes per process unless PYTHONHASHSEED is set,
    # and the SPARQL planner iterates sets of variable names, so one query
    # text may get a different plan in each process.  A fixed salt gives
    # every run the same plans; the Spark workers inherit it.
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    sys.exit(main())
