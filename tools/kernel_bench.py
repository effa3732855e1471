"""Time the extraction kernel alone, on one core, over a perfbench
workload's pages.

Two steps, so that two checkouts time the very same pages:

  python tools/kernel_bench.py stage --workload extract --seed 1 \\
      --out /tmp/kb/extract-1.parquet
  python tools/kernel_bench.py time --checkout . \\
      --pages /tmp/kb/extract-1.parquet --passes 5

``stage`` builds the pages as ``perfbench/run.py`` does (its
``Run.stage_inputs``, on a 2-core Spark session; perfbench's modules are
imported, not changed) and writes their ``url``, ``html`` and ``lang``
columns to one parquet file outside the checkout.

``time`` imports the kernel from ``--checkout``, pins itself to one core
and calls ``parse_rdfa(html, base_iri=url, profile="html",
language=lang or None)`` over every staged page, ``--passes`` times.  It
prints one JSON line: the best and median pass, and a digest over each
page's sorted triples and extracted text (``--per-page`` lists the page
digests too).  Two checkouts with equal digests give equal output.

``time --split`` prints four JSON lines instead, one per part, each
with its best and median pass:

- ``kernel``: ``parse_rdfa`` per page, as above (with the digest);
- ``driver``: the HTML driver feeding a sink that does nothing;
- ``extractor``: the extractor replaying each page's recorded driver
  events, without the tokenizer;
- ``emission``: ``extract_triples``' per-triple emission loop
  (``operators.extract._emit_triples``) over each page's triples; a
  checkout without that function reports null.

To compare a change with its parent, stage once, then alternate one
``time`` run per checkout (parent, change, parent, ...) with nothing
else running; never run two at once.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def stage(args) -> None:
    out = Path(args.out).resolve()
    if out.is_relative_to(ROOT):
        sys.exit(f"kernel_bench: write the pages outside the checkout, "
                 f"not to {out}")
    sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    import pyarrow.parquet as pq
    from probe import stop_spark
    from run import Run
    from rdfa_streaming_parser_js_spark.session import get_spark

    with tempfile.TemporaryDirectory(prefix="kernel-bench-") as work:
        run = Run(argparse.Namespace(workload=args.workload, seed=args.seed,
                                     seconds=1, trace=0), Path(work))
        run.spark = get_spark("kernel-bench-stage", parallelism=2)
        run.spark.sparkContext.setLogLevel("ERROR")
        try:
            run.stage_inputs(Path(work) / "stage")
            pages = pq.read_table(run.pages, columns=["url", "html", "lang"])
        finally:
            stop_spark(run.spark)
            run.sampler.stop()
    out.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pages, out)
    print(json.dumps({"pages": pages.num_rows, "out": str(out)}))


class _NullSink:
    """Takes the driver's events and does nothing."""

    def on_tag_open(self, *args) -> None: ...

    def on_plain_open(self, *args) -> None: ...

    def on_text(self, *args) -> None: ...

    def on_tag_close(self) -> None: ...

    def on_end(self) -> None: ...


class _Tape(_NullSink):
    """Records a page's driver events, to replay into an extractor."""

    def __init__(self) -> None:
        self.events: list[tuple] = []

    def on_tag_open(self, name, attributes, *shape) -> None:
        # the extractor may change the dict it gets, so replay copies it
        self.events.append((0, name, attributes.copy(), shape))

    def on_plain_open(self, name, attributes) -> None:
        self.events.append((1, name, attributes, ()))

    def on_text(self, data) -> None:
        self.events.append((2, data, None, ()))

    def on_tag_close(self) -> None:
        self.events.append((3, None, None, ()))

    def on_end(self) -> None:
        self.events.append((4, None, None, ()))


def _replay(extractor, events) -> None:
    opens, plains = extractor.on_tag_open, extractor.on_plain_open
    text, close = extractor.on_text, extractor.on_tag_close
    for kind, a, b, shape in events:
        if kind == 0:
            opens(a, b.copy(), *shape)
        elif kind == 1:
            plains(a, b)
        elif kind == 2:
            text(a)
        elif kind == 3:
            close()
        else:
            extractor.on_end()


def _passes(n: int, one_pass) -> dict:
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        one_pass()
        times.append(time.perf_counter() - t0)
    return {"best_s": round(min(times), 4),
            "median_s": round(statistics.median(times), 4),
            "passes_s": [round(t, 4) for t in times]}


def time_kernel(args) -> None:
    os.sched_setaffinity(0, {args.cpu})
    sys.path.insert(0, str(Path(args.checkout).resolve()))
    import pyarrow.parquet as pq
    from rdfa_streaming_parser_js_spark import kernel
    from rdfa_streaming_parser_js_spark.kernel import RdfaExtractor, parse_rdfa
    from rdfa_streaming_parser_js_spark.kernel.fast_driver import (
        FastHtmlSaxDriver)
    from rdfa_streaming_parser_js_spark.kernel.isomorphism import (
        flatten_triples)

    rows = pq.read_table(args.pages).to_pylist()
    pages = [(r["html"].decode("utf-8", errors="replace"), r["url"],
              r["lang"] or None) for r in rows]
    extractors, digests = [], []
    for html, url, lang in pages:
        ex = parse_rdfa(html, base_iri=url, profile="html", language=lang)
        extractors.append(ex)
        digests.append(hashlib.sha256(repr(
            (sorted(map(repr, flatten_triples(ex.triples))),
             ex.extracted_text())).encode()).hexdigest())

    def whole() -> None:
        for html, url, lang in pages:
            parse_rdfa(html, base_iri=url, profile="html", language=lang)

    result = {
        "kernel": str(Path(kernel.__file__).parent),
        "pages": len(pages),
        "mb": round(sum(len(h) for h, _, _ in pages) / 2**20, 2),
        **_passes(args.passes, whole),
        "digest": hashlib.sha256("".join(digests).encode()).hexdigest(),
    }
    if args.per_page:
        result["page_digests"] = digests
    if not args.split:
        print(json.dumps(result))
        return
    print(json.dumps({"part": "kernel", **result}))

    def driver() -> None:
        for html, _, _ in pages:
            d = FastHtmlSaxDriver(_NullSink())
            d.feed(html)
            d.finish()

    tapes = []
    for html, url, lang in pages:
        tape = _Tape()
        d = FastHtmlSaxDriver(tape)
        d.feed(html)
        d.finish()
        tapes.append((url, lang, tape.events))

    def extractor() -> None:
        for url, lang, events in tapes:
            _replay(RdfaExtractor(base_iri=url, profile="html",
                                  language=lang), events)

    print(json.dumps({"part": "driver", **_passes(args.passes, driver)}))
    print(json.dumps({"part": "extractor",
                      **_passes(args.passes, extractor)}))
    try:
        from rdfa_streaming_parser_js_spark.operators.extract import (
            _emit_triples)
    except ImportError:
        print(json.dumps({"part": "emission", "best_s": None,
                          "median_s": None}))
        return
    urls = [url for _, url, _ in pages]

    def emission() -> None:
        cols: list[list] = [[] for _ in range(7)]
        for url, ex in zip(urls, extractors):
            _emit_triples(cols, url, ex, None)

    print(json.dumps({"part": "emission",
                      "triples": sum(len(ex.triples) for ex in extractors),
                      **_passes(args.passes, emission)}))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    st = sub.add_parser("stage", help="write a workload's pages")
    st.add_argument("--workload", choices=("extract", "extract_small"),
                    required=True)
    st.add_argument("--seed", type=int, required=True)
    st.add_argument("--out", required=True)
    tm = sub.add_parser("time", help="time the kernel over staged pages")
    tm.add_argument("--checkout", default=str(ROOT))
    tm.add_argument("--pages", required=True)
    tm.add_argument("--passes", type=int, default=5)
    tm.add_argument("--cpu", type=int, default=1)
    tm.add_argument("--per-page", action="store_true")
    tm.add_argument("--split", action="store_true",
                    help="also time the driver, the extractor and the "
                         "emission loop apart, one JSON line each")
    args = ap.parse_args()
    if args.cmd == "stage":
        stage(args)
    else:
        time_kernel(args)


if __name__ == "__main__":
    main()
