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


def time_kernel(args) -> None:
    os.sched_setaffinity(0, {args.cpu})
    sys.path.insert(0, str(Path(args.checkout).resolve()))
    import pyarrow.parquet as pq
    from rdfa_streaming_parser_js_spark import kernel
    from rdfa_streaming_parser_js_spark.kernel import parse_rdfa
    from rdfa_streaming_parser_js_spark.kernel.isomorphism import (
        flatten_triples)

    rows = pq.read_table(args.pages).to_pylist()
    pages = [(r["html"].decode("utf-8", errors="replace"), r["url"],
              r["lang"] or None) for r in rows]
    digests = []
    for html, url, lang in pages:
        ex = parse_rdfa(html, base_iri=url, profile="html", language=lang)
        digests.append(hashlib.sha256(repr(
            (sorted(map(repr, flatten_triples(ex.triples))),
             ex.extracted_text())).encode()).hexdigest())
    passes = []
    for _ in range(args.passes):
        t0 = time.perf_counter()
        for html, url, lang in pages:
            parse_rdfa(html, base_iri=url, profile="html", language=lang)
        passes.append(time.perf_counter() - t0)
    result = {
        "kernel": str(Path(kernel.__file__).parent),
        "pages": len(pages),
        "mb": round(sum(len(h) for h, _, _ in pages) / 2**20, 2),
        "best_s": round(min(passes), 4),
        "median_s": round(statistics.median(passes), 4),
        "passes_s": [round(p, 4) for p in passes],
        "digest": hashlib.sha256("".join(digests).encode()).hexdigest(),
    }
    if args.per_page:
        result["page_digests"] = digests
    print(json.dumps(result))


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
    args = ap.parse_args()
    if args.cmd == "stage":
        stage(args)
    else:
        time_kernel(args)


if __name__ == "__main__":
    main()
