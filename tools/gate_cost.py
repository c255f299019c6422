"""One-core cost of the corpus funnel's gates next to extraction, in
mean microseconds per document, for comparing two checkouts.

Over ``datagen.make_page(0..N-1)`` it times, in this one process and
without Spark: ``oracle.classify_document`` and ``oracle.render`` per
page; the funnel's per-document gate (``plans.training_corpus._gate``,
default options) per page text; and, split by gate, ``c4_document``
over every text, then ``gopher_document`` and ``detect_lang`` over the
clean text of the pages C4 keeps.  Each figure is the best of
``--reps`` timed loops over all documents.  Compare two checkouts:

    python tools/gate_cost.py
    python tools/gate_cost.py --tree ../parent

Usage: python tools/gate_cost.py [N=1500] [--reps R] [--tree PATH]
"""

from __future__ import annotations

import argparse
import inspect
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def best_us(fn, items, reps: int) -> float:
    """Best of ``reps`` loops of ``fn`` over ``items``, µs per item."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        best = min(best, time.perf_counter() - t0)
    return best / max(len(items), 1) * 1e6


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("n", nargs="?", type=int, default=1500)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--tree", default=ROOT,
                    help="checkout whose page_segmentation_spark is imported")
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.tree))

    from page_segmentation_spark import datagen as dg
    from page_segmentation_spark.functions import text as T
    from page_segmentation_spark.config import ExtractSettings
    from page_segmentation_spark.oracle import (
        classify_document, render, resolve,
    )
    from page_segmentation_spark.plans.training_corpus import _gate

    print(f"package: {os.path.dirname(dg.__file__)}", file=sys.stderr)
    settings = ExtractSettings()
    engine = resolve(settings)
    pages = [dg.make_page(i)["html"] for i in range(args.n)]
    docs = [classify_document(h, settings, engine) for h in pages]
    texts = [render(d, settings) for d in docs]

    def defaults(fn):
        return {
            k: p.default
            for k, p in inspect.signature(fn).parameters.items()
            if p.default is not inspect.Parameter.empty
        }

    c4, gopher = defaults(T.c4_document), defaults(T.gopher_document)
    kept = [c[0] for c in map(T.c4_document, texts) if c[3]]
    rows = {
        "classify_document": best_us(
            lambda h: classify_document(h, settings, engine), pages,
            args.reps),
        "render": best_us(lambda d: render(d, settings), docs, args.reps),
        "gates": best_us(lambda t: _gate(t, c4, gopher), texts, args.reps),
        "c4": best_us(T.c4_document, texts, args.reps),
        "gopher_on_kept": best_us(T.gopher_document, kept, args.reps),
        "lang_on_kept": best_us(T.detect_lang, kept, args.reps),
    }
    print(f"docs={len(texts)} c4_kept={len(kept)} reps={args.reps}")
    for name, us in rows.items():
        print(f"{name}_us_per_doc {us:.1f}")
    print(f"gates_over_classify "
          f"{rows['gates'] / rows['classify_document']:.3f}")


if __name__ == "__main__":
    main()
