"""Extraction-quality harness against construction-time ground truth.

The datagen corpus embeds known main-content blocks inside <article> and
known boilerplate (nav/sidebar/ads/footer), so quality is measurable
without human labels:

  * recall    — fraction of GT main paragraphs present verbatim in
                extracted_text
  * leakage   — boilerplate marker strings that appear in extractions
  * boiler-only leakage — docs with no main content that extract anything

Usage: python tools/quality_eval.py [n_docs]
Runs the single-node oracle (the executable spec); the Spark pipeline is
byte-identical by test, so these numbers hold for it too.
"""

from __future__ import annotations

import collections
import json
import os
import re
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from page_segmentation_spark import datagen as dg  # noqa: E402
from page_segmentation_spark.oracle import extract_document  # noqa: E402

BOILER_MARKERS = [
    "Buy now", "Click here to win", "SUBSCRIBE", "Download our FREE",
    "© 2024", "Related",
]


def gt_main_texts(doc_id: int, seed: int = 42) -> list[str]:
    html = dg.make_page(doc_id, seed)["html"].decode()
    m = re.search(r"<article>(.*?)</article>", html, re.S)
    if not m:
        return []
    texts = re.findall(
        r"<(?:h1|p|figcaption)>(.*?)</(?:h1|p|figcaption)>", m.group(1)
    )
    return [" ".join(t.split()) for t in texts if t.strip()]


def hostile_shape_metrics(n_per_shape: int = 40) -> dict:
    """Per-shape recall/leakage over the adversarial fixtures
    (datagen.hostile_page): comment threads, template promos, split
    articles, link-dense prose.  GT and boiler probes come from the
    generator itself, so no regex re-derivation is needed."""
    out = {}
    for shape in dg.HOSTILE_SHAPES:
        tp = fn = leaks = nprobe = 0
        for i in range(n_per_shape):
            row = dg.hostile_page(shape, i)
            ext = extract_document(row["html"])["extracted_text"]
            for g in row["gt_main"]:
                if g in ext:
                    tp += 1
                else:
                    fn += 1
            for b in row["boiler_probe"]:
                nprobe += 1
                if b in ext:
                    leaks += 1
        out[shape] = {
            "recall": round(tp / max(1, tp + fn), 4),
            "leaked_probes": leaks,
            "total_probes": nprobe,
        }
    return out


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 170
    tp = fn = n_eval = boiler_only_leak = 0
    leaks: collections.Counter = collections.Counter()
    for i in range(n_docs):
        ext = extract_document(dg.make_page(i)["html"])["extracted_text"]
        gts = gt_main_texts(i)
        if not gts:
            boiler_only_leak += bool(ext)
            continue
        n_eval += 1
        for g in gts:
            if g in ext:
                tp += 1
            else:
                fn += 1
        for m in BOILER_MARKERS:
            if m in ext:
                leaks[m] += 1
    print(
        json.dumps(
            {
                "docs": n_eval,
                "gt_paragraph_recall": round(tp / max(1, tp + fn), 4),
                "leak_doc_counts": dict(leaks),
                "boiler_only_docs_leaking": boiler_only_leak,
                "hostile_shapes": hostile_shape_metrics(),
            }
        )
    )


if __name__ == "__main__":
    main()
