"""Train the 'trained_v1' scorer architecture end-to-end and print its
weight/bias literals for functions/architectures.py.

The full Trainer lifecycle (SURVEY §3.2, reference lib/trainer.py:110-159)
over construction-time ground truth:

  1. corpus  — datagen pages (deterministic, seed 42);
  2. labels  — a node is main (1) iff its normalized text is one of the
     page's GT article blocks (the same construction GT quality_eval
     scores against); zero-char nodes are media (2); the rest boiler (0);
  3. features — the SAME shared feature pyramid the extraction pipeline
     builds (classified_nodes), so trained weights plug straight into the
     deterministic scorer;
  4. fit     — distributed multinomial LR (plans/train.py), fixed seed;
  5. report  — label baseline, trained-vs-GT eval, and the exported
     literals (paste into architectures.TRAINED_V1 — weights are frozen
     there, with this file as the reproduction recipe).

Usage: python tools/train_arch.py [n_pages]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from page_segmentation_spark import datagen as dg  # noqa: E402
from page_segmentation_spark.config import ExtractSettings  # noqa: E402
from page_segmentation_spark.functions.architectures import (  # noqa: E402
    Arch,
    register_architecture,
)
from page_segmentation_spark.plans.extract import classified_nodes  # noqa: E402
from page_segmentation_spark.plans.train import (  # noqa: E402
    evaluate,
    label_baseline,
    train_scorer,
)
from page_segmentation_spark.session import get_spark  # noqa: E402


def gt_main_texts(doc_id: int, seed: int = 42) -> list[str]:
    """Construction GT: normalized texts of the article's blocks (the
    quality_eval derivation — title + h1/p/figcaption inside <article>)."""
    html = dg.make_page(doc_id, seed)["html"].decode()
    m = re.search(r"<article>(.*?)</article>", html, re.S)
    if not m:
        return []
    texts = re.findall(
        r"<(?:h1|p|figcaption)>(.*?)</(?:h1|p|figcaption)>", m.group(1)
    )
    return [" ".join(t.split()) for t in texts if t.strip()]


def template_pages(n: int) -> list[tuple]:
    """Article-first wrapped-document pages (the pages_from_documents
    fixture template shape, incl. short digit-heavy 'Document K' titles
    — absent from the datagen corpus, so training only on datagen
    underfits exactly that node shape).  Returns (url, html, gt_texts)."""
    import random

    pad = ("The quick brown fox jumps over the lazy dog near the river "
           "bank today")
    out = []
    for i in range(n):
        rng = random.Random(7_000_000 + i)
        k = rng.randrange(10 ** rng.randint(1, 7))  # 1-7 digit doc ids
        words = [rng.choice(dg._WORDS_EN) for _ in range(rng.randint(4, 60))]
        text = " ".join(words)
        title = f"Document {k}"
        p1 = f"{text} {pad}"
        p2 = f"{text[::-1]} {pad}"
        html = (
            "<!DOCTYPE html><html><head><title>t</title>"
            "<script>x()</script></head><body>"
            f"<article><h1>{title}</h1><p>{p1}</p><p>{p2}</p></article>"
            '<aside><ul><li><a href="/p/1">More like this one</a></li>'
            '<li><a href="/p/2">Another related link</a></li>'
            '<li><a href="/p/3">A third suggestion</a></li></ul></aside>'
            '<nav><ul><li><a href="/">Home</a></li>'
            '<li><a href="/about">About</a></li></ul></nav>'
            "</body></html>"
        )
        out.append((f"https://template.test/{i}", html.encode("utf-8"),
                    [title, " ".join(p1.split()), " ".join(p2.split())]))
    return out


def hostile_pages(n_per_shape: int) -> list[tuple]:
    """Adversarial fixtures with construction GT — the shapes whose
    boilerplate (comment threads, promos, cookie banners) the kind
    corpus lacks; training without them leaks probes."""
    out = []
    for shape in dg.HOSTILE_SHAPES:
        for i in range(n_per_shape):
            row = dg.hostile_page(shape, i)
            out.append((row["url"], row["html"], list(row["gt_main"])))
    return out


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 300
    n_template = int(sys.argv[2]) if len(sys.argv) > 2 else 150
    n_hostile = int(sys.argv[3]) if len(sys.argv) > 3 else 15
    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    extra = template_pages(n_template) + hostile_pages(n_hostile)
    pages = dg.pages_df(spark, n_pages, partitions=8)
    if extra:
        extra_df = spark.createDataFrame(
            [(u, None, bytearray(h), None, None) for u, h, _ in extra],
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string",
        )
        pages = pages.unionByName(extra_df)

    gt_rows = []
    for i in range(n_pages):
        url = dg.make_page(i)["url"]
        for t in gt_main_texts(i):
            gt_rows.append((url, t))
    for u, _, gts in extra:
        for t in gts:
            gt_rows.append((u, t))
    gt = spark.createDataFrame(
        gt_rows, "url string, text string"
    ).dropDuplicates().withColumn("gt_hit", F.lit(1))

    def labeled_nodes(settings=None):
        return classified_nodes(pages, settings).join(
            gt, ["url", "text"], "left"
        ).withColumn(
            "gt_label",
            F.when(F.col("n_chars") == 0, F.lit(2))
            .when(F.col("gt_hit") == 1, F.lit(1))
            .otherwise(F.lit(0)),
        )

    labeled = labeled_nodes().cache()

    print("label baseline (A4):")
    for r in label_baseline(labeled).collect():
        print("  ", r.asDict())

    weights, biases = train_scorer(labeled, max_iter=100, seed=42)

    ev = evaluate(labeled, pred_col="pred", label_col="gt_label").first()
    print("shipped-scorer vs GT:", ev.asDict())

    register_architecture(Arch("trained_candidate", weights, biases))
    trained = ExtractSettings(architecture="trained_candidate")
    ev2 = evaluate(
        labeled_nodes(trained), pred_col="pred", label_col="gt_label"
    ).first()
    print("trained scorer vs GT:", ev2.asDict())

    print("\n# paste into functions/architectures.py:")
    print("_TRAINED_V1_WEIGHTS = {")
    for c in sorted(weights):
        vals = ", ".join(f"{w:.6f}" for w in weights[c])
        print(f"    {c}: [{vals}],")
    print("}")
    print("_TRAINED_V1_BIAS = {")
    for c in sorted(biases):
        print(f"    {c}: {biases[c]:.6f},")
    print("}")


if __name__ == "__main__":
    main()
