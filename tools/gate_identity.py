"""Hash the corpus funnel's gate outputs over a fixed text battery, for
comparing two checkouts row for row.

For each operator run below it prints the row count and one sha256 over
the sorted row reprs (floats repr exactly); then one overall digest.
Run it in two checkouts and ``diff`` the output:

    python tools/gate_identity.py > new.txt
    python tools/gate_identity.py --tree ../parent > old.txt

Texts: the oracle text of ``datagen.make_page(0..1499)``, of every
``HOSTILE_SHAPES`` shape x 10 and of every ``CHARSET_CASES`` codec x 1,
plus 3,000 random line soups of the characters the gates are most
likely to disagree on between engines (NBSP, U+2028, tab, CRLF, ``\\x0b``,
``\\x85``, dotted capital I, final sigma, ligatures, ellipses,
bullets), each soup alone and again after four lines that pass C4.
Over them: ``c4_line_filter`` (defaults, and ``min_words`` 0 and 1 with
``min_kept_lines=0``), ``gopher_quality`` (defaults and
``min_words=0``), ``with_lang_id`` and ``build_training_corpus
(from_text=True, dedup=False)`` (defaults and permissive gates).  Then
``build_training_corpus`` over the pages ``make_page(0..N-1)``.  Only
names that have long existed in the package are used, so the tool runs
against older checkouts too.

Usage: python tools/gate_identity.py [N=3000] [--tree PATH] [--cpus K]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import random
import sys

#: pieces of the random line soups: plain words, marker words of every
#: language, banned words, and the engine-sensitive characters
_SOUP = (
    "the", "and", "of", "to", "is", "der", "die", "und", "le", "la", "el",
    "que", "be", "that", "have", "with", "javascript", "JavaScript",
    "lorem ipsum", "{", "word", "river", "42", "#", "...", "....", "…",
    "•", "• ", "- ", "* ", ".", "!", "?", '"', " ", "  ", "\t", "\u00a0",
    "\x0b", "\x85", "\x0c", "\u2028", "İstanbul", "İ", "ΟΔΟΣ", "Σ", "ﬁne",
    "ﬂ", "ß", "Straße", "\r",
)
_PASSING = (
    "the quick brown fox jumps over the lazy dog and the cat.",
    "a second line of plain prose with enough of the words to pass!",
    "and the third line is here to keep the page above the floor.",
    "with the fourth line the page has more than enough lines now?",
)


def line_soup(i: int) -> str:
    """A random text of 0-8 lines (CRLF or LF) of soup pieces."""
    rng = random.Random(i)
    lines = []
    for _ in range(rng.randint(0, 8)):
        k = rng.choice((0, 1, 2, 5, 9))
        lines.append(
            "".join(
                rng.choice(_SOUP) + rng.choice(("", " ", " ", "\t"))
                for _ in range(k)
            )
        )
    return rng.choice(("\n", "\r\n")).join(lines)


def texts() -> list[str]:
    from page_segmentation_spark import datagen as dg
    from page_segmentation_spark.oracle import extract_document

    pages = (
        [dg.make_page(i)["html"] for i in range(1500)]
        + [dg.hostile_page(s, i)["html"]
           for s in dg.HOSTILE_SHAPES for i in range(10)]
        + [dg.make_charset_page(c, 0)["html"] for c in sorted(dg.CHARSET_CASES)]
    )
    out = [extract_document(h)["extracted_text"] for h in pages]
    for i in range(3000):
        s = line_soup(i)
        out += [s, "\n".join(_PASSING) + "\n" + s]
    return out


def digest(name: str, df) -> str:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    h = hashlib.sha256("\n".join(rows).encode("utf-8")).hexdigest()
    return f"{name} rows={len(rows)} {h}"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("n", nargs="?", type=int, default=3000)
    ap.add_argument(
        "--tree",
        default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        help="checkout whose page_segmentation_spark is imported",
    )
    ap.add_argument("--cpus", type=int, default=2)
    args = ap.parse_args()
    # the worker daemon puts its working directory first on the workers'
    # sys.path, so run from the tree whose package is compared
    os.chdir(args.tree)
    sys.path.insert(0, os.getcwd())

    from page_segmentation_spark import datagen as dg
    from page_segmentation_spark.functions import text as T
    from page_segmentation_spark.plans.training_corpus import (
        build_training_corpus,
    )
    from page_segmentation_spark.session import get_spark

    print(f"package: {os.path.dirname(dg.__file__)}", file=sys.stderr)
    spark = get_spark(
        app="gate-identity", master=f"local[{args.cpus}]",
        shuffle_partitions=2 * args.cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    battery = texts()
    df = spark.createDataFrame(
        [(i, f"u{i:05d}", t) for i, t in enumerate(battery)],
        "id long, url string, text string",
    ).repartition(4 * args.cpus)
    permissive = dict(
        c4_opts=dict(min_words=1, min_kept_lines=0),
        gopher_opts=dict(min_words=0, min_stop_hits=0),
    )
    runs = [
        ("c4", T.c4_line_filter(df, "id", "text")),
        ("c4_w0", T.c4_line_filter(df, "id", "text", min_words=0,
                                   min_kept_lines=0)),
        ("c4_w1", T.c4_line_filter(df, "id", "text", min_words=1,
                                   min_kept_lines=0)),
        ("gopher", T.gopher_quality(df, "id", "text")),
        ("gopher_w0", T.gopher_quality(df, "id", "text", min_words=0)),
        ("lang", T.with_lang_id(df, "text")),
        ("funnel_text", build_training_corpus(
            df, from_text=True, dedup=False)),
        ("funnel_text_permissive", build_training_corpus(
            df, from_text=True, dedup=False, **permissive)),
        ("funnel_pages", build_training_corpus(
            dg.pages_df(spark, args.n, partitions=4 * args.cpus))),
    ]
    lines = [f"texts={len(battery)}"]
    print(lines[0], flush=True)
    for name, out in runs:
        lines.append(digest(name, out))
        print(lines[-1], flush=True)
    overall = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    print(f"overall {overall}")
    spark.stop()


if __name__ == "__main__":
    main()
