"""Hash the single-document chain's full output over a fixed input set,
for comparing two checkouts byte for byte.

For every (architecture, span_former, vote on/off) it prints one sha256
over, per input page, the pickled ``oracle.classify_document`` output
and the plain and markdown ``oracle.render`` of it; then one overall
digest of those lines.  Run it in two checkouts and ``diff`` the output:

    python tools/identity_check.py 3000 > new.txt
    python tools/identity_check.py 3000 --tree ../parent > old.txt

Inputs: ``datagen.make_page(0..N-1)``, every ``HOSTILE_SHAPES`` shape x 20,
``make_pdf_page(0..39)``, every ``CHARSET_CASES`` codec x 10, and 500
random block layouts built here (:func:`layout_soup`).  Datagen pages
almost always yield one contiguous article span, so without the layouts
a change to the gap merge or the vote's tie-break goes unseen.  Only
names that have long existed in the package are used, so the tool runs
against older checkouts too.

Usage: python tools/identity_check.py [N=3000] [--tree PATH]
"""

from __future__ import annotations

import argparse
import hashlib
import io
import os
import pickle
import random
import sys

_WORDS = "the a of river bank data model page text stone city, and. 42".split()


def _pickled(obj) -> bytes:
    """Pickle without the memo, so the bytes depend on values only, not
    on which objects happen to be shared."""
    buf = io.BytesIO()
    p = pickle.Pickler(buf, protocol=4)
    p.fast = True
    p.dump(obj)
    return buf.getvalue()


def layout_soup(i: int) -> bytes:
    """A random page of 3-40 blocks mixing prose, link lists, headings,
    boilerplate containers, articles and images, at lengths from one
    word to sixty, so spans have interior gaps and vote runs tie."""
    rng = random.Random(i)
    blocks = []
    for _ in range(rng.randint(3, 40)):
        t = " ".join(
            rng.choice(_WORDS)
            for _ in range(rng.choice((1, 3, 6, 12, 30, 60)))
        )
        blocks.append(rng.choice((
            f"<p>{t}</p>",
            f'<ul><li><a href="/x">{t}</a></li></ul>',
            f"<h2>{t}</h2>",
            f"<aside><p>{t}</p></aside>",
            f'<div><a href="/y">{t}</a> {t}</div>',
            f"<article><p>{t}</p><p>{t} {t}</p></article>",
            "<img src=x>",
        )))
    return ("<html><body>" + "".join(blocks) + "</body></html>").encode()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("n", nargs="?", type=int, default=3000)
    ap.add_argument(
        "--tree",
        default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        help="checkout whose page_segmentation_spark is imported",
    )
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.tree))

    from page_segmentation_spark import datagen as dg
    from page_segmentation_spark import oracle
    from page_segmentation_spark.config import ExtractSettings
    from page_segmentation_spark.functions.architectures import ARCHITECTURES

    print(f"package: {os.path.dirname(dg.__file__)}", file=sys.stderr)
    pages = (
        [dg.make_page(i)["html"] for i in range(args.n)]
        + [dg.hostile_page(s, i)["html"]
           for s in dg.HOSTILE_SHAPES for i in range(20)]
        + [dg.make_pdf_page(i)["html"] for i in range(40)]
        + [dg.make_charset_page(c, i)["html"]
           for c in sorted(dg.CHARSET_CASES) for i in range(10)]
        + [layout_soup(i) for i in range(500)]
    )
    lines = []
    for arch in sorted(ARCHITECTURES):
        for former in sorted(oracle.SPAN_CUTTERS):
            for post in ("cc_majority", "none"):
                s = ExtractSettings(
                    architecture=arch, span_former=former,
                    post_process=(post,),
                )
                h = hashlib.sha256()
                for html in pages:
                    doc = oracle.classify_document(html, s)
                    h.update(_pickled(doc))
                    for md in (False, True):
                        h.update(oracle.render(doc, s, md).encode("utf-8"))
                        h.update(b"\0")
                lines.append(f"{arch} {former} {post} {h.hexdigest()}")
                print(lines[-1], flush=True)
    overall = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    print(f"overall pages={len(pages)} {overall}")


if __name__ == "__main__":
    main()
