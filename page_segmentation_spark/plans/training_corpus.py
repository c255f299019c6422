"""End-to-end training-corpus construction — the composed pipeline.

The C4/RefinedWeb/FineWeb recipe as ONE declarative Spark plan over
crawl pages of the input-hint shape (url, warc_ts, html, text, lang):

    extract (main-content, byte-identical to the oracle)
      -> C4 line filtering        (functions/text.c4_document)
      -> Gopher document rules    (functions/text.gopher_document)
      -> language ID / token count (functions/text.detect_lang)
      -> content fingerprint      (functions/text.fingerprint)
      -> exact dedup (keep min-url per fingerprint)

Scale shape at 10^12 documents: extraction and the three gates run per
document in ONE ``mapInArrow`` worker (the reference's predict loop is
one in-process chain per page, and the gates ride the same boundary
crossing); a rejected document never leaves the worker.  The
fingerprint is a projection fused into the same stage; the only
shuffle in the whole corpus build is the dedup hash partition on the
16-hex-char fingerprint, and it sees only surviving documents.  Its
rows are not narrow: the map side runs ``partial_min`` over
``struct(url, lang, n_tokens, clean_text)`` per fingerprint, so the
exchange carries one whole candidate row, clean text included, per
(fingerprint, map partition).

Determinism: gate decisions are made on unrounded values; the dedup
keeps the lexicographic-min url per fingerprint (same total order in
Spark and ANSI SQL); no first()/rand() anywhere.
"""

from __future__ import annotations

import inspect
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from page_segmentation_spark.config import ExtractSettings
from page_segmentation_spark.functions.text import (
    _c4,
    _counted_words,
    _gopher,
    _lang,
    c4_document,
    fingerprint,
    gopher_document,
    per_document,
)
from page_segmentation_spark.oracle import resolve
from page_segmentation_spark.plans.extract import page_text


def _gate(text: str | None, c4_opts: dict, gopher_opts: dict):
    """The funnel's gates over one document: C4 lines and page gate,
    Gopher rules on the clean text, language ID.  ``(lang, n_tokens,
    clean_text)`` for a kept document (n_tokens is Gopher's word
    count), None for a rejected (or null) one.  The options name every
    option of ``c4_document`` and ``gopher_document`` (:func:`_options`).

    The text is lowered and split into lines once for C4; the clean
    text's lines are C4's kept lines, and its lowering, split once into
    words, serves Gopher's stop words and the language markers."""
    if text is None:
        return None
    kept, page_kept = _c4(text.split("\n"), text.lower(), **c4_opts)
    if not page_kept:
        return None
    clean = "\n".join(kept)
    counted = _counted_words(clean.lower())
    g = _gopher(clean, kept or [""], counted, **gopher_opts)
    return (_lang(counted), g[0], clean) if g[-1] else None


def _options(fn: Callable, opts: dict | None) -> dict:
    """Every option of the gate ``fn`` (its parameters after the text):
    ``opts`` over ``fn``'s defaults.  An unknown name raises here."""
    bound = inspect.signature(fn).bind(None, **(opts or {}))
    bound.apply_defaults()
    return dict(list(bound.arguments.items())[1:])


def _gated(
    rows: DataFrame,
    col: str,
    text_of: Callable,
    c4_opts: dict | None,
    gopher_opts: dict | None,
) -> DataFrame:
    """(url, lang, n_tokens, content_fp, clean_text) for the rows of
    (url, ``col``) whose text, ``text_of(col value)``, passes the
    gates: one ``mapInArrow`` that drops the rejected ones, then the
    fingerprint as a projection."""
    c4_opts = _options(c4_document, c4_opts)
    gopher_opts = _options(gopher_document, gopher_opts)
    out = per_document(
        rows, ["url"], col,
        lambda v: _gate(text_of(v), c4_opts, gopher_opts),
        "lang string, n_tokens bigint, clean_text string",
    )
    return out.select(
        "url",
        "lang",
        "n_tokens",
        fingerprint(F.col("clean_text")).alias("content_fp"),
        "clean_text",
    )


def corpus_features(
    pages: DataFrame,
    c4_opts: dict | None = None,
    gopher_opts: dict | None = None,
    fused: bool = False,
) -> DataFrame:
    """The STATELESS part of the funnel — extraction, C4 and Gopher
    filters, language ID, token count, and content fingerprint, one row
    per surviving document (url, lang, n_tokens, content_fp,
    clean_text), duplicates still present.  Each page is extracted
    (``plans.extract.page_text``) and gated in the same worker.

    Shared verbatim by the batch plan (:func:`build_training_corpus`
    adds the fingerprint dedup) and the streaming plan
    (``streaming.corpus_stream.stream_training_corpus`` adds stateful
    cross-batch first-seen dedup); every stage here is stream-safe (one
    mapInArrow + a projection, zero shuffle).  ``fused`` chose between
    two extraction plans there used to be; it is accepted and ignored."""
    settings = ExtractSettings()
    engine = resolve(settings)  # on the driver, like plans.extract
    return _gated(
        pages.select("url", "html"), "html",
        lambda html: page_text(html, settings, engine)[1],
        c4_opts, gopher_opts,
    )


def corpus_features_from_text(
    docs: DataFrame,
    text_col: str = "text",
    c4_opts: dict | None = None,
    gopher_opts: dict | None = None,
) -> DataFrame:
    """The same stateless funnel over ALREADY-EXTRACTED text — the WET
    input shape (``sources.warc.read_wet``): Common Crawl publishes
    extracted plain text alongside raw captures, and a corpus built
    from it skips the parse/extract stage entirely.  The gates are the
    same :func:`_gate` as the pages path, so WET-built and HTML-built
    corpora cannot drift in filter semantics."""
    rows = docs.select("url", text_col)
    return _gated(rows, text_col, lambda t: t, c4_opts, gopher_opts)


def build_training_corpus(
    pages: DataFrame,
    c4_opts: dict | None = None,
    gopher_opts: dict | None = None,
    dedup: bool = True,
    fused: bool = False,
    neardup: bool = False,
    neardup_opts: dict | None = None,
    from_text: bool = False,
) -> DataFrame:
    """Run the full corpus-construction funnel over crawl pages.

    ``from_text=True`` treats ``pages`` as WET-shaped input — (url,
    text) with extraction already done (``sources.warc.read_wet``) —
    and skips the extract stage; all filters/dedup stages are the same
    code objects as the pages path.

    Returns one row per SURVIVING document:
    (url, lang, n_tokens, content_fp, clean_text).

    ``c4_opts`` / ``gopher_opts`` are keyword overrides for the two
    filter stages (see their docstrings for rule parameters); pass
    ``dedup=False`` to keep exact duplicates (e.g. when a later
    MinHash/SimHash pass owns dedup).  The dedup fingerprint partition
    is the funnel's ONLY Exchange — the 1000-executor crawl shape
    (``fused`` is accepted and ignored, see :func:`corpus_features`).

    ``neardup=True`` appends the full near-duplicate pass after exact
    dedup: MinHash-LSH candidates verified by exact n-gram Jaccard
    (``neardup_opts`` forwards to
    :func:`operators.dedup.lsh_verified_pairs`), connected components
    over the surviving pair graph, and min-url-representative selection
    — the RefinedWeb/FineWeb two-stage dedup.  Batch-only (iterative
    label propagation); the streaming funnel stops at exact dedup."""
    if from_text:
        out = corpus_features_from_text(
            pages, c4_opts=c4_opts, gopher_opts=gopher_opts
        )
    else:
        out = corpus_features(pages, c4_opts, gopher_opts, fused)
    if dedup:
        # keep the min-url row per fingerprint via ONE struct-min
        # aggregation (url leads the struct, so lexicographic struct
        # order == url order; url is unique per row, so this selects
        # exactly the rows the previous min-over-window + self-filter
        # kept).  Unlike the window form, the aggregate partially
        # reduces duplicates MAP-SIDE before the exchange — at crawl
        # scale the shuffle then carries one candidate per (fingerprint,
        # map partition) instead of every duplicate row.
        rest = [c for c in out.columns if c != "content_fp"]
        cols = list(out.columns)
        agg = out.groupBy("content_fp").agg(
            F.min(F.struct(*[F.col(c) for c in rest])).alias("_keep")
        )
        out = agg.select(
            "content_fp", *[F.col(f"_keep.{c}").alias(c) for c in rest]
        ).select(*cols)
    if neardup:
        out = neardup_representatives(out, neardup_opts)
    return out


def neardup_representatives(
    out: DataFrame,
    neardup_opts: dict | None = None,
    url_col: str = "url",
    text_col: str = "clean_text",
) -> DataFrame:
    """The RefinedWeb/FineWeb near-duplicate pass over a (url,
    clean_text, ...) corpus: MinHash-LSH candidates verified by exact
    n-gram Jaccard, connected components over the surviving pair
    graph, keep the min-url representative per component.  Shared by
    the batch funnel (``build_training_corpus(neardup=True)``) and the
    streaming sink compactor (``streaming.corpus_stream.compact_corpus``)
    so the two paths cannot drift."""
    from page_segmentation_spark.operators.components import (
        connected_components,
    )
    from page_segmentation_spark.operators.dedup import (
        lsh_verified_pairs,
    )

    # lineage barrier: the pair builder and the label table both
    # re-reference the funnel subtree (and would recompute it up to
    # 3x); the lazy localCheckpoint replaces it with an
    # executor-persisted scan, same discipline as
    # connected_components' own per-round truncation.
    out = out.localCheckpoint(eager=False)
    # Catalyst's Union constraint rewrite throws an internal
    # AttributeMap key-not-found when the funnel's constraints meet
    # the label-propagation unions; constraint propagation is an
    # optimizer nicety the iterative stage does not need, so switch
    # it off while these plans are ANALYZED (each localCheckpoint
    # analyzes eagerly) and restore afterwards.
    spark = out.sparkSession
    _ckey = "spark.sql.constraintPropagation.enabled"
    _prev = spark.conf.get(_ckey, "true")
    spark.conf.set(_ckey, "false")
    try:
        pairs = lsh_verified_pairs(
            out, url_col, text_col, **(neardup_opts or {})
        ).localCheckpoint(eager=False)
        labels = connected_components(
            out.select(url_col), pairs, id_col=url_col
        ).localCheckpoint(eager=False)
    finally:
        spark.conf.set(_ckey, _prev)
    return out.join(
        labels.where(F.col("id") == F.col("label")).select(
            F.col("id").alias(url_col)
        ),
        url_col,
        "left_semi",
    )
