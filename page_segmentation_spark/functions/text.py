"""Text-analysis functions for training-data pipelines.

First-class large-scale operators beyond the reference's own inventory
(per the build brief): language ID, quality scoring, token counting,
document fingerprinting.  Most are pure ``pyspark.sql.functions`` column
math (JVM-side, codegen-friendly, no UDFs).  The corpus funnel's gates
(C4 lines, Gopher rules, language ID) are plain Python over one
document's text, implemented once here: :func:`c4_line_filter`,
:func:`gopher_quality` and :func:`with_lang_id` run them over Arrow
batches (:func:`per_document`), and ``plans.training_corpus`` runs them
inside the worker that extracts the page.  Each has an exact DuckDB-SQL
twin used by the correctness gate (``tools/crosscheck.py``).

Spark parity of the gates: Spark's ``trim``/``ltrim``/``rtrim`` strip
only U+0020 (``strip(" ")`` here).  Java's ``\\s`` is exactly the six
ASCII bytes of ``_JAVA_WS`` (NBSP, U+0085 and U+2028 are word
characters), and UTF-8 encodes every other character with bytes of
0x80 and up, so Gopher's word, character and alphabetic-word counts are
taken on the UTF-8 bytes (``surrogatepass``, as
``html_parse.text_stats``) through byte tables.  Spark's ``split`` keeps
leading and trailing empty strings (as ``str.split`` does), and Gopher
counts them as words.  Marker and ``...`` counts are non-overlapping, as
``str.count`` counts them: the one-pass marker count drops a marker
token that repeats the one counted just before it, because the two
``" w "`` share a space.  ``str.lower`` matches Spark's ``lower``
(dotted capital I, final sigma, ligatures; Arrow's ``utf8_lower``
does not, on ``İ``), and a document is lowered whole, not line by
line: the final-sigma context never crosses ``"\\n"``, so each line's
lowering is the matching line of the whole text's.  Python's ``round``
is not ``F.round`` in the 6th decimal, so ``keep`` is decided on
unrounded values and the displayed signals are rounded by Spark.
"""

from __future__ import annotations

import string
from collections import Counter
from itertools import compress, count
from typing import Callable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from page_segmentation_spark.packaging import freeze_worker_heap

#: language marker words (counted as ' word ' substrings of the padded,
#: lowered text — the n-gram heuristic's cheapest stable form).
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "que", "es"],
}


def detect_lang(text: str | None) -> str:
    """Marker-word language ID of one document: per language, the number
    of non-overlapping ``' word '`` occurrences of its markers in the
    space-padded lowered text; the argmax with first-max tie-break over
    the fixed ``LANG_MARKERS`` order; ``'und'`` when no marker hits (or
    the text is null)."""
    return _lang(_counted_words((text or "").lower()))


def _lang(counted: list) -> str:
    """:func:`detect_lang` from the :func:`_counted_words` of the
    lowered text."""
    n = Counter(counted)
    scores = [sum(n[w] for w in ws) for ws in LANG_MARKERS.values()]
    best = max(scores)
    return list(LANG_MARKERS)[scores.index(best)] if best > 0 else "und"


def per_document(
    df: DataFrame,
    keep_cols: Sequence[str],
    col: str,
    fn: Callable,
    ddl: str,
) -> DataFrame:
    """Run a per-document Python function over ``df`` in ONE
    ``mapInArrow``: ``fn(value of col)`` returns a tuple that fills the
    columns of ``ddl`` (a Spark DDL field list) after the ``keep_cols``,
    which pass through unchanged — or None, which drops the row inside
    the kernel.  The one batch loop of the gate operators below, the
    extraction plan and the corpus funnel."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType

    out = StructType.fromDDL(ddl)
    types = [to_arrow_type(f.dataType) for f in out.fields]
    schema = StructType([df.schema[c] for c in keep_cols] + out.fields)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        freeze_worker_heap()
        for batch in batches:
            rows = [fn(v) for v in batch.column(col).to_pylist()]
            kept = batch.select(keep_cols)
            if None in rows:
                kept = kept.filter(pa.array([r is not None for r in rows]))
                rows = [r for r in rows if r is not None]
            cols = list(zip(*rows)) if rows else [()] * len(types)
            arrays = [pa.array(v, type=t) for v, t in zip(cols, types)]
            yield pa.RecordBatch.from_arrays(
                kept.columns + arrays, names=[*keep_cols, *out.names]
            )

    return df.mapInArrow(kernel, schema)


def with_lang_id(df: DataFrame, text_col: str, out_col: str = "lang"):
    """DataFrame-level language ID: every column of ``df`` plus
    ``out_col`` = :func:`detect_lang` of ``text_col``."""
    return per_document(
        df, df.columns, text_col,
        lambda t: (detect_lang(t),), f"`{out_col}` string",
    )


def token_count(text: Column) -> Column:
    """Whitespace tokenization; 0 for empty/blank text."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    ).cast("long")


def word_token_count(text: Column) -> Column:
    """BPE-ish token estimate: words + punctuation marks counted as
    separate tokens (regexp-based, portable)."""
    words = token_count(text)
    punct = F.length(text) - F.length(
        F.regexp_replace(text, r"[\.,;:!\?]", "")
    )
    return (words + punct).cast("long")


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] quality: length band + punctuation presence +
    alpha ratio — the training-data filter staple."""
    n = F.length(text).cast("double")
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("double")
    n_punct = F.length(text) - F.length(F.regexp_replace(text, r"[\.,;:!\?]", ""))
    len_band = F.when((n >= 200.0) & (n <= 20000.0), 0.4).otherwise(
        F.when(n >= 50.0, 0.2).otherwise(0.0)
    )
    alpha_ratio = F.when(n > 0.0, n_alpha / n).otherwise(F.lit(0.0))
    punct_part = F.when(n_punct.cast("double") > 0.0, 0.2).otherwise(0.0)
    return len_band + punct_part + F.round(alpha_ratio * 0.4, 6)


def fingerprint(text: Column) -> Column:
    """64-bit hex document fingerprint over the whitespace-normalized
    lowered text (rolling-hash analog, stable under formatting noise)."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.substring(F.md5(norm), 1, 16)


#: PII patterns — portable between Java regex (Spark) and RE2 (DuckDB):
#: no backreferences, no lookaround, classes + bounded quantifiers only.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9() -]{6,}[0-9]"


def scrub_pii(text: Column) -> Column:
    """Mask emails then phone-number-shaped digit runs (<EMAIL>/<PHONE>).
    Email first: once masked, its digits can no longer feed a partial
    phone match.  Pure JVM regexp — linear scan, no UDF."""
    t = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(t, PHONE_RE, "<PHONE>")


def pii_count(text: Column, pattern: str) -> Column:
    """Number of matches (regexp_extract_all has an exact DuckDB twin;
    regexp_count does not exist there)."""
    return F.size(F.regexp_extract_all(text, F.lit(pattern), 0)).cast("long")


#: portable host extraction (scheme optional, userinfo stripped, stops at
#: path/port/query/fragment) — classes + alternation only, so Java regex
#: (Spark) and RE2 (DuckDB) agree byte-for-byte.
URL_HOST_RE = r"^(?:[a-z][a-z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)"


def url_host(url: Column) -> Column:
    """Registered host of a URL — the C4-style per-host accounting key
    (host frequency caps, per-domain sampling, blocklists all key on
    it).  Pure regexp: no UDF, no driver work."""
    return F.regexp_extract(url, URL_HOST_RE, 1)


def url_host_sql(expr: str) -> str:
    """DuckDB twin of :func:`url_host` as a SQL fragment."""
    return f"regexp_extract({expr}, '{URL_HOST_RE}', 1)"


#: scheme://host[:port] prefix — three capture groups (scheme, authority,
#: rest).  Classes + bounded alternation only: Java regex and RE2 agree.
_URL_PARTS_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$"


def url_normalize(url: Column) -> Column:
    """Canonical URL for dedup/host accounting (the C4/Common-Crawl
    pre-dedup normalization): strip the ``#fragment``, lowercase scheme
    and authority (path/query case is significant and kept), drop the
    default port (``:80`` for http, ``:443`` for https), and drop a
    single trailing slash on a non-root path.  Scheme-less inputs get
    only the fragment strip (nothing else is safely inferable).  Pure
    regexp chain — no UDF, identical in the DuckDB twin."""
    defrag = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(defrag, _URL_PARTS_RE, 1))
    auth = F.lower(F.regexp_extract(defrag, _URL_PARTS_RE, 2))
    rest = F.regexp_extract(defrag, _URL_PARTS_RE, 3)
    auth = F.when(
        (scheme == "http"), F.regexp_replace(auth, r":80$", "")
    ).when(
        (scheme == "https"), F.regexp_replace(auth, r":443$", "")
    ).otherwise(auth)
    rest = F.regexp_replace(rest, r"^(/.+?)/$", r"$1")
    return F.when(
        scheme == "", defrag
    ).otherwise(F.concat(scheme, F.lit("://"), auth, rest))


def url_normalize_sql(expr: str) -> str:
    """DuckDB twin of :func:`url_normalize` as a SQL fragment."""
    p = _URL_PARTS_RE
    d = f"regexp_replace({expr}, '#.*$', '')"
    scheme = f"lower(regexp_extract({d}, '{p}', 1))"
    auth = f"lower(regexp_extract({d}, '{p}', 2))"
    rest = f"regexp_extract({d}, '{p}', 3)"
    auth_n = (
        f"CASE WHEN {scheme} = 'http' THEN regexp_replace({auth}, ':80$', '')"
        f" WHEN {scheme} = 'https' THEN regexp_replace({auth}, ':443$', '')"
        f" ELSE {auth} END"
    )
    rest_n = f"regexp_replace({rest}, '^(/.+?)/$', '\\1')"
    return (
        f"CASE WHEN {scheme} = '' THEN {d} "
        f"ELSE {scheme} || '://' || {auth_n} || {rest_n} END"
    )


def repetition_signals(df, id_col: str, text_col: str):
    """Gopher-style repetition quality signals, per document:

      * ``top_word_frac`` — occurrences of the most frequent word over
        total words (high => boilerplate/keyword stuffing);
      * ``dup_2gram_frac`` — fraction of word 2-grams that are repeats
        of an earlier 2-gram in the same document.

    Scale shape: the word-mode needs per-(doc, word) counts — explode ->
    two hash aggregations keyed by the doc id (linear, map-side partial
    agg applies; NO quadratic expression-level mode computation, which
    would be O(distinct_words x words) per row on real documents).  The
    2-gram signal is pure per-row array math (zero shuffle), computed in
    the same pass as the first aggregation.  First-max ties in the word
    mode are count-only (no word tie-break needed: max of counts).
    """
    from pyspark.sql import functions as F  # local alias for clarity

    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    words = F.split(norm, " ")
    n_words = F.size(words)
    # distinct 2-grams via the shared shingle builder (slice-based — safe
    # under ANSI mode, no element_at out-of-bounds)
    from page_segmentation_spark.operators.dedup import word_shingles

    n_grams = F.greatest(n_words - 1, F.lit(0))
    n_distinct = F.size(word_shingles(F.col(text_col), 2))
    dup_frac = F.when(
        n_grams > 0,
        F.round(1.0 - n_distinct / n_grams.cast("double"), 6),
    ).otherwise(F.lit(0.0))

    base = df.select(
        F.col(id_col),
        F.explode(words).alias("word"),
        dup_frac.alias("dup_2gram_frac"),
    )
    counts = base.groupBy(id_col, "dup_2gram_frac", "word").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return counts.groupBy(id_col, "dup_2gram_frac").agg(
        F.round(
            F.max("cnt") / F.sum("cnt").cast("double"), 6
        ).alias("top_word_frac")
    ).select(id_col, "top_word_frac", "dup_2gram_frac")


def truncate_tokens(df, id_col: str, text_col: str, max_tokens: int):
    """Head truncation to a whitespace-token budget (the sequence-length
    cap every training pipeline applies before tokenization): documents
    over ``max_tokens`` keep their first ``max_tokens`` tokens
    (whitespace-normalized in the truncated branch — the join is by
    single spaces); shorter documents pass through BYTE-IDENTICAL.

    Output: (id, text, n_tokens_in, n_tokens_out, truncated int).
    Zero-shuffle Catalyst projection."""
    text = F.col(text_col)
    blank = F.length(F.trim(text)) == 0
    words = F.split(F.trim(text), r"\s+")
    n_in = F.when(blank, F.lit(0)).otherwise(F.size(words)).cast("long")
    over = n_in > max_tokens
    out_text = F.when(
        over, F.array_join(F.slice(words, 1, max_tokens), " ")
    ).otherwise(text)
    return df.select(
        F.col(id_col),
        out_text.alias(text_col),
        n_in.alias("n_tokens_in"),
        F.least(n_in, F.lit(max_tokens)).cast("long").alias("n_tokens_out"),
        over.cast("int").alias("truncated"),
    )


def _host_cap_candidates(df, url_col: str, max_per_host: int, n_salts: int):
    """Phase 1 of the salted two-phase cap: per (host, salt) keep the
    ``max_per_host`` lexicographically-first urls.  min-K by url is
    ASSOCIATIVE (the global per-host top-K is a subset of the union of
    per-salt top-Ks), so phase 2 over these survivors reproduces the
    unsalted result exactly while every phase-1 window task holds at
    most ceil(host_size / n_salts) rows and every phase-2 task at most
    ``n_salts * max_per_host`` rows per host.  Exposed for the skew test
    (bounded per-host survivor count)."""
    from pyspark.sql import Window

    host = url_host(F.col(url_col))
    salt = F.pmod(F.crc32(F.col(url_col).cast("string")), F.lit(n_salts))
    w1 = Window.partitionBy("host", "__salt").orderBy(F.col(url_col).asc())
    return (
        df.select("*", host.alias("host"), salt.alias("__salt"))
        .withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= max_per_host)
        .drop("__salt", "__r1")
    )


def host_cap(df, url_col: str, max_per_host: int, n_salts: int = 16):
    """C4-style per-host frequency cap: keep at most ``max_per_host``
    documents per registered host, selecting deterministically by url
    order (the C4 paper caps page counts per domain so megasites cannot
    dominate the corpus; combine with :func:`url_normalize` upstream).

    Output: the KEPT rows — input columns + host, host_rank (1-based,
    exact within the kept set).

    Scale shape — two-phase salted top-K: a naive per-host row_number
    window lands a megasite host's ENTIRE page set (10^8-10^9 rows in a
    real crawl) in one window partition = one straggler task, and AQE
    skew handling splits joins, not windows.  Phase 1 ranks within
    (host, salt = crc32(url) % n_salts) and keeps the per-salt K-first
    urls — min-K is associative, so nothing the global top-K needs is
    lost; phase 2 ranks the <= n_salts*K survivors per host.  Same
    output as the single-window form (pinned by the skew test), hottest
    task bounded by max(host_size/n_salts, n_salts*K) rows."""
    from pyspark.sql import Window

    survivors = _host_cap_candidates(df, url_col, max_per_host, n_salts)
    w2 = Window.partitionBy("host").orderBy(F.col(url_col).asc())
    return survivors.withColumn(
        "host_rank", F.row_number().over(w2)
    ).where(F.col("host_rank") <= max_per_host)


def repetition_profile(
    df, id_col: str, text_col: str, ngrams: tuple = (2, 3, 4),
    line_sep: str = "\n",
):
    """Gopher WITHIN-document repetition rules (Rae et al. 2021 A1.1 —
    the "repetition removal" family; complements
    :func:`repetition_signals`, which covers the top-word/2-gram pair):

      * ``dup_line_frac`` — fraction of lines that repeat an earlier
        line (computed on the RAW text, where line structure lives);
      * ``dup_line_char_frac`` — fraction of line characters inside
        those repeats (the paper's "duplicate line character fraction");
      * ``top{n}gram_char_frac`` for each n — characters covered by the
        most frequent word n-gram (count x gram length over the
        normalized text length), ties broken (count desc, gram asc).

    Scale shape: the line stats are per-row array math (zero shuffle);
    the n-gram stats explode each requested width once (linear), then
    one hash agg keyed by (doc, n, gram) and one doc-keyed window pick
    the per-width mode — no quadratic per-row mode computation.  All
    fractions are integer counts with one final division."""
    from pyspark.sql import Window

    from page_segmentation_spark.operators.dedup import normalized

    text = F.col(text_col)
    lines = F.split(text, line_sep)
    n_lines = F.size(lines)
    n_dist = F.size(F.array_distinct(lines))
    line_chars = F.aggregate(lines, F.lit(0), lambda a, x: a + F.length(x))
    dist_chars = F.aggregate(
        F.array_distinct(lines), F.lit(0), lambda a, x: a + F.length(x)
    )
    base = df.select(
        F.col(id_col),
        F.round(
            (n_lines - n_dist).cast("double") / n_lines.cast("double"), 6
        ).alias("dup_line_frac"),
        F.round(
            F.when(
                line_chars > 0,
                (line_chars - dist_chars).cast("double")
                / line_chars.cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_line_char_frac"),
    )

    norm = normalized(text)
    words = F.split(norm, " ")
    total_chars = F.length(norm)
    # closure factory, NOT a default-arg lambda: a two-parameter lambda
    # makes F.transform pass (element, index) and silently garbles grams
    def _gram_of(width):
        return lambda i: F.array_join(F.slice(words, i, width), " ")

    gram_rows = None
    for n in ngrams:
        k = F.size(words) - (n - 1)
        sh = F.when(
            k >= 1,
            F.transform(F.sequence(F.lit(1), k), _gram_of(n)),
        ).otherwise(F.array().cast("array<string>"))
        r = df.select(
            F.col(id_col),
            F.lit(n).alias("n"),
            total_chars.alias("total_chars"),
            F.explode(sh).alias("gram"),
        )
        gram_rows = r if gram_rows is None else gram_rows.unionByName(r)
    counts = gram_rows.groupBy(id_col, "n", "gram", "total_chars").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy(id_col, "n").orderBy(
        F.col("cnt").desc(), F.col("gram").asc()
    )
    top = counts.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    frac = (F.col("cnt") * F.length("gram")).cast("double") / F.col(
        "total_chars"
    ).cast("double")
    pivot = top.groupBy(id_col).agg(
        *[
            F.round(F.max(F.when(F.col("n") == n, frac)), 6).alias(
                f"top{n}gram_char_frac"
            )
            for n in ngrams
        ]
    )
    joined = base.join(pivot, id_col, "left")
    return joined.select(
        id_col,
        "dup_line_frac",
        "dup_line_char_frac",
        *[
            F.coalesce(F.col(f"top{n}gram_char_frac"), F.lit(0.0)).alias(
                f"top{n}gram_char_frac"
            )
            for n in ngrams
        ],
    )


def vocab_coverage(
    df,
    id_col: str,
    text_col: str,
    top_k: int = 500,
):
    """Vocabulary-coverage quality signal (the CCNet/C4-style "is this
    mostly real words" filter): fraction of a document's whitespace
    tokens (lowercased) found in the corpus's top-``top_k`` vocabulary.
    Exact integer counts, ONE division — engine-reproducible.

    Scale shape: token explode is linear; the vocabulary reduces via a
    map-side-combined hash agg then ``orderBy().limit(top_k)`` — Spark
    plans that as TakeOrderedAndProject (per-partition top-k + merge),
    never a global sort of the full distinct-token set; ties at the
    boundary break deterministically on (count desc, token asc).  The
    resulting top-k set broadcasts to the marking join (top_k rows —
    always under any broadcast threshold), so the only real shuffles
    are the two hash aggregations keyed by token and doc id."""
    from pyspark.sql import functions as F

    trimmed = F.trim(F.lower(F.col(text_col)))
    toks = (
        df.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col),
            F.explode(F.split(trimmed, r"\s+")).alias("tok"),
        )
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(top_k)
        .select("tok", F.lit(1).alias("in_v"))
    )
    marked = toks.join(F.broadcast(vocab), "tok", "left")
    agg = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.coalesce(F.col("in_v"), F.lit(0)))
        .cast("long")
        .alias("in_vocab"),
    )
    return agg.select(
        id_col,
        "n_tokens",
        "in_vocab",
        (F.col("in_vocab") / F.col("n_tokens")).alias("coverage"),
    )


def sampled_rank_cutoffs(
    df,
    value_col: str,
    tie_col: str,
    fracs: tuple[tuple[int, int], ...],
    part_cols: tuple[str, ...] = (),
    rate: float = 0.125,
    salt: str = "cut",
    mode: str = "floor",
):
    """Scale path for global/per-stratum quantile CUTOFFS: nearest-rank
    over a deterministic hash-sample instead of a window over the full
    table.  A ``row_number`` with no (or a hot) partition key collapses
    to one straggler task at 10^12 rows; sampling first bounds the sorted
    set to ~rate*N rows while the cutoff values converge to the exact
    quantiles (standard sample-quantile bound: error O(1/sqrt(rate*N))
    in rank space).  The sample is the hash-threshold of
    operators/sampling.deterministic_sample — reproducible across runs,
    engines, and partitionings, never ``df.sample()``.

    Returns one row per ``part_cols`` group (one row total if empty):
    ``cut_1 .. cut_len(fracs)`` — the nearest-rank value at each
    requested fraction WITHIN THE SAMPLE (ties broken on ``tie_col``).
    ``fracs`` are exact rationals ``(num, den)`` — e.g. terciles
    ``((1, 3), (2, 3))``, percentiles ``((25, 100), ...)`` — so the
    rank arithmetic is integer-exact, never a float-rounded fraction.
    ``mode`` picks the rank convention: ``"floor"`` = (m*num) div den
    (the tercile boundary ``3r <= m``), ``"ceil"`` = the classic
    nearest-rank ceil (the percentile audit).  With ``rate=1.0``
    either form reproduces its exact-window twin bit-for-bit (same sort
    keys, same rank arithmetic) — pinned by tests.

    Callers broadcast-join the result and assign buckets with plain
    comparisons; the scoring/aggregation stages need no change.  The
    exact single-window form stays available as the oracle-checkable
    fixture twin (the ``cutoffs="exact"`` branches)."""
    from pyspark.sql import Window

    from page_segmentation_spark.operators.sampling import (
        deterministic_sample,
    )

    samp = deterministic_sample(df, key_col=tie_col, rate=rate, salt=salt)
    w = (
        Window.partitionBy(*part_cols).orderBy(value_col, tie_col)
        if part_cols
        else Window.orderBy(value_col, tie_col)
    )
    w_n = Window.partitionBy(*part_cols) if part_cols else Window.partitionBy()
    ranked = samp.select(
        *part_cols,
        F.col(value_col),
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(w_n).alias("__m"),
    )
    if mode not in ("floor", "ceil"):
        raise ValueError(f"mode must be 'floor' or 'ceil': {mode!r}")
    cuts = [
        F.max(
            F.when(
                F.col("__rn")
                == F.expr(
                    f"greatest(1L, (__m * {int(num)}"
                    f" + {int(den) - 1 if mode == 'ceil' else 0})"
                    f" div {int(den)})"
                ),
                F.col(value_col),
            )
        ).alias(f"cut_{i + 1}")
        for i, (num, den) in enumerate(fracs)
    ]
    if part_cols:
        return ranked.groupBy(*part_cols).agg(*cuts)
    return ranked.groupBy().agg(*cuts)


def token_quantiles_sampled(
    df,
    stratum_col: str,
    id_col: str,
    text_col: str,
    pcts: tuple[int, ...] = (25, 50, 75, 90),
    rate: float = 0.125,
    salt: str = "tq",
):
    """Scale path of the token-count quantile audit (the exact
    nearest-rank form lives in queries.text_token_quantiles as the
    oracle-checkable twin): per-stratum cutoffs from a hash-sample via
    :func:`sampled_rank_cutoffs` — the top-language stratum of a real
    crawl holds most of the corpus, so the exact form's per-stratum
    window is effectively a global sort; the sampled form sorts only
    ~rate*N rows per stratum.  Counts (n_docs, max) stay exact — they
    are plain hash aggregates, not rank statistics.

    Output: (stratum, n_docs, p{pcts...}, max_tokens) — same shape as
    the exact audit, quantile values approximate within the standard
    sample-rank bound."""
    t = df.select(
        F.col(stratum_col).alias("stratum"),
        F.col(id_col),
        token_count(F.col(text_col)).alias("v"),
    )
    cuts = sampled_rank_cutoffs(
        t, "v", id_col, tuple((p, 100) for p in pcts),
        part_cols=("stratum",), rate=rate, salt=salt, mode="ceil",
    ).select(
        "stratum",
        *[
            F.col(f"cut_{i + 1}").cast("long").alias(f"p{p}")
            for i, p in enumerate(pcts)
        ],
    )
    exact_aggs = t.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("v").alias("max_tokens"),
    )
    return exact_aggs.join(F.broadcast(cuts), "stratum", "left").select(
        "stratum", "n_docs", *[f"p{p}" for p in pcts], "max_tokens"
    )


def surprisal_buckets(df, id_col: str, text_col: str, ref=None,
                      ref_text_col: str | None = None,
                      cutoffs: str = "exact",
                      sample_rate: float = 0.125):
    """CCNet-style rarity scoring + head/middle/tail bucketing (Wenzek
    et al. 2020 §4.4 filter corpora by LM perplexity terciles; this is
    the engine-portable analog with an integer-exact score instead of a
    KenLM model): a document's surprisal is the mean over its tokens of
    ``N_total // corpus_count(token)`` — common-word documents score
    low (head), rare-word documents high (tail).

    ``ref`` (optional DataFrame) supplies the counting corpus — the
    CCNet train/apply split, where crawl text is scored against a
    trusted reference (Wikipedia there): counts and N_total come from
    ``ref[ref_text_col or text_col]``, and a token absent from the
    reference contributes the maximum integer surprisal ``N_total``
    (the cnt=1 floor — the deterministic analog of an OOV penalty).
    With ``ref=None`` the corpus scores against itself.

    The integer floor-division inside the sum is WHY the score is
    engine-reproducible: per-token contributions are exact integers, the
    per-doc sum is an order-independent integer aggregate, and the only
    double is one final division (same discipline as the quantized
    k-means mirror).

    Output: (id, surprisal, bucket) with terciles split by global
    nearest-rank (ties broken on id — first-max determinism rule).

    Scale shape at 10^12 docs: token explode is linear; corpus counts
    are one map-side-combined hash agg; the count join is the standard
    inverted-index equi-join keyed by token (hot stopword keys arrive
    pre-combined); the per-doc sum is one id-keyed agg.  Tercile
    assignment has two code paths selected by ``cutoffs``:

      * ``"exact"`` — global nearest-rank via a single-partition window
        over one (double, id) row per document: the oracle-checkable
        fixture form, a one-straggler-task shape at corpus scale;
      * ``"sampled"`` — the PRODUCTION path: tercile cutoff VALUES from
        :func:`sampled_rank_cutoffs` over a ``sample_rate``
        hash-sample, broadcast to a value-comparison bucket assignment.
        No global window anywhere; boundary docs whose surprisal ties
        the sampled cutoff may bucket differently from the exact form
        (rank ties break on id there, on value here) — the CCNet use
        (drop/keep whole terciles) is insensitive to that boundary."""
    from pyspark.sql import Window

    text = F.col(text_col)
    toks = df.where(F.length(F.trim(text)) > 0).select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(text)), r"\s+")).alias("tok"),
    )
    if ref is None:
        count_src = toks.select("tok")
        join_type = "inner"  # every corpus token is in its own counts
    else:
        rt = F.col(ref_text_col or text_col)
        count_src = ref.where(F.length(F.trim(rt)) > 0).select(
            F.explode(F.split(F.trim(F.lower(rt)), r"\s+")).alias("tok")
        )
        join_type = "left"  # OOV tokens: cnt NULL -> the cnt=1 floor
    counts = count_src.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("n_total"))
    scored = (
        toks.join(counts, "tok", join_type)
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum(F.expr("n_total DIV coalesce(cnt, 1L)")).alias("s_int"),
            F.count(F.lit(1)).alias("n_toks"),
        )
    )
    sc = scored.select(
        F.col(id_col),
        (F.col("s_int").cast("double") / F.col("n_toks").cast("double")).alias(
            "surprisal"
        ),
    )
    if cutoffs == "sampled":
        cuts = sampled_rank_cutoffs(
            sc, "surprisal", id_col, ((1, 3), (2, 3)),
            rate=sample_rate, salt="sbkt",
        )
        bucket = (
            F.when(F.col("surprisal") <= F.col("cut_1"), "head")
            .when(F.col("surprisal") <= F.col("cut_2"), "middle")
            .otherwise("tail")
        )
        return sc.crossJoin(F.broadcast(cuts)).select(
            id_col,
            F.round("surprisal", 6).alias("surprisal"),
            bucket.alias("bucket"),
        )
    if cutoffs != "exact":
        raise ValueError(f"cutoffs must be 'exact' or 'sampled': {cutoffs!r}")
    w = Window.orderBy("surprisal", id_col)
    ranked = sc.select(
        F.col(id_col),
        "surprisal",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    bucket = (
        F.when(F.col("r") * 3 <= F.col("m"), "head")
        .when(F.col("r") * 3 <= 2 * F.col("m"), "middle")
        .otherwise("tail")
    )
    return ranked.select(
        id_col, F.round("surprisal", 6).alias("surprisal"), bucket.alias("bucket")
    )


# ---- DuckDB-SQL twins (used by __spark_entry__.oracle_sql) -------------

def marker_count_sql(col: str, word: str) -> str:
    pad = f"(' ' || lower({col}) || ' ')"
    needle = f" {word} "
    return (
        f"((length({pad}) - length(replace({pad}, '{needle}', '')))"
        f" / {len(needle)})"
    )


def lang_score_sql(col: str, lang: str) -> str:
    return "(" + " + ".join(_as_dbl(marker_count_sql(col, w)) for w in LANG_MARKERS[lang]) + ")"


def _as_dbl(e: str) -> str:
    return f"CAST({e} AS DOUBLE)"


# ---------------------------------------------------------------- C4 rules

#: Line-end characters C4 accepts as terminal punctuation (Raffel et
#: al. 2020 §2.2, "ended in a terminal punctuation mark").
C4_TERMINALS = (".", "!", "?", '"')


def c4_keep_line(
    line: str,
    min_words: int = 5,
    banned_words: tuple = ("javascript",),
) -> bool:
    """The C4 per-line retention predicate: the line, right-stripped of
    spaces, ends in terminal punctuation, carries at least ``min_words``
    space-separated words, and mentions none of ``banned_words``
    (case-insensitive).  DuckDB twin: queries._c4_keep_sql."""
    return _c4_keep(line, min_words, tuple(w.lower() for w in banned_words))


def _c4_keep(line: str, min_words: int, banned: tuple) -> bool:
    """:func:`c4_keep_line` with the banned words already lower-cased
    (:func:`_c4` passes only those its document contains)."""
    t = line.rstrip(" ")
    if t[-1:] not in C4_TERMINALS:
        return False
    # the words are the non-empty pieces of t.split(" "): one more than
    # the spaces unless a leading or doubled space makes empty ones, so
    # that bound needs the exact count only when it reaches min_words
    n = t.count(" ") + 1
    if n >= min_words and (t[0] == " " or "  " in t):
        words = t.split(" ")
        n = len(words) - words.count("")
    if n < min_words:
        return False
    if banned:
        low = t.lower()
        return not any(w in low for w in banned)
    return True


def c4_document(
    text: str | None,
    min_words: int = 5,
    banned_words: tuple = ("javascript",),
    page_banned: tuple = ("lorem ipsum", "{"),
    min_kept_lines: int = 3,
) -> tuple:
    """C4-style line cleaning of one document (Raffel et al. 2020, the
    filter that built the C4 corpus from Common Crawl): keep the lines
    passing :func:`c4_keep_line`, in order, and flag the page for
    corpus-level drop when it contains any ``page_banned`` marker
    ("lorem ipsum", a ``{`` suggesting code; case-insensitive) or keeps
    fewer than ``min_kept_lines`` lines.

    Returns ``(clean_text, n_kept, n_removed, page_kept)``, page_kept
    0/1; all None for a null text."""
    if text is None:
        return (None,) * 4
    lines = text.split("\n")
    kept, page_kept = _c4(
        lines, text.lower(), min_words, banned_words, page_banned,
        min_kept_lines,
    )
    return "\n".join(kept), len(kept), len(lines) - len(kept), int(page_kept)


def _c4(
    lines: list,
    low: str,
    min_words: int,
    banned_words: tuple,
    page_banned: tuple,
    min_kept_lines: int,
) -> tuple:
    """``(kept lines, page_kept)`` of :func:`c4_document`, given the
    document's lines and its lowered text ``low``.  A banned word a line
    mentions is in ``low`` too (each line's lowering is a piece of the
    whole text's), so lines are lowered only for the banned words
    ``low`` contains."""
    banned = tuple(w for w in map(str.lower, banned_words) if w in low)
    kept = [ln for ln in lines if _c4_keep(ln, min_words, banned)]
    page_kept = len(kept) >= min_kept_lines and not any(
        m.lower() in low for m in page_banned
    )
    return kept, page_kept


#: Gopher document-filter stop words (Rae et al. 2021, Appendix A1.1 —
#: "contains at least 2 of the following stop words").
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

#: the words whose space-delimited occurrences the gates count
_COUNTED = frozenset(GOPHER_STOPWORDS).union(*LANG_MARKERS.values())


def _counted_words(low: str) -> list:
    """The language markers and Gopher stop words among the pieces of
    ``low.split(" ")``, in order: the ``" w "`` occurrences of the
    space-padded text.  A piece equal to the one kept at the position
    just before it is dropped: the two occurrences share a space, and
    ``str.count``, which defines the marker counts, counts one of
    them."""
    pieces = low.split(" ")
    out, last = [], -2
    for i in compress(count(), map(_COUNTED.__contains__, pieces)):
        if i == last + 1 and pieces[i] == pieces[last]:
            last = -2
        else:
            out.append(pieces[i])
            last = i
    return out


#: Java's ``\s``: exactly these six ASCII bytes
_JAVA_WS = b" \t\n\x0b\x0c\r"
#: Java whitespace to b" ", every other byte to b"a"
_WORD_BYTES = bytes(32 if b in _JAVA_WS else 97 for b in range(256))
#: the bytes that are neither Java whitespace nor an ASCII letter
_NOT_ALPHA = bytes(
    set(range(256)) - set(_JAVA_WS) - set(string.ascii_letters.encode())
)


def _word_stats(trimmed: str) -> tuple:
    """``(n_words, n_chars, n_alpha)`` of the words of a non-empty
    ``trimmed``, its pieces split at runs of Java whitespace (boundary
    empties included): how many, their total length in characters, and
    how many hold an ASCII letter.  Counted on the UTF-8 bytes: each
    whitespace character is one of the six bytes, and no other
    character's encoding holds any of them."""
    b = trimmed.encode("utf-8", "surrogatepass")
    n_ws = len(b) - len(b.translate(None, _JAVA_WS))
    w = b.translate(_WORD_BYTES)
    # one word more than whitespace runs; a run ends before a word
    # character or at the end
    n_words = w.count(b" a") + (w[-1] == 32) + 1
    # the same over letters and whitespace only: an alphabetic word
    # starts the text or follows a space
    a = b.translate(_WORD_BYTES, _NOT_ALPHA)
    n_alpha = a.count(b" a") + (a[:1] == b"a")
    return n_words, len(trimmed) - n_ws, n_alpha


def gopher_document(
    text: str | None,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.1,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> tuple:
    """Gopher document-level quality rules of one document (Rae et al.
    2021, Appendix A1.1 — the MassiveWeb filter reused by
    RefinedWeb/FineWeb/Dolma):

      * word count in [min_words, max_words];
      * mean word length in [min_mean_word_len, max_mean_word_len];
      * symbol-to-word ratio (``#`` and ``...`` marks) <= max_symbol_ratio;
      * fraction of lines starting with a bullet <= max_bullet_frac
        (the paper's ">= 90% of lines do not start with a bullet");
      * fraction of lines ending with an ellipsis <= max_ellipsis_frac;
      * fraction of words containing an alphabetic char >= min_alpha_frac;
      * at least ``min_stop_hits`` distinct Gopher stop words present.

    Words are the whitespace split of the space-trimmed text (boundary
    empties included, as Spark's ``split`` keeps them); a blank text has
    zero words.  Returns ``(n_words, mean_word_len, symbol_ratio,
    bullet_frac, ellipsis_frac, alpha_frac, n_stop_hits, keep)``, the
    signals unrounded and ``keep`` (0/1) decided on them; a null text
    has null signals and keep 0."""
    if text is None:
        return (None,) * 7 + (0,)
    return _gopher(
        text, text.split("\n"), _counted_words(text.lower()), min_words,
        max_words, min_mean_word_len, max_mean_word_len, max_symbol_ratio,
        max_bullet_frac, max_ellipsis_frac, min_alpha_frac, min_stop_hits,
    )


def _gopher(
    text: str,
    lines: list,
    counted: list,
    min_words: int,
    max_words: int,
    min_mean_word_len: float,
    max_mean_word_len: float,
    max_symbol_ratio: float,
    max_bullet_frac: float,
    max_ellipsis_frac: float,
    min_alpha_frac: float,
    min_stop_hits: int,
) -> tuple:
    """:func:`gopher_document` of a non-null text, given its lines and
    the :func:`_counted_words` of its lowering."""
    trimmed = text.strip(" ")
    if trimmed:
        n_words, n_chars, n_alpha = _word_stats(trimmed)
        mean_wl = n_chars / n_words
        symbol_ratio = (text.count("#") + text.count("...")) / n_words
        alpha_frac = n_alpha / n_words
    else:
        n_words = 0
        mean_wl = symbol_ratio = alpha_frac = 0.0
    bullet_frac = sum(
        ln.lstrip(" ").startswith(("•", "- ", "* ")) for ln in lines
    ) / len(lines)
    ellipsis_frac = sum(
        ln.rstrip(" ").endswith(("...", "…")) for ln in lines
    ) / len(lines)
    present = set(counted)
    stop_hits = sum(1 for w in GOPHER_STOPWORDS if w in present)
    keep = (
        min_words <= n_words <= max_words
        and min_mean_word_len <= mean_wl <= max_mean_word_len
        and symbol_ratio <= max_symbol_ratio
        and bullet_frac <= max_bullet_frac
        and ellipsis_frac <= max_ellipsis_frac
        and alpha_frac >= min_alpha_frac
        and stop_hits >= min_stop_hits
    )
    return (n_words, mean_wl, symbol_ratio, bullet_frac, ellipsis_frac,
            alpha_frac, stop_hits, int(keep))


def gopher_quality(
    df,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.1,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
):
    """:func:`gopher_document` over every row of ``df``.

    Output: (id, n_words, mean_word_len, symbol_ratio, bullet_frac,
    ellipsis_frac, alpha_frac, n_stop_hits, keep int) — the five double
    signals rounded to 6 by Spark for display, ``keep`` decided on
    UNROUNDED values (mirroring the oracle twin, same discipline as the
    dedup thresholds).

    Scale shape: one ``mapInArrow`` over (id, text) plus a projection —
    zero shuffle, embarrassingly parallel at any corpus size; the
    corpus-wide repetition rules of the same paper live in
    :func:`repetition_signals` (those need aggregation, these do not)."""
    rules = (min_words, max_words, min_mean_word_len, max_mean_word_len,
             max_symbol_ratio, max_bullet_frac, max_ellipsis_frac,
             min_alpha_frac, min_stop_hits)
    out = per_document(
        df.select(id_col, text_col), [id_col], text_col,
        lambda t: gopher_document(t, *rules),
        "n_words long, mean_word_len double, symbol_ratio double, "
        "bullet_frac double, ellipsis_frac double, alpha_frac double, "
        "n_stop_hits long, keep int",
    )
    return out.select(*[
        F.round(c, 6).alias(c) if t == "double" else c for c, t in out.dtypes
    ])


def c4_line_filter(
    df,
    id_col: str,
    text_col: str,
    min_words: int = 5,
    banned_words: tuple = ("javascript",),
    page_banned: tuple = ("lorem ipsum", "{"),
    min_kept_lines: int = 3,
):
    """:func:`c4_document` over every row of ``df``.

    Output: (id, clean_text, n_kept, n_removed, page_kept int).

    Scale shape: one ``mapInArrow`` over (id, text) — zero shuffle,
    embarrassingly parallel at any corpus size (contrast
    paragraph_dedup, whose frequencies are corpus-wide and need a
    shuffle)."""
    return per_document(
        df.select(id_col, text_col), [id_col], text_col,
        lambda t: c4_document(
            t, min_words, banned_words, page_banned, min_kept_lines
        ),
        "clean_text string, n_kept long, n_removed long, page_kept int",
    )


def url_blocklist_filter(
    df,
    blocklist,
    url_col: str = "url",
    max_labels: int = 5,
):
    """Domain blocklist filter — the UT1/adult-list gate every crawl
    pipeline runs before anything else: drop a document when its host
    IS a blocked domain or is a SUBDOMAIN of one (``host == d`` or
    ``host`` ends with ``"." + d``).

    ``blocklist`` is a one-column DataFrame (``domain``) of hosts /
    registrable domains.  Scale shape: the candidate suffixes of a host
    are enumerated JVM-side (the last 2..``max_labels`` labels plus the
    exact host — bounded, no explode) and each checks membership
    through its own BROADCAST left join, so the whole gate is
    zero-shuffle map-side work; real blocklists (UT1 is a few M rows)
    broadcast comfortably.  Hosts deeper than ``max_labels`` labels
    still match any blocked suffix within the last ``max_labels``
    labels and the exact host; a blocked domain deeper than that is
    outside the declared match depth (raise ``max_labels``).

    Output: the KEPT rows (input columns + ``host``)."""
    host = url_host(F.col(url_col))
    out = df.select("*", host.alias("host"))
    parts = F.split(F.col("host"), r"\.")
    checks = []
    bl = blocklist.select(F.col("domain"))
    for k in range(2, max_labels + 1):
        suf = F.when(
            F.size(parts) >= k, F.array_join(F.slice(parts, -k, k), ".")
        )
        flag = f"__blk{k}"
        out = out.withColumn(f"__suf{k}", suf).join(
            F.broadcast(bl.select(F.col("domain").alias(f"__suf{k}"),
                                  F.lit(1).alias(flag))),
            f"__suf{k}",
            "left",
        )
        checks.append(F.col(flag))
    exact = "__blk_exact"
    out = out.join(
        F.broadcast(bl.select(F.col("domain").alias("host"),
                              F.lit(1).alias(exact))),
        "host",
        "left",
    )
    checks.append(F.col(exact))
    blocked = F.coalesce(*checks, F.lit(None)).isNotNull()
    drop = [f"__suf{k}" for k in range(2, max_labels + 1)]
    drop += [f"__blk{k}" for k in range(2, max_labels + 1)] + [exact]
    return out.where(~blocked).drop(*drop)
