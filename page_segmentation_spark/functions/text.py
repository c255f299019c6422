"""Text-analysis column functions for training-data pipelines.

First-class large-scale operators beyond the reference's own inventory
(per the build brief): language ID, quality scoring, token counting,
document fingerprinting — all pure ``pyspark.sql.functions`` column math
(JVM-side, codegen-friendly, no UDFs) with exact DuckDB-SQL twins used by
the driver's correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: language marker words (counted as ' word ' substrings of the padded,
#: lowered text — the n-gram heuristic's cheapest stable form).
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "que", "es"],
}


def _marker_count(text: Column, word: str) -> Column:
    """Occurrences of ' word ' in the space-padded lowered text via the
    length-difference trick (portable to ANSI SQL)."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    needle = f" {word} "
    return (
        F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit("")))
    ) / F.lit(len(needle))


def lang_score(text: Column, lang: str) -> Column:
    score = F.lit(0.0)
    for w in LANG_MARKERS[lang]:
        score = score + _marker_count(text, w)
    return score


def lang_id(text: Column) -> Column:
    """Argmax language with first-max tie-break over the fixed LANG order;
    'und' when no marker hits at all."""
    langs = list(LANG_MARKERS)
    scores = {lg: lang_score(text, lg) for lg in langs}
    best = scores[langs[0]]
    best_lang = F.lit(langs[0])
    for lg in langs[1:]:
        is_better = scores[lg] > best
        best_lang = F.when(is_better, F.lit(lg)).otherwise(best_lang)
        best = F.when(is_better, scores[lg]).otherwise(best)
    return F.when(best > 0.0, best_lang).otherwise(F.lit("und"))


def with_lang_id(
    df, text_col: str, out_col: str = "lang", padded_col: str | None = None
):
    """DataFrame-level language ID — identical semantics (and identical
    values, verified) to ``lang_id(col)`` but 5-7x faster on real
    corpora (78.6s -> 11-15s on 85k extracted documents, local[16]).

    Why: the single-Column form inlines the padded lowered text into
    every one of the 20 marker counts (each count references it twice),
    and the resulting expression tree is large enough that codegen's
    common-subexpression elimination stops saving it — lower() runs up
    to 40x per row.  This form stages four projections: (1) pad+lower
    ONCE as a real column (referenced-many alias, so CollapseProject
    keeps the barrier), (2) twenty small per-marker counts, (3) the
    four per-language score sums (staged too — the first-max argmax
    CASE tree below references each sum many times, and inlining them
    re-added ~40% to this stage), (4) the argmax.  Marker occurrences
    are counted with ``regexp_count`` on the literal padded needle —
    same non-overlapping left-to-right count as the replace
    length-difference trick (which the SQL twin keeps), without
    building a 2 KB replaced copy of the text per marker (~20%
    faster measured).  Markers are plain lowercase words, so the
    needle contains no regex metacharacters.
    Use this in pipelines; ``lang_id`` remains for ad-hoc column use.

    ``padded_col`` (optional): a column the CALLER guarantees already
    holds ``concat(' ', lower(text_col), ' ')`` — exactly the padded
    lowered text step (1) would build (:func:`gopher_quality` stages
    the same expression as ``__pss_g_padded``).  Step (1) is then
    skipped and the pad/lower pass is not paid a second time; the
    padded column is consumed, NOT emitted in the output."""
    cols = [F.col(c) for c in df.columns if c != padded_col]
    if padded_col is None:
        padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
        step1 = df.select(*cols, padded.alias("__pss_padded"))
        pcol = "__pss_padded"
    else:
        step1 = df
        pcol = padded_col
    mcols = []
    for lg, words in LANG_MARKERS.items():
        for w in words:
            needle = f" {w} "
            mcols.append(
                F.regexp_count(F.col(pcol), F.lit(needle))
                .cast("double")
                .alias(f"__pss_mc_{lg}_{w}")
            )
    step2 = step1.select(*cols, *mcols)
    langs = list(LANG_MARKERS)
    score_cols = []
    for lg in langs:
        s = F.lit(0.0)
        for w in LANG_MARKERS[lg]:
            s = s + F.col(f"__pss_mc_{lg}_{w}")
        score_cols.append(s.alias(f"__pss_s_{lg}"))
    step3 = step2.select(*cols, *score_cols)
    best = F.col(f"__pss_s_{langs[0]}")
    best_lang = F.lit(langs[0])
    for lg in langs[1:]:
        is_better = F.col(f"__pss_s_{lg}") > best
        best_lang = F.when(is_better, F.lit(lg)).otherwise(best_lang)
        best = F.when(is_better, F.col(f"__pss_s_{lg}")).otherwise(best)
    return step3.select(
        *cols,
        F.when(best > 0.0, best_lang).otherwise(F.lit("und")).alias(out_col),
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


def repetition_signals(
    df, id_col: str, text_col: str, extra_cols: tuple[str, ...] = ()
):
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
        *[F.col(c) for c in extra_cols],
        F.explode(words).alias("word"),
        dup_frac.alias("dup_2gram_frac"),
    )
    counts = base.groupBy(id_col, *extra_cols, "dup_2gram_frac", "word").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return counts.groupBy(id_col, *extra_cols, "dup_2gram_frac").agg(
        F.round(
            F.max("cnt") / F.sum("cnt").cast("double"), 6
        ).alias("top_word_frac")
    ).select(
        id_col, *extra_cols, "top_word_frac", "dup_2gram_frac"
    )


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
    extra_cols: tuple[str, ...] = (),
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
            *[F.col(c) for c in extra_cols],
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
    agg = marked.groupBy(id_col, *extra_cols).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.coalesce(F.col("in_v"), F.lit(0)))
        .cast("long")
        .alias("in_vocab"),
    )
    return agg.select(
        id_col,
        *extra_cols,
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
    line: Column,
    min_words: int = 5,
    banned_words: tuple = ("javascript",),
) -> Column:
    """The C4 per-line retention predicate: the (space-)rtrimmed line
    ends in terminal punctuation, carries at least ``min_words``
    whitespace words, and mentions none of ``banned_words``
    (case-insensitive).  Pure column math with an exact DuckDB twin
    (queries._c4_keep_sql)."""
    t = F.rtrim(line)
    keep = F.substring(t, -1, 1).isin(*C4_TERMINALS)
    # ">= min_words space-separated words" as an anchored early-exit
    # scan instead of materializing the full word array per line
    # (size(regexp_extract_all(t, '[^ ]+')) allocated every word of
    # every line just to count them; the r6 A/B measured the c4 stage
    # 1.17 -> 0.80s at 30k pages).  The classes are disjoint
    # ([^ ] vs ' '), so the pattern cannot backtrack pathologically,
    # and it stops after the min_words-th word.  Counts are identical:
    # the string has >= m maximal non-space runs iff it matches
    # ^ *(?:[^ ]+ +){m-1}[^ ].  The DuckDB twin (queries._c4_keep_sql)
    # keeps the regexp_extract_all spelling — values match, pinned by
    # tests/test_r06_optimizations.py + the driver gate.
    if min_words >= 1:
        keep = keep & t.rlike(r"^ *(?:[^ ]+ +){%d}[^ ]" % (min_words - 1))
    low = F.lower(t)
    for w in banned_words:
        keep = keep & ~low.contains(w.lower())
    return keep


#: Gopher document-filter stop words (Rae et al. 2021, Appendix A1.1 —
#: "contains at least 2 of the following stop words").
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


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
    extra_cols: tuple = (),
    lines_col: str | None = None,
):
    """Gopher document-level quality rules (Rae et al. 2021, Appendix
    A1.1 — the MassiveWeb filter reused by RefinedWeb/FineWeb/Dolma):

      * word count in [min_words, max_words];
      * mean word length in [min_mean_word_len, max_mean_word_len];
      * symbol-to-word ratio (``#`` and ``...`` marks) <= max_symbol_ratio;
      * fraction of lines starting with a bullet <= max_bullet_frac
        (the paper's ">= 90% of lines do not start with a bullet");
      * fraction of lines ending with an ellipsis <= max_ellipsis_frac;
      * fraction of words containing an alphabetic char >= min_alpha_frac;
      * at least ``min_stop_hits`` distinct Gopher stop words present.

    Output: (id, n_words, mean_word_len, symbol_ratio, bullet_frac,
    ellipsis_frac, alpha_frac, n_stop_hits, keep int) — signal columns
    rounded to 6 for display, ``keep`` decided on UNROUNDED values
    (mirroring the oracle twin, same discipline as the dedup thresholds).

    ``lines_col`` (optional): an array column that the CALLER
    guarantees equals ``split(text_col, '\\n')`` up to the one-element
    empty edge — i.e. ``text_col == array_join(lines_col, '\\n')`` with
    no element containing a newline (exactly what
    :func:`c4_line_filter` ``emit_lines`` provides for its
    ``clean_text``).  The bullet/ellipsis line signals then reuse the
    array instead of re-splitting the reconstructed text; the empty
    edge (``lines_col == []`` joins to ``''`` which SPLITS to
    ``['']``) is normalized here, so values are identical for every
    input, including pages that kept zero lines.

    Scale shape: a pure per-row projection (split / filter / size /
    regexp are Catalyst array expressions) — zero shuffle, whole-stage
    codegen, embarrassingly parallel at any corpus size; the corpus-wide
    repetition rules of the same paper live in
    :func:`repetition_signals` (those need aggregation, these do not)."""
    text = F.col(text_col)
    # stage the text-wide derivations (trim / both splits / padded-lower)
    # as REAL columns: each is referenced by several signal columns
    # below, and codegen's common-subexpression elimination is not
    # reliable on trees this wide (the with_lang_id lesson) — staged
    # aliases referenced more than once block CollapseProject inlining,
    # so every full-text scan here runs exactly once per row.
    lines_src = (
        F.when(
            F.size(F.col(lines_col)) == 0, F.array(F.lit(""))
        ).otherwise(F.col(lines_col))
        if lines_col
        else F.split(text, "\n")
    )
    df = df.select(
        "*",
        F.trim(text).alias("__pss_g_trim"),
        F.split(F.trim(text), r"\s+").alias("__pss_g_words"),
        lines_src.alias("__pss_g_lines"),
        F.concat(F.lit(" "), F.lower(text), F.lit(" ")).alias(
            "__pss_g_padded"
        ),
    )
    blank = F.length(F.col("__pss_g_trim")) == 0
    words = F.col("__pss_g_words")
    n_words = F.when(blank, F.lit(0)).otherwise(F.size(words)).cast("long")
    # non-whitespace char count as a fold over the ALREADY-staged word
    # array instead of length(regexp_replace(text, '\s+', '')) — the
    # replace built a full de-whitespaced copy of every document just
    # to take its length.  Identical by construction: split on \s+
    # partitions the string into its non-\s segments (boundary empties
    # contribute 0), so the length sum equals the replaced length
    # (r6 interleaved A/B: gopher stage ~2.5 -> ~2.0s at 30k pages;
    # value identity pinned by tests/test_r06_optimizations.py).
    non_ws = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    ).cast("double")
    mean_wl = F.when(
        n_words > 0, non_ws / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    n_symbols = (
        F.size(F.regexp_extract_all(text, F.lit(r"#"), 0))
        + F.size(F.regexp_extract_all(text, F.lit(r"\.\.\."), 0))
    ).cast("long")
    symbol_ratio = F.when(
        n_words > 0, n_symbols.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    lines = F.col("__pss_g_lines")
    n_lines = F.size(lines).cast("double")  # >= 1 for non-null text
    is_bullet = lambda l: (  # noqa: E731 — shared by filter + twin
        F.ltrim(l).startswith("•")
        | F.ltrim(l).startswith("- ")
        | F.ltrim(l).startswith("* ")
    )
    bullet_frac = F.size(F.filter(lines, is_bullet)).cast("double") / n_lines
    ends_ellipsis = lambda l: (  # noqa: E731
        F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…")
    )
    ellipsis_frac = (
        F.size(F.filter(lines, ends_ellipsis)).cast("double") / n_lines
    )
    # Formulation chosen by measurement (120k pages, local[16], per
    # signal over a materialized input): the HOF filter+rlike costs
    # 6.4s — dwarfed by the unavoidable n_words split (17.2s).  Two
    # plausible "optimizations" are catastrophically WORSE and must not
    # come back: a whole-text match regex `[^\s]*[A-Za-z][^\s]*`
    # backtracks O(k^3) on letterless runs, and a char-deletion
    # regexp_replace('[^A-Za-z\\s]','') costs 280s (Java per-match
    # append on ~1 match per character).
    n_alpha_words = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    ).cast("double")
    alpha_frac = F.when(
        n_words > 0, n_alpha_words / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    padded = F.col("__pss_g_padded")
    stop_hits = F.lit(0)
    for w in GOPHER_STOPWORDS:
        stop_hits = stop_hits + F.when(
            padded.contains(f" {w} "), F.lit(1)
        ).otherwise(F.lit(0))
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len)
        & (symbol_ratio <= max_symbol_ratio)
        & (bullet_frac <= max_bullet_frac)
        & (ellipsis_frac <= max_ellipsis_frac)
        & (alpha_frac >= min_alpha_frac)
        & (stop_hits >= min_stop_hits)
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(bullet_frac, 6).alias("bullet_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_frac"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        stop_hits.cast("long").alias("n_stop_hits"),
        keep.cast("int").alias("keep"),
    )


def c4_line_filter(
    df,
    id_col: str,
    text_col: str,
    min_words: int = 5,
    banned_words: tuple = ("javascript",),
    page_banned: tuple = ("lorem ipsum", "{"),
    min_kept_lines: int = 3,
    emit_lines: str | None = None,
):
    """C4-style line-level cleaning (Raffel et al. 2020, the filter that
    built the C4 corpus from Common Crawl): keep only lines passing
    :func:`c4_keep_line`, reconstruct the document from kept lines in
    original order, and flag pages for corpus-level drop — a page is
    rejected when it contains any ``page_banned`` marker ("lorem ipsum",
    a ``{`` suggesting code) or retains fewer than ``min_kept_lines``
    lines.

    Output: (id, clean_text, n_kept, n_removed, page_kept int);
    ``emit_lines`` additionally emits the kept-lines array under that
    name — ``clean_text`` is exactly ``array_join(emit_lines, '\\n')``
    and no element contains a newline, so a downstream consumer that
    would re-split ``clean_text`` on newlines can take the array
    instead of paying the split (see :func:`gopher_quality`
    ``lines_col``; the funnel wiring in plans/training_corpus.py).

    Scale shape: a pure per-row projection — split / filter / array_join
    are Catalyst array expressions, so the operator is zero-shuffle,
    whole-stage-codegen'd, and embarrassingly parallel at any corpus
    size (contrast paragraph_dedup, whose frequencies are corpus-wide
    and need a shuffle).  The kept-lines array is staged as a real
    column first (the with_lang_id discipline): the output select
    references it four times, and inlining would run the per-line
    filter chain once per reference."""
    # stage the line split and the lowered text as REAL columns (the
    # with_lang_id discipline): the output select references the line
    # array twice (kept_expr input + n_lines) and the lowered text once
    # per page_banned needle — inlined, each reference re-split /
    # re-lowered the full text (r6 A/B: 1.17 -> 0.80s at 30k pages
    # together with the c4_keep_line rlike change).
    staged0 = df.select(
        "*",
        F.split(F.col(text_col), "\n").alias("__pss_c4_lines"),
        F.lower(F.col(text_col)).alias("__pss_c4_low"),
    )
    lines = F.col("__pss_c4_lines")
    kept_expr = F.filter(
        lines, lambda l: c4_keep_line(l, min_words, banned_words)
    )
    staged = staged0.select(
        "*", kept_expr.alias("__pss_c4_kept")
    )
    kept = F.col("__pss_c4_kept")
    n_lines = F.size(lines)
    n_kept = F.size(kept)
    low_text = F.col("__pss_c4_low")
    page_bad = F.lit(False)
    for m in page_banned:
        page_bad = page_bad | low_text.contains(m.lower())
    page_kept = (~page_bad) & (n_kept >= min_kept_lines)
    return staged.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        n_kept.cast("long").alias("n_kept"),
        (n_lines - n_kept).cast("long").alias("n_removed"),
        page_kept.cast("int").alias("page_kept"),
        *([kept.alias(emit_lines)] if emit_lines else []),
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
