"""Independent references and the checks against them.

* ``extract_pages`` / ``warc_stream``: every document's output must
  equal ``oracle.extract_document`` on its html (text and node count).
* ``corpus_funnel``: DuckDB evaluates the funnel's gates (C4 lines,
  Gopher rules, language ID, token count, fingerprint, min-url exact
  dedup) over the oracle-extracted text, composed from the SQL pieces
  behind the ``pipeline_training_corpus`` oracle in ``queries.py``.
  Gate parameters are read from the Spark functions' defaults, which
  ``build_training_corpus`` uses when no options are passed.

A document fails when it is missing from the output, appears more
than once, or differs from its reference.
"""

from __future__ import annotations

import inspect

FUNNEL_COLS = ("url", "lang", "n_tokens", "content_fp", "clean_text")


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def funnel_sql() -> str:
    """The DuckDB twin of ``build_training_corpus(pages)`` over a table
    ``docs(url, t)`` of extracted text."""
    from page_segmentation_spark.functions import text as T
    from page_segmentation_spark.queries import _c4_keep_sql, _gopher_ct_sql

    c4 = {
        k: p.default
        for k, p in inspect.signature(T.c4_line_filter).parameters.items()
    }
    gopher_min_words = (
        inspect.signature(T.gopher_quality).parameters["min_words"].default
    )
    keep = " AND ".join(
        _c4_keep_sql("x", c4["min_words"], w.lower())
        for w in c4["banned_words"]
    ) or "TRUE"
    page_bad = " OR ".join(
        f"contains(lower(t), {_sql_str(m.lower())})"
        for m in c4["page_banned"]
    ) or "FALSE"
    langs = list(T.LANG_MARKERS)
    scores = ",\n".join(
        f"{T.lang_score_sql('ct', lg)} AS s_{lg}" for lg in langs
    )
    # first-max argmax over the fixed language order, 'und' on no hits
    best = "CASE WHEN greatest({}) <= 0.0 THEN 'und'".format(
        ", ".join(f"s_{lg}" for lg in langs)
    )
    for i, lg in enumerate(langs[:-1]):
        rest = " AND ".join(f"s_{lg} >= s_{o}" for o in langs[i + 1:])
        best += f" WHEN {rest} THEN '{lg}'"
    best += f" ELSE '{langs[-1]}' END"
    # materialized CTEs: inlined, DuckDB re-derives the word and line
    # lists once per reference (about 6x slower)
    gopher = _gopher_ct_sql(gopher_min_words)
    for cte in ("s", "g", "keepers"):
        gopher = gopher.replace(f"{cte} AS (", f"{cte} AS MATERIALIZED (", 1)
    return f"""
    WITH c4 AS MATERIALIZED (
      SELECT url, t,
             list_filter(string_split(t, chr(10)), x -> {keep}) AS kept
      FROM docs
    ), page AS MATERIALIZED (
      SELECT url, array_to_string(kept, chr(10)) AS ct
      FROM c4
      WHERE NOT ({page_bad})
        AND len(kept) >= {c4["min_kept_lines"]}
    ), {gopher}, scored AS MATERIALIZED (
      SELECT url, ct,
        CASE WHEN length(trim(ct)) = 0 THEN 0
             ELSE len(string_split_regex(trim(ct), '\\s+')) END AS n_tokens,
        substr(md5(regexp_replace(lower(trim(ct)), '\\s+', ' ', 'g')), 1, 16)
          AS content_fp,
        {scores}
      FROM keepers
    )
    SELECT url, {best} AS lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           content_fp, ct AS clean_text
    FROM (SELECT *, min(url) OVER (PARTITION BY content_fp) AS keep_url
          FROM scored)
    WHERE url = keep_url
    """


def funnel_reference(refs: dict, tmp_dir: str, threads: int) -> dict:
    """url -> [lang, n_tokens, content_fp, clean_text] for every
    document the funnel keeps, given url -> [extracted_text, ...]."""
    import duckdb
    import pyarrow as pa

    docs = pa.table(
        {"url": list(refs), "t": [v[0] for v in refs.values()]}
    )
    con = duckdb.connect()
    try:
        con.execute("SET memory_limit = '1GB'")
        con.execute(f"SET threads = {threads}")
        con.execute(f"SET temp_directory = {_sql_str(tmp_dir)}")
        con.register("docs", docs)
        rows = con.execute(funnel_sql()).fetchall()
    finally:
        con.close()
    return {r[0]: list(r[1:]) for r in rows}


def count_failures(expected: dict, got: list[tuple]) -> tuple[int, list]:
    """(count, first few urls) of documents whose output is missing,
    duplicated, unexpected or different.  ``got`` rows are
    (url, *values); ``expected`` maps each url that should appear to
    its [*values]."""
    seen: dict = {}
    dup = set()
    for row in got:
        url = row[0]
        if url in seen:
            dup.add(url)
        seen[url] = list(row[1:])
    bad = [u for u in expected if seen.get(u) != expected[u]]
    bad += [u for u in seen if u not in expected]
    bad += [u for u in dup if u in expected]
    return len(set(bad)), sorted(set(bad))[:5]
