"""The extraction plan — the reference's predict lifecycle (SURVEY.md
§3.1) as one ``mapInArrow`` stage:

    read pages -> mapInArrow(oracle.classify_document per page)
      -> (url, extracted_text, spans, n_nodes)

Every per-document operator (parse -> features -> scorer fold -> CC
majority vote -> span cut -> ordered concat) is data-parallel at the
DOCUMENT grain, so the kernel runs the whole chain per page through the
single-document implementation in :mod:`page_segmentation_spark.oracle`
— Spark output equals ``oracle.extract_document`` by construction.  The
reference's predict loop is exactly this fusion: one in-process chain
per page (reference scripts/predict.py, lib/predictor.py:34-87).

Scale properties (designed for a 1000-executor / 100 TB run):
  * scan -> one ArrowEval stage -> sink: no Exchange, no sort, no
    aggregation; linear in input bytes and embarrassingly parallel;
  * the scan is column-pruned to (url, html);
  * per-task peak memory holds one document's nodes plus its text,
    bounded by the parse-time node cap (``max_nodes_per_doc``, the
    max_width analog, reference lib/dataset.py:139-143).

:func:`classified_nodes` is the same chain's per-node output — the node
table that metrics, ground-truth joins, debug sinks and training read.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

from page_segmentation_spark.config import ExtractSettings
from page_segmentation_spark.oracle import resolve

_SPAN_T = pa.struct(
    [
        pa.field("start", pa.int64()),
        pa.field("end", pa.int64()),
        pa.field("n_main", pa.int64()),
    ]
)
_NODE_TYPES = [
    ("node_idx", pa.int64()),
    ("tag", pa.string()),
    ("container", pa.string()),
    ("depth", pa.int32()),
    ("text", pa.string()),
    ("is_fg", pa.bool_()),
    ("n_chars", pa.int64()),
    ("n_tokens", pa.int64()),
    ("n_link_chars", pa.int64()),
    ("n_punct", pa.int64()),
    ("n_digits", pa.int64()),
    ("n_upper", pa.int64()),
    ("n_alpha", pa.int64()),
    ("n_stop", pa.int64()),
]
_NODE_SCHEMA = pa.schema(
    [("url", pa.string())]
    + _NODE_TYPES
    + [
        ("char_med", pa.float64()),
        ("features", pa.list_(pa.float64())),
        ("pred_raw", pa.int32()),
        ("pred", pa.int32()),
        ("selected", pa.bool_()),
    ]
)


def _extract(
    pages: DataFrame, settings: ExtractSettings | None, markdown: bool
) -> DataFrame:
    settings = settings or ExtractSettings()
    engine = resolve(settings)  # on the driver: unknown names raise here
    text_col = "extracted_markdown" if markdown else "extracted_text"
    schema = pa.schema(
        [
            ("url", pa.string()),
            (text_col, pa.string()),
            ("spans", pa.list_(_SPAN_T)),
            ("n_nodes", pa.int64()),
        ]
    )

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # executor-side import: resolved from the shipped package zip
        from page_segmentation_spark.oracle import classify_document, render

        for batch in batches:
            texts, spans, n_nodes = [], [], []
            for html in batch.column("html").to_pylist():
                doc = classify_document(html or b"", settings, engine)
                texts.append(render(doc, settings, markdown))
                spans.append(
                    [
                        {"start": s, "end": e, "n_main": c}
                        for (s, e, c) in doc["spans"]
                    ]
                )
                n_nodes.append(len(doc["nodes"]))
            yield pa.RecordBatch.from_pydict(
                {
                    "url": batch.column("url").to_pylist(),
                    text_col: texts,
                    "spans": spans,
                    "n_nodes": n_nodes,
                },
                schema=schema,
            )

    return pages.select("url", "html").mapInArrow(
        kernel, schema=from_arrow_schema(schema)
    )


def extract(pages: DataFrame, settings: ExtractSettings | None = None) -> DataFrame:
    """Full pipeline -> (url, extracted_text, spans, n_nodes).

    Documents whose HTML yields zero nodes (empty body) still appear, with
    extracted_text = '' — the oracle contract."""
    return _extract(pages, settings, markdown=False)


def extract_markdown(
    pages: DataFrame, settings: ExtractSettings | None = None
) -> DataFrame:
    """Markdown-structured extraction: the SAME node selection as
    :func:`extract`, each selected node rendered through the shared
    tag-prefix map (functions/markdown.MD_PREFIXES) before the ordered
    join.  Output: (url, extracted_markdown, spans, n_nodes)."""
    return _extract(pages, settings, markdown=True)


def classified_nodes(
    pages: DataFrame, settings: ExtractSettings | None = None
) -> DataFrame:
    """pages -> node table, one row per parsed node: the parse fields
    (html_parse.NODE_FIELDS) plus ``char_med``, ``features``
    (scorer_core.FEATURE_NAMES order), ``pred_raw`` (scorer argmax),
    ``pred`` (after the post_process chain) and ``selected`` (the node's
    text is part of the extraction).  Zero-node documents have no rows."""
    settings = settings or ExtractSettings()
    engine = resolve(settings)
    names = _NODE_SCHEMA.names

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from page_segmentation_spark.oracle import classify_document

        for batch in batches:
            cols: dict = {c: [] for c in names}
            node_cols = [(k, cols[k]) for k, _ in _NODE_TYPES]
            for url, html in zip(
                batch.column("url").to_pylist(),
                batch.column("html").to_pylist(),
            ):
                doc = classify_document(html or b"", settings, engine)
                nodes = doc["nodes"]
                n = len(nodes)
                chosen = set(doc["selected"])
                cols["url"].extend([url] * n)
                for k, col in node_cols:
                    col.extend(node[k] for node in nodes)
                cols["char_med"].extend([doc["char_med"]] * n)
                cols["features"].extend(doc["features"])
                cols["pred_raw"].extend(doc["pred_raw"])
                cols["pred"].extend(doc["preds"])
                cols["selected"].extend(i in chosen for i in range(n))
            yield pa.RecordBatch.from_pydict(cols, schema=_NODE_SCHEMA)

    return pages.select("url", "html").mapInArrow(
        kernel, schema=from_arrow_schema(_NODE_SCHEMA)
    )
