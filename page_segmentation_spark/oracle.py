"""The single-document extraction chain — the engine's one implementation.

This is the executable specification of the engine's semantics — the
analog of running the reference pipeline eagerly on one page
(predict lifecycle, reference lib/predictor.py:27-42 →
lib/postprocess.py:9-26 → lib/pc_segmentation.py:24-60).  The Spark
plans in :mod:`page_segmentation_spark.plans.extract` run this same
chain (:func:`classify_document`) inside one ``mapInArrow`` kernel per
page, so Spark output equals :func:`extract_document` by construction
(SURVEY.md §5 golden-output tests).

Stages (with reference citations):
  1. parse       — html -> ordered node records (lib/dataset.py:160-191)
  2. normalize   — per-doc median fg block length, A12 char-height analog
                   (lib/image_ops.py:58-82)
  3. features    — multi-scale integer window sums (lib/model.py:45-92)
  4. classify    — linear scorer argmax, first-max ties (lib/network.py:248-260)
  5. cc vote     — majority vote over maximal fg runs
                   (vote_connected_component_class, lib/postprocess.py:9-26;
                   4-connectivity in 1-D == consecutive-run islands)
  6. dilate      — radius-1 windowed max (lib/pc_segmentation.py:63-67)
  7. span cut    — gaps-and-islands with split_size gap filter and
                   min-main segment filter (lib/xycut.py:112-117,164-173)
  8. extract     — in-order concat of fg node texts inside spans
                   (order preservation, lib/pc_segmentation.py:114-116)
"""

from __future__ import annotations

from typing import Any, Callable, Dict, List, NamedTuple, Tuple

from page_segmentation_spark.config import (
    CLS_MAIN,
    HEADING_TAGS,
    ExtractSettings,
    derive_thresholds,
)
from page_segmentation_spark.functions import scorer_core as sc
from page_segmentation_spark.functions.architectures import find_architecture
from page_segmentation_spark.functions.markdown import md_line
from page_segmentation_spark.page_parse import parse_page


def _prefix(vals: List[int]) -> List[int]:
    """Integer prefix-sum array (prefix[i] = sum of vals[:i])."""
    prefix = [0] * (len(vals) + 1)
    acc = 0
    for i, v in enumerate(vals):
        acc += v
        prefix[i + 1] = acc
    return prefix


def _sums_from_prefix(
    prefix: List[int], n: int, lo_off: int, hi_off: int
) -> List[int]:
    """Sliding integer sum over [i+lo_off, i+hi_off] clipped to bounds,
    extracted from a shared prefix array (exact — integers).  Shared by
    the eight window extractions of :func:`node_features`, which all read
    the same two prefix arrays instead of rebuilding one each."""
    out = []
    for i in range(n):
        lo = i + lo_off
        if lo < 0:
            lo = 0
        hi = i + hi_off
        if hi > n - 1:
            hi = n - 1
        out.append(prefix[hi + 1] - prefix[lo] if hi >= lo else 0)
    return out


def char_median(nodes: List[Dict[str, Any]]) -> float:
    """A12 normalization stat: exact median of fg-node n_chars."""
    fg = sorted(n["n_chars"] for n in nodes if n["is_fg"])
    return sc.exact_median(fg)


def node_features(
    nodes: List[Dict[str, Any]], arch=None
) -> Tuple[List[List[float]], float]:
    """Stages 2-3: per-node feature vectors (scorer_core.FEATURE_NAMES
    order) and the per-document char_med they are normalized by.
    ``arch`` selects a named architecture's radii and cap (None = base)."""
    if not nodes:
        return [], 0.0
    med = char_median(nodes)
    chars = [n["n_chars"] for n in nodes]
    links = [n["n_link_chars"] for n in nodes]
    loc_r = sc.LOCAL_RADIUS if arch is None else arch.local_radius
    sec_r = sc.SECTION_RADIUS if arch is None else arch.section_radius
    n_n = len(nodes)
    pc = _prefix(chars)
    pl = _prefix(links)
    loc_c = _sums_from_prefix(pc, n_n, -loc_r, loc_r)
    loc_l = _sums_from_prefix(pl, n_n, -loc_r, loc_r)
    sec_c = _sums_from_prefix(pc, n_n, -sec_r, sec_r)
    sec_l = _sums_from_prefix(pl, n_n, -sec_r, sec_r)
    r = sc.DIRECTIONAL_RADIUS if arch is None else arch.directional_radius
    fwd_c = _sums_from_prefix(pc, n_n, 1, r)
    fwd_l = _sums_from_prefix(pl, n_n, 1, r)
    bwd_c = _sums_from_prefix(pc, n_n, -r, -1)
    bwd_l = _sums_from_prefix(pl, n_n, -r, -1)
    doc_c = pc[-1]
    doc_l = pl[-1]
    feats = [
        sc.build_features(
            node, med, loc_c[i], loc_l[i], sec_c[i], sec_l[i], doc_c, doc_l,
            n_n, fwd_c[i], fwd_l[i], bwd_c[i], bwd_l[i], arch=arch,
        )
        for i, node in enumerate(nodes)
    ]
    return feats, med


def score_nodes(
    nodes: List[Dict[str, Any]], arch=None
) -> Tuple[List[int], float]:
    """Stages 2-4: per-node predicted class (raw, pre-vote) and
    char_med."""
    feats, med = node_features(nodes, arch)
    return [sc.classify(f, arch) for f in feats], med


def cc_majority_vote(
    nodes: List[Dict[str, Any]], preds: List[int]
) -> List[int]:
    """Stage 5: connected components = maximal runs of consecutive fg
    nodes sharing the same (tag, container) (the 1-D analog of a
    glyph/blob-scale binary component — structurally homogeneous, smaller
    than a region; a footer paragraph is not the same component as an
    adjacent article paragraph); every member gets the run's most
    frequent class, ties to the lowest class id (np.argmax(bins[1:])
    first-max, reference lib/postprocess.py:19-24).  Non-fg nodes keep
    their raw prediction (only binary-fg pixels belong to components in
    the reference)."""
    voted = list(preds)
    i = 0
    n = len(nodes)
    while i < n:
        if not nodes[i]["is_fg"]:
            i += 1
            continue
        j = i
        while (
            j < n
            and nodes[j]["is_fg"]
            and nodes[j]["tag"] == nodes[i]["tag"]
            and nodes[j]["container"] == nodes[i]["container"]
        ):
            j += 1
        counts: Dict[int, int] = {}
        for k in range(i, j):
            counts[preds[k]] = counts.get(preds[k], 0) + 1
        win = min(
            counts, key=lambda c: (-counts[c], c)
        )  # max count, lowest class id on ties
        for k in range(i, j):
            voted[k] = win
        i = j
    return voted


def cut_spans(
    nodes: List[Dict[str, Any]],
    voted: List[int],
    settings: ExtractSettings,
    char_med: float,
) -> List[Tuple[int, int, int]]:
    """Stages 6-7: (start_idx, end_idx_inclusive, n_main) spans.

    indicator = node is fg AND voted main; dilate by radius; merge gaps
    shorter than split_size (W4-derived); keep segments with at least
    min_main original main nodes (px_threshold analog,
    reference lib/xycut.py:148,166,170)."""
    n = len(nodes)
    if n == 0:
        return []
    split_size, _ = derive_thresholds(char_med)
    min_main = settings.min_main_nodes
    ind = [
        1 if (voted[i] == CLS_MAIN and nodes[i]["is_fg"]) else 0
        for i in range(n)
    ]
    # dilation: windowed max, radius settings.dilate_radius (P15)
    r = settings.dilate_radius
    dil = [
        1 if any(ind[max(0, i - r): min(n, i + r + 1)]) else 0
        for i in range(n)
    ]
    # merge gaps < split_size that lie BETWEEN segments (sentinel gaps at
    # the borders are never merged — reference adds Gap(0,0)/Gap(len,0)
    # sentinels instead, lib/xycut.py:165-166)
    merged = list(dil)
    i = 0
    while i < n:
        if merged[i] == 0:
            j = i
            while j < n and merged[j] == 0:
                j += 1
            interior = i > 0 and j < n
            if interior and (j - i) < split_size:
                for k in range(i, j):
                    merged[k] = 1
            i = j
        else:
            i += 1
    # islands of merged==1 -> spans; trim each island to its raw-main
    # extents (dilation is for connectivity only — segments cover exactly
    # the content extent, like xy-cut segments between gaps); keep those
    # with >= min_main raw main nodes.
    spans: List[Tuple[int, int, int]] = []
    i = 0
    while i < n:
        if merged[i] == 1:
            j = i
            while j < n and merged[j] == 1:
                j += 1
            members = [k for k in range(i, j) if ind[k] == 1]
            # trailing-heading trim:
            # a heading ending a span announces content OUTSIDE the span;
            # end at the last non-heading main node instead.  A span whose
            # main nodes are ALL headings has no content and is dropped.
            content = [
                k for k in members if nodes[k]["tag"] not in HEADING_TAGS
            ]
            members = [k for k in members if content and k <= content[-1]]
            if len(members) >= min_main and members:
                spans.append((members[0], members[-1], len(members)))
            i = j
        else:
            i += 1
    return spans


def cut_spans_xycut(
    nodes: List[Dict[str, Any]],
    voted: List[int],
    settings: ExtractSettings,
    char_med: float,
) -> List[Tuple[int, int, int]]:
    """Single-document twin of :func:`operators.spans.xycut_spans` (W3,
    reference lib/xycut.py:127-173): kept gaps = maximal zero-runs of the
    indicator with length >= split_size (border runs included); segments
    = maximal runs outside kept gaps (short gaps swallowed); keep
    segments with length > px_threshold AND at least one main node.
    Spans cover the FULL segment extent (not main-trimmed — mirror of
    the Spark form's min/max(node_idx) over the segment)."""
    n = len(nodes)
    if n == 0:
        return []
    split_size, _ = derive_thresholds(char_med)
    px_threshold = settings.min_main_nodes
    ind = [
        1 if (voted[i] == CLS_MAIN and nodes[i]["is_fg"]) else 0
        for i in range(n)
    ]
    in_kept_gap = [False] * n
    i = 0
    while i < n:
        if ind[i] == 0:
            j = i
            while j < n and ind[j] == 0:
                j += 1
            if j - i >= split_size:
                for k in range(i, j):
                    in_kept_gap[k] = True
            i = j
        else:
            i += 1
    spans: List[Tuple[int, int, int]] = []
    i = 0
    while i < n:
        if not in_kept_gap[i]:
            j = i
            while j < n and not in_kept_gap[j]:
                j += 1
            span_main = sum(ind[i:j])
            if (j - i) > px_threshold and span_main > 0:
                spans.append((i, j - 1, span_main))
            i = j
        else:
            i += 1
    return spans


def _wmax(vals: List[int], r: int) -> List[int]:
    """Clipped windowed max over ±r (rowsBetween(-r, r) semantics)."""
    n = len(vals)
    return [
        max(vals[max(0, i - r): min(n, i + r + 1)]) for i in range(n)
    ]


def _wmin(vals: List[int], r: int) -> List[int]:
    n = len(vals)
    return [
        min(vals[max(0, i - r): min(n, i + r + 1)]) for i in range(n)
    ]


def cut_spans_morphological(
    nodes: List[Dict[str, Any]],
    voted: List[int],
    settings: ExtractSettings,
    char_med: float,
) -> List[Tuple[int, int, int]]:
    """Morphological span former (P16, ``get_text_contours``, reference
    lib/pc_segmentation.py:70-116): close(k1) -> open(k_open) ->
    dilate(k1)+close(k1) over the indicator (close = windowed max then
    min, open = min then max); runs of the result become spans (full run
    extents, in reading order) kept when they hold >= min_main raw main
    nodes.  Kernel widths at node granularity: k1=2 (close), k_open=1
    (noise removal)."""
    n = len(nodes)
    if n == 0:
        return []
    min_main = settings.min_main_nodes
    k1, k_open = 2, 1
    ind = [
        1 if (voted[i] == CLS_MAIN and nodes[i]["is_fg"]) else 0
        for i in range(n)
    ]
    m1 = _wmin(_wmax(ind, k1), k1)                       # close
    m2 = _wmax(_wmin(m1, k_open), k_open)                # open
    m3 = _wmin(_wmax(_wmax(m2, k1), k1), k1)             # dilate + close
    spans: List[Tuple[int, int, int]] = []
    i = 0
    while i < n:
        if m3[i] == 1:
            j = i
            while j < n and m3[j] == 1:
                j += 1
            span_main = sum(ind[i:j])
            if span_main >= min_main:
                spans.append((i, j - 1, span_main))
            i = j
        else:
            i += 1
    return spans


#: span-former registry (the post-processor-registry pattern, SURVEY
#: §2.8), keyed by ``ExtractSettings.span_former``.
SPAN_CUTTERS = {
    "default": cut_spans,
    "xycut": cut_spans_xycut,
    "morphological": cut_spans_morphological,
}

#: post_process stage names -> whether the stage runs the CC majority
#: vote (the reference's alias table, lib/postprocess.py:56-64).
#: Bounding boxes fill each same-class island's extent with its class —
#: the identity in 1-D, where islands are already contiguous — so
#: 'bbox' leaves predictions as they are, like 'none'.
POSTPROCESSORS: Dict[str, bool] = {
    "ccmajority": True,
    "cc_majority": True,
    "ccvote": True,
    "voteconnectedcomponents": True,
    "votecomponents": True,
    "boundingboxes": False,
    "bbox": False,
    "none": False,
}


def selected_nodes(
    nodes: List[Dict[str, Any]],
    preds: List[int],
    spans: List[Tuple[int, int, int]],
) -> List[int]:
    """Stage 8's emit rule: the fg nodes inside kept spans whose text is
    extracted, in document order.  The gap merge bridges short interior
    runs for connectivity; a bridged node that is non-main AND (entirely
    link text OR inside a boilerplate container) is an inline ad /
    template promo / related-links block — not content.  Nodes the vote
    kept as main are always emitted."""
    selected: List[int] = []
    for (s, e, _c) in spans:
        for k in range(s, e + 1):
            nk = nodes[k]
            if nk["is_fg"] and (
                preds[k] == CLS_MAIN
                or (
                    nk["n_link_chars"] < nk["n_chars"]
                    and nk["container"] not in sc.BOILER_CONTAINERS
                )
            ):
                selected.append(k)
    return selected


class Engine(NamedTuple):
    """The names in :class:`ExtractSettings`, resolved."""

    arch: Any
    vote: bool
    cut: Callable


def resolve(settings: ExtractSettings) -> Engine:
    """Resolve the architecture, post_process chain and span former that
    ``settings`` name; an unknown name raises (KeyError for the
    architecture, ValueError otherwise).  The Spark plans call this on
    the driver while the plan is built and ship the result inside the
    kernel closure, so executors score with the driver's Arch object —
    custom registrations and :func:`plans.train.apply_weights` included.
    The vote is idempotent and the other stages leave predictions as
    they are, so the chain reduces to "does any stage vote"."""
    stages = [
        name.lower().replace("-", "_").replace("__", "_")
        for name in settings.post_process
    ]
    unknown = [s for s in stages if s not in POSTPROCESSORS]
    if unknown:
        raise ValueError(
            f"unknown post_process {unknown}: {sorted(POSTPROCESSORS)}"
        )
    if settings.span_former not in SPAN_CUTTERS:
        raise ValueError(
            f"unknown span_former {settings.span_former!r}: "
            f"{sorted(SPAN_CUTTERS)}"
        )
    return Engine(
        find_architecture(settings.architecture),
        any(POSTPROCESSORS[s] for s in stages),
        SPAN_CUTTERS[settings.span_former],
    )


def classify_document(
    html: bytes | str,
    settings: ExtractSettings | None = None,
    engine: Engine | None = None,
) -> Dict[str, Any]:
    """Stages 1-7 and the emit rule for one page (HTML or PDF byte
    stream — format detected by parse_page): the one chain behind
    :func:`extract_document`, :func:`extract_document_markdown` and the
    Spark kernels.  ``engine`` is ``resolve(settings)`` when the caller
    already holds it.  Returns {nodes, char_med, features, pred_raw,
    preds (post-vote), spans:[(start,end,n_main)], selected}."""
    settings = settings or ExtractSettings()
    arch, vote, cut = engine or resolve(settings)
    nodes = parse_page(
        html,
        max_nodes=settings.max_nodes_per_doc,
        pdf_password=settings.pdf_password,
    )
    feats, med = node_features(nodes, arch)
    raw = [sc.classify(f, arch) for f in feats]
    preds = cc_majority_vote(nodes, raw) if vote else raw
    spans = cut(nodes, preds, settings, med)
    return {
        "nodes": nodes,
        "char_med": med,
        "features": feats,
        "pred_raw": raw,
        "preds": preds,
        "spans": spans,
        "selected": selected_nodes(nodes, preds, spans),
    }


def render(
    doc: Dict[str, Any], settings: ExtractSettings, markdown: bool = False
) -> str:
    """Join a classified document's selected node texts in document
    order; ``markdown`` prefixes each through the shared tag-prefix map
    (functions/markdown.MD_PREFIXES)."""
    nodes = doc["nodes"]
    if markdown:
        return settings.separator.join(
            md_line(nodes[k]["tag"], nodes[k]["text"]) for k in doc["selected"]
        )
    return settings.separator.join(nodes[k]["text"] for k in doc["selected"])


def extract_document(
    html: bytes | str, settings: ExtractSettings | None = None
) -> Dict[str, Any]:
    """Full pipeline for one page (HTML or PDF byte stream — format
    detected by parse_page).  Returns
    {extracted_text, spans:[(start,end,n_main)], n_nodes, char_med,
    nodes, preds, selected}."""
    settings = settings or ExtractSettings()
    doc = classify_document(html, settings)
    return {
        "extracted_text": render(doc, settings),
        "spans": doc["spans"],
        "n_nodes": len(doc["nodes"]),
        "char_med": doc["char_med"],
        "nodes": doc["nodes"],
        "preds": doc["preds"],
        "selected": doc["selected"],
    }


def extract_document_markdown(
    html: bytes | str, settings: ExtractSettings | None = None
) -> Dict[str, Any]:
    """Markdown-structured extraction for one page: the SAME selected
    nodes as :func:`extract_document` (one :func:`classify_document`
    chain), rendered through the shared tag-prefix map
    (functions/markdown.MD_PREFIXES)."""
    settings = settings or ExtractSettings()
    doc = classify_document(html, settings)
    return {
        "extracted_markdown": render(doc, settings, markdown=True),
        "spans": doc["spans"],
        "n_nodes": len(doc["nodes"]),
    }
