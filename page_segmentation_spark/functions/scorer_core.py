"""Deterministic per-node classifier: shared weights + pure-Python kernel.

This is the engine's analog of the reference's encoder-decoder inference
(``Network.predict_single_data``, reference lib/network.py:248-260) and of
the multi-scale conv/pool pyramid (reference lib/model.py:45-92): each node
is scored from its own statistics plus *windowed neighbourhood sums* at
three scales (local ±2, section ±8, whole document) — the skip-concat
becomes a plain column concat of per-node and windowed features, and the
1x1-conv head becomes a fixed linear scorer.

Determinism contract (byte-identical output under any partitioning):
  * every windowed aggregate is an INTEGER sum (exact under any order);
  * every feature is one double division of two exactly-representable
    numbers;
  * the logit is a sequential fold ``acc + f[i]*w[i]`` in fixed feature
    order starting from the bias;
  * argmax breaks ties toward the LOWEST class id, matching
    ``np.argmax(bins[1:])`` first-max semantics
    (reference lib/postprocess.py:23).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Sequence

from page_segmentation_spark.config import (
    CLS_BOILER,
    CLS_MAIN,
    CLS_MEDIA,
    HEADING_TAGS,
)

# Tag priors (owning block tag of a node).
TEXT_TAGS = frozenset(
    "p article main blockquote pre h1 h2 h3 h4 h5 h6 figcaption".split()
)
BOILER_TAGS = frozenset(
    "nav footer header aside menu form button li ul ol title".split()
)
MEDIA_PRIOR_TAGS = frozenset(
    "img video audio picture canvas embed object figure".split()
)

#: semantic-container priors (the node's nearest sectioning ancestor,
#: parser "container" field): <p> inside <footer> is invisible from its
#: own tag — the container carries the strongest real-world boilerplate
#: signal an extractor has.
MAIN_CONTAINERS = frozenset({"article", "main"})
BOILER_CONTAINERS = frozenset({"aside", "nav", "footer", "header"})

#: ordered feature names; the features array column uses exactly this order.
FEATURE_NAMES: List[str] = [
    "chars_norm",        # f0: n_chars / (char_med + 1)        — P1 normalization
    "link_density",      # f1: n_link_chars / (n_chars + 1)
    "punct_density",     # f2: n_punct / (n_chars + 1)
    "stop_ratio",        # f3: n_stop / (n_tokens + 1)
    "depth_norm",        # f4: depth / 32
    "tag_text",          # f5
    "tag_boiler",        # f6
    "tag_media",         # f7
    "upper_ratio",       # f8: n_upper / (n_alpha + 1)
    "digit_density",     # f9: n_digits / (n_chars + 1)
    "loc_chars_norm",    # f10: sum±2 n_chars / (5*(char_med+1))   — local scale
    "loc_link_density",  # f11: sum±2 link / (sum±2 chars + 1)
    "sec_chars_norm",    # f12: sum±8 n_chars / (17*(char_med+1))  — section scale
    "sec_link_density",  # f13: sum±8 link / (sum±8 chars + 1)
    "doc_link_density",  # f14: doc link chars / (doc chars + 1)   — page scale
    "rel_pos",           # f15: node_idx / n_nodes
    "fwd_link_density",  # f16: sum(link[i+1..i+3]) / (sum(chars[i+1..i+3])+1)
    "bwd_link_density",  # f17: sum(link[i-3..i-1]) / (sum(chars[i-3..i-1])+1)
    "tag_heading",       # f18: headings announce content — a title over a
                         #      long article must not lose to its tiny
                         #      chars_norm (the giant-doc h1-drop failure)
    "in_main_container",   # f19: nearest sectioning ancestor is article/main
    "in_boiler_container", # f20: ... is aside/nav/footer/header
]
N_FEATURES = len(FEATURE_NAMES)


@dataclass(frozen=True)
class Arch:
    """One named scorer configuration — the only way weights, bias,
    window radii and the length cap reach the scorer.  Weight/bias rows
    follow :data:`FEATURE_NAMES` order; the radii set the context
    windows of ``oracle.node_features``."""

    name: str
    weights: Dict[int, List[float]]
    bias: Dict[int, float]
    local_radius: int = 2
    section_radius: int = 8
    #: one-sided lookahead/lookbehind for the directional link features —
    #: a sidebar/nav header is FOLLOWED by a link list; symmetric windows
    #: can't see the asymmetry (the conv analog of a directional kernel).
    directional_radius: int = 3
    #: cap on the length-ratio features (f0/f10/f12): "longer than
    #: typical" saturates at 3x — on boilerplate-only pages char_med is
    #: tiny (median of nav-link texts) and an unbounded ratio lets one
    #: modest footer line overwhelm every link-density signal.
    chars_norm_cap: float = 3.0


#: the default architecture: the shipped scorer literals (the
#: "deterministic weights npz" of SURVEY §7), class id -> per-feature
#: weight row (+ bias).
#: f20 (in_boiler_container) is DECISIVE by design: ±5.5 exceeds the
#: maximum main-vs-boiler margin any prose node can assemble from the
#: other features (~+6.5 observed, ~+10.6 theoretical bound → swing 11),
#: so text inside aside/nav/footer/header or a class-flagged boilerplate
#: wrapper (html_parse.BOILER_HINT_RE: comment threads, inline promos,
#: share bars) never extracts.  Legitimate article headers survive via
#: the parser's HTML5 scoping rule (header/footer inside article/main
#: resolve to the article, html_parse._BlockCollector._push_ctx).
BASE = Arch(
    name="base",
    weights={
        CLS_BOILER: [-0.8, 3.0, -0.5, -0.5, 0.1, -0.5, 2.0, 0.0,
                     0.5, 0.8, -0.1, 2.0, -0.05, 1.0, 0.5, 0.2,
                     2.0, 1.0, -0.35, -1.0, 5.5],
        CLS_MAIN: [1.2, -4.0, 1.5, 2.0, -0.1, 1.0, -2.0, -4.0,
                   -1.0, -0.8, 0.25, -2.5, 0.15, -1.0, -0.5, -0.2,
                   -2.5, -0.5, 0.35, 1.0, -5.5],
        CLS_MEDIA: [-2.0, 0.0, 0.0, 0.0, 0.0, -1.0, -1.0, 6.0,
                    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
                    0.0, 0.0, 0.0, 0.0, 0.0],
    },
    bias={CLS_BOILER: 0.5, CLS_MAIN: -0.4, CLS_MEDIA: -1.5},
)


def exact_median(sorted_vals: Sequence[int]) -> float:
    """Spark ``percentile(x, 0.5)`` interpolation on a sorted sequence:
    idx=(n-1)/2, result=(1-g)*lo + g*hi.  Exact for integer inputs."""
    n = len(sorted_vals)
    if n == 0:
        return 0.0
    idx = (n - 1) * 0.5
    lo = int(idx)
    g = idx - lo
    hi = min(lo + 1, n - 1)
    return (1.0 - g) * sorted_vals[lo] + g * sorted_vals[hi]


def build_features(
    node: Dict,
    char_med: float,
    loc_chars: int,
    loc_link: int,
    sec_chars: int,
    sec_link: int,
    doc_chars: int,
    doc_link: int,
    n_nodes: int,
    fwd_chars: int = 0,
    fwd_link: int = 0,
    bwd_chars: int = 0,
    bwd_link: int = 0,
    arch: Arch = BASE,
) -> List[float]:
    """Assemble the feature vector for one node
    (:func:`page_segmentation_spark.oracle.node_features` supplies the
    window sums).  ``arch`` sets the window radii whose (2r+1) widths
    normalize the context sums, and the length cap."""
    loc_w = 2.0 * arch.local_radius + 1.0
    sec_w = 2.0 * arch.section_radius + 1.0
    cap = arch.chars_norm_cap
    tag = node["tag"]
    return [
        min(node["n_chars"] / (char_med + 1.0), cap),
        node["n_link_chars"] / (node["n_chars"] + 1.0),
        node["n_punct"] / (node["n_chars"] + 1.0),
        node["n_stop"] / (node["n_tokens"] + 1.0),
        node["depth"] / 32.0,
        1.0 if tag in TEXT_TAGS else 0.0,
        1.0 if tag in BOILER_TAGS else 0.0,
        1.0 if tag in MEDIA_PRIOR_TAGS else 0.0,
        node["n_upper"] / (node["n_alpha"] + 1.0),
        node["n_digits"] / (node["n_chars"] + 1.0),
        min(loc_chars / (loc_w * (char_med + 1.0)), cap),
        loc_link / (loc_chars + 1.0),
        min(sec_chars / (sec_w * (char_med + 1.0)), cap),
        sec_link / (sec_chars + 1.0),
        doc_link / (doc_chars + 1.0),
        node["node_idx"] / float(n_nodes),
        fwd_link / (fwd_chars + 1.0),
        bwd_link / (bwd_chars + 1.0),
        1.0 if tag in HEADING_TAGS else 0.0,
        1.0 if node["container"] in MAIN_CONTAINERS else 0.0,
        1.0 if node["container"] in BOILER_CONTAINERS else 0.0,
    ]


def classify(features: Sequence[float], arch: Arch = BASE) -> int:
    """First-max argmax over class logits (lowest class id wins ties),
    matching np.argmax semantics in the reference CC vote
    (reference lib/postprocess.py:23).

    Each logit is the sequential fold ``acc + f[i]*w[i]`` in feature
    order starting from the bias; the three folds advance in lockstep in
    ONE pass over the feature vector, which leaves every logit value
    bit-identical to folding it alone and only removes the 3x feature
    re-iteration (this is the extraction hot loop)."""
    w, b = arch.weights, arch.bias
    a0, a1, a2 = b[CLS_BOILER], b[CLS_MAIN], b[CLS_MEDIA]
    for f, x0, x1, x2 in zip(
        features, w[CLS_BOILER], w[CLS_MAIN], w[CLS_MEDIA]
    ):
        a0 = a0 + f * x0
        a1 = a1 + f * x1
        a2 = a2 + f * x2
    best, best_cls = a0, CLS_BOILER
    if a1 > best:
        best, best_cls = a1, CLS_MAIN
    if a2 > best:
        best_cls = CLS_MEDIA
    return best_cls
