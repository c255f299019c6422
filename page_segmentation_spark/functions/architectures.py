"""Named scorer architectures behind a registry.

The reference ships seven named model architectures behind an enum and
dispatches on the name (reference lib/architecture.py:5-64, consumed by
lib/model.py).  This engine's analog: an architecture is a (window radii,
length cap, weights, bias) bundle — the multi-scale context windows ARE
the conv/pool pyramid of the 1-D model, so varying their radii is the
honest equivalent of varying encoder depth.  Dispatch mirrors the
span-former registry (oracle.SPAN_CUTTERS): look up by name from
:class:`~page_segmentation_spark.config.ExtractSettings`.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List

from page_segmentation_spark.config import CLS_MAIN
from page_segmentation_spark.functions import scorer_core as sc


@dataclass(frozen=True)
class Arch:
    """One named scorer configuration.  Weights/bias rows follow
    scorer_core.FEATURE_NAMES order; radii set the context windows of
    oracle.node_features."""

    name: str
    weights: Dict[int, List[float]]
    bias: Dict[int, float]
    local_radius: int = sc.LOCAL_RADIUS
    section_radius: int = sc.SECTION_RADIUS
    directional_radius: int = sc.DIRECTIONAL_RADIUS
    chars_norm_cap: float = sc.CHARS_NORM_CAP


#: the default architecture — exactly the module-level scorer_core
#: constants (arch=None paths and this object are interchangeable).
BASE = Arch(
    name="base",
    weights=sc.WEIGHTS,
    bias=sc.BIAS,
)

#: wider multi-scale context: local ±3, section ±12, directional ±4 —
#: the "deeper encoder" variant (more smoothing, steadier on long
#: documents; slightly slower to react at content/boilerplate borders).
#: Same weight head: the (2r+1) feature normalization keeps the context
#: features on the same scale, so the head transfers.
WIDE_CONTEXT = Arch(
    name="wide_context",
    weights=sc.WEIGHTS,
    bias=sc.BIAS,
    local_radius=3,
    section_radius=12,
    directional_radius=4,
)

#: tighter windows: local ±1, section ±4, directional ±2 — the "shallow
#: encoder": reacts immediately at content/boilerplate borders, best on
#: short chatty pages where ±8 smoothing bleeds across regions.
LOCAL_FINE = Arch(
    name="local_fine",
    weights=sc.WEIGHTS,
    bias=sc.BIAS,
    local_radius=1,
    section_radius=4,
    directional_radius=2,
)

#: precision-oriented head: base windows, but the main-class bias drops
#: from -0.4 to -1.2 — borderline nodes (short paragraphs, captions near
#: link blocks) fall to boilerplate.  For training-data curation where a
#: false-positive boilerplate sentence in the corpus costs more than a
#: dropped caption.  Weight rows are shared; only the bias literal moves,
#: so the byte-identity fold is unchanged in shape.
PRECISION = Arch(
    name="precision",
    weights=sc.WEIGHTS,
    bias={**sc.BIAS, CLS_MAIN: -1.2},
)

#: recall-oriented head: base windows, main-class bias raised from -0.4
#: to +0.4 — borderline nodes (short paragraphs, captions near link
#: blocks) are kept.  The mirror of 'precision': for corpora where a
#: dropped real sentence costs more than an occasional boilerplate one.
RECALL = Arch(
    name="recall",
    weights=sc.WEIGHTS,
    bias={**sc.BIAS, CLS_MAIN: 0.4},
)

#: long-document tuning: section ±16 and directional ±5 windows with the
#: char-density cap raised 3.0 -> 5.0 — dense long-form pages (docs,
#: papers, serialized fiction) where base ±8 smoothing is too narrow to
#: hold context across figure/blockquote interruptions and the length
#: feature saturates early.  Same head: the (2r+1) normalization keeps
#: context features on a shared scale.
LONG_DOC = Arch(
    name="long_doc",
    weights=sc.WEIGHTS,
    bias=sc.BIAS,
    section_radius=16,
    directional_radius=5,
    chars_norm_cap=5.0,
)

# trained end-to-end by tools/train_arch.py (distributed multinomial LR
# over the shared feature pyramid; 300 datagen pages + 150 wrapped-doc
# template pages — so short digit-heavy titles are in-domain — + 120
# hostile fixtures (15 per shape) — so comment threads / promos /
# cookie banners are in-domain; seed 42, maxIter=100): node-level
# accuracy/precision/recall/F1 all 1.0 vs GT on the training corpus —
# reproduce with `python tools/train_arch.py 300 150 15`.  Weights are
# FROZEN literals (training is a build step, not an import-time side
# effect), rows in scorer_core.FEATURE_NAMES order.
_TRAINED_V1_WEIGHTS: Dict[int, List[float]] = {
    0: [0.505439, 3.038513, 65.684201, -4.599951, -54.046794, -3.494473,
        -0.087738, -17.921637, 47.324642, 5.492780, -0.138156, 0.747308,
        0.882774, 0.844372, 0.017829, 0.451794, -0.153022, -1.824200,
        -3.246197, -8.641610, 11.672217],
    1: [-0.102743, -3.546109, -70.438182, 4.515708, 58.761112, 3.872890,
        -0.868503, -10.862683, -47.281639, -3.477690, 0.329776, -1.551684,
        -1.097464, -0.542364, 0.559399, -0.512810, -0.134209, 1.205361,
        4.123946, 8.040463, -12.044917],
    2: [-0.402696, 0.507596, 4.753981, 0.084243, -4.714318, -0.378416,
        0.956241, 28.784320, -0.043003, -2.015089, -0.191620, 0.804375,
        0.214690, -0.302008, -0.577228, 0.061016, 0.287231, 0.618839,
        -0.877749, 0.601147, 0.372700],
}
_TRAINED_V1_BIAS: Dict[int, float] = {0: 5.711999, 1: -0.210790, 2: -5.501209}

#: the trained architecture — the register_architecture path exercised
#: end-to-end: plans/train.py fit these weights on construction GT; the
#: deterministic scorer then folds them exactly like the hand-set
#: heads.
TRAINED_V1 = Arch(
    name="trained_v1",
    weights=_TRAINED_V1_WEIGHTS,
    bias=_TRAINED_V1_BIAS,
)

ARCHITECTURES: Dict[str, Arch] = {
    a.name: a
    for a in (
        BASE, WIDE_CONTEXT, LOCAL_FINE, PRECISION, RECALL, LONG_DOC,
        TRAINED_V1,
    )
}


def find_architecture(name: str) -> Arch:
    """Registry lookup (reference lib/architecture.py enum dispatch)."""
    try:
        return ARCHITECTURES[name]
    except KeyError:
        raise KeyError(
            f"unknown architecture {name!r}; "
            f"available: {sorted(ARCHITECTURES)}"
        ) from None


def register_architecture(arch: Arch) -> None:
    """Extension point: ship trained weights as a new named architecture
    (the plans/train.py export path can feed this)."""
    ARCHITECTURES[arch.name] = arch
