"""XY-cut span formation over a node-ordered table (W3).

Re-expression of the reference's recursive XY-cut
(``recursive_cut``/``_get_segments``, lib/xycut.py:127-173) as
window/column math keyed by ``url``.  The extraction plan cuts spans per
document in Python (:data:`page_segmentation_spark.oracle.SPAN_CUTTERS`);
this operator is the columnar form the ``w3_xycut_segments`` catalog row
runs over the events table.  Thresholds derive from the per-doc
normalization stat (W4, lib/pc_segmentation.py:37-42) as in
:func:`page_segmentation_spark.config.derive_thresholds`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from page_segmentation_spark.config import CLS_MAIN, ExtractSettings
from page_segmentation_spark.operators.islands import with_islands


def xycut_spans(nodes: DataFrame, settings: ExtractSettings) -> DataFrame:
    """Faithful 1-D re-expression of the recursive XY-cut (W3,
    ``recursive_cut``/``_get_segments``, reference lib/xycut.py:127-173):

      * gaps = maximal zero-runs of the indicator; only gaps with
        length >= split_size survive as cut points (lib/xycut.py:166);
      * segments = maximal regions between kept gaps (they swallow the
        short interior gaps) with length > px_threshold
        (lib/xycut.py:170);
      * recursion terminates at depth 1: DOM order has a single axis, so
        the axis-flipped subproblem is the identity and re-cutting a
        segment with the same thresholds finds no further kept gaps —
        the reference's fixed point is reached immediately.

    Input: a node table with ``pred``, ``is_fg`` and ``char_med``.
    Adds ``in_kept_span`` and, on segment rows, ``span_start``,
    ``span_end`` and ``span_main``.  Single-document twin:
    :func:`page_segmentation_spark.oracle.cut_spans_xycut`.
    """
    split_size = F.when(F.col("char_med") >= 40.0, F.lit(2)).otherwise(F.lit(3))
    px_threshold = F.lit(settings.min_main_nodes)

    ind = ((F.col("pred") == F.lit(CLS_MAIN)) & F.col("is_fg")).cast("int")
    df = nodes.withColumn("ind", ind)

    # gap runs and the kept-gap mask
    df = with_islands(df, ["ind"], out_col="gisl")
    w_g = Window.partitionBy("url", "gisl")
    df = df.withColumn("g_len", F.count(F.lit(1)).over(w_g)).withColumn(
        "in_kept_gap",
        (F.col("ind") == 0) & (F.col("g_len") >= split_size),
    )

    # segments between kept gaps
    df = with_islands(df, ["in_kept_gap"], out_col="sisl")
    w_s = Window.partitionBy("url", "sisl")
    in_seg = ~F.col("in_kept_gap")
    df = (
        df.withColumn("seg_len", F.count(F.lit(1)).over(w_s))
        .withColumn(
            "span_main", F.when(in_seg, F.sum("ind").over(w_s))
        )
        .withColumn("span_start", F.when(in_seg, F.min("node_idx").over(w_s)))
        .withColumn("span_end", F.when(in_seg, F.max("node_idx").over(w_s)))
    )
    keep = in_seg & (F.col("seg_len") > px_threshold) & (F.col("span_main") > 0)
    return df.withColumn("in_kept_span", keep).drop(
        "gisl", "g_len", "in_kept_gap", "sisl", "seg_len", "ind"
    )
