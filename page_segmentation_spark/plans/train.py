"""In-Spark scorer training + evaluation (the Trainer lifecycle analog,
SURVEY §3.2; reference lib/trainer.py:110-159).

The reference trains a Keras encoder-decoder with callbacks; the graft's
classifier head is linear, so training is distributed multinomial
logistic regression (pyspark.ml) over the SAME feature vectors the
extraction pipeline builds — the feature pyramid (P10) is shared, only
the head weights change.

Parity points:
  * label-percentage baseline before training (A4,
    reference lib/trainer.py:135-143) via metrics.label_percentage
  * per-epoch shuffle (X5, lib/network.py:134-135) -> orderBy(rand(seed))
    handled by ml's own sampling; exposed as epoch_shuffle for parity
  * eval (lib/trainer.py:152-159) -> metrics aggregations (A5-A9)
  * the trained weights export as an Arch's weights/bias, so a run
    ships them into the deterministic extraction scorer as a registered
    architecture (functions/architectures.register_architecture).
"""

from __future__ import annotations

from typing import Dict, List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from page_segmentation_spark import metrics as M


def epoch_shuffle(df: DataFrame, seed: int) -> DataFrame:
    """X5: deterministic epoch shuffle (reference lib/network.py:134-135
    np.random.shuffle -> orderBy(rand(seed)))."""
    return df.orderBy(F.rand(seed))


def label_baseline(labeled_nodes: DataFrame, label: str = "gt_label") -> DataFrame:
    """A4 majority-class baseline (reference lib/trainer.py:135-143)."""
    return M.label_percentage(labeled_nodes, label)


def train_scorer(
    labeled_nodes: DataFrame,
    label_col: str = "gt_label",
    features_col: str = "features",
    max_iter: int = 50,
    reg_param: float = 0.0,
    seed: int = 42,
) -> Tuple[Dict[int, List[float]], Dict[int, float]]:
    """Fit multinomial LR on (features, label) and export weights/biases
    in :class:`~page_segmentation_spark.functions.scorer_core.Arch` form
    ({cls: [w...]}, {cls: b}).

    Foreground masking (F5, reference lib/network.py:146-147) is the
    caller's concern: pass only rows that should contribute (e.g.
    .where('is_fg'))."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    data = labeled_nodes.select(
        array_to_vector(F.col(features_col)).alias("features"),
        F.col(label_col).cast("double").alias("label"),
    )
    lr = LogisticRegression(
        maxIter=max_iter,
        regParam=reg_param,
        family="multinomial",
        standardization=False,
    )
    model = lr.fit(data)
    cm = model.coefficientMatrix
    iv = model.interceptVector
    n_cls = cm.numRows
    weights = {
        c: [float(cm[c, j]) for j in range(cm.numCols)] for c in range(n_cls)
    }
    biases = {c: float(iv[c]) for c in range(n_cls)}
    return weights, biases


def evaluate(
    labeled_nodes: DataFrame,
    pred_col: str = "pred",
    label_col: str = "gt_label",
) -> DataFrame:
    """Trainer.eval analog: accuracy + main-class P/R/F1 as one row.

    Fully lazy — ONE aggregation pass, no driver actions (the previous
    version collected two intermediate firsts)."""
    p, lab = F.col(pred_col), F.col(label_col)
    agg = labeled_nodes.agg(
        F.avg(F.when(p == lab, 1.0).otherwise(0.0)).alias("accuracy"),
        F.sum(F.when((p == 1) & (lab == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((p == 1) & (lab != 1), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((p != 1) & (lab == 1), 1).otherwise(0)).alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    prec = F.when(tp + fp > 0, tp / (tp + fp)).otherwise(F.lit(0.0))
    rec = F.when(tp + fn > 0, tp / (tp + fn)).otherwise(F.lit(0.0))
    f1 = F.when(
        prec + rec > 0, 2.0 * prec * rec / (prec + rec)
    ).otherwise(F.lit(0.0))
    return agg.select(
        "accuracy", "tp", "fp", "fn",
        prec.alias("precision"), rec.alias("recall"), f1.alias("f1"),
    )
