"""User-facing evaluation API over DataFrames — the product form of the
reference's ``dataset.evaluate`` dispatchers (SURVEY.md §2.4:
``ocr_dataset.py:15-36``, ``text_det_dataset.py:79-121``).

Each function takes a DataFrame and returns a small metrics DataFrame;
all are the same aggregates the oracle-checked queries exercise, exposed
as composable library calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from my_ocr_spark.kernel.codec import char_precision_recall
from my_ocr_spark.session import map_rows


def ocr_text_metrics(pairs: DataFrame, pred_col: str = "pred",
                     gt_col: str = "gt") -> DataFrame:
    """Word accuracy (exact / ignore-case), total edit distance, mean
    normalized edit distance (1-NED basis) — eval_ocr_metric analog
    (ocr_metric.py:83-133). One map-side pass + global agg."""
    pred, gt = F.col(pred_col), F.col(gt_col)
    lev = F.levenshtein(pred_col, gt_col)
    ned = lev.cast("double") / F.greatest(F.length(pred), F.length(gt),
                                          F.lit(1))
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        (F.sum(F.when(pred == gt, 1).otherwise(0)).cast("double")
         / F.count("*")).alias("word_acc"),
        (F.sum(F.when(F.lower(pred) == F.lower(gt), 1).otherwise(0))
         .cast("double") / F.count("*")).alias("word_acc_ignore_case"),
        F.sum(lev).cast("bigint").alias("total_edit_dist"),
        (F.sum(ned) / F.count("*")).alias("mean_ned"),
    )


def char_metrics(pairs: DataFrame, pred_col: str = "pred",
                 gt_col: str = "gt") -> DataFrame:
    """Mean char precision/recall via LCS matching (ocr_metric.py:7-81):
    the kernel's per-pair values from one per-row stage, averaged by
    Spark — so, like ``ocr_text_metrics``, an empty input gives
    ``n_pairs`` 0 and null means."""

    def char_pr(pred, gt):
        yield char_precision_recall(pred or "", gt or "")

    per = map_rows(pairs.select(pred_col, gt_col), char_pr,
                   "p double, r double")
    return per.agg(F.count("*").alias("n_pairs"),
                   F.avg("p").alias("mean_char_precision"),
                   F.avg("r").alias("mean_char_recall"))


def detection_hmean(gt: DataFrame, pred: DataFrame,
                    doc_col: str = "img", iou_thr: float = 0.5) -> DataFrame:
    """hmean-IoU over 1-D interval boxes (s, e) per document — the
    grouped theta-join + greedy-match + accumulate pipeline
    (hmean_iou.py:7-116). Inputs: gt(doc, gt_id, s, e),
    pred(doc, pred_id, s, e)."""
    p = pred.select(F.col("pred_id"), F.col(doc_col).alias("_pdoc"),
                    F.col("s").alias("ps"), F.col("e").alias("pe"))
    j = gt.join(p, gt[doc_col] == p._pdoc)
    inter = F.greatest(F.lit(0.0), F.least("e", "pe") - F.greatest("s", "ps"))
    union = (F.col("e") - F.col("s")) + (F.col("pe") - F.col("ps")) - inter
    j = (j.filter(F.least("e", "pe") > F.greatest("s", "ps"))
          .withColumn("iou", inter / union).filter(F.col("iou") > iou_thr))
    w = Window.partitionBy("gt_id").orderBy(F.desc("iou"), F.asc("pred_id"))
    hits = (j.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1).count())
    n_gt, n_pred = gt.count(), pred.count()
    prec = hits / n_pred if n_pred else 0.0
    rec = hits / n_gt if n_gt else 0.0
    hm = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    spark = gt.sparkSession
    return spark.createDataFrame(
        [(hits, n_gt, n_pred, prec, rec, hm)],
        "hits long, n_gt long, n_pred long, precision_v double, "
        "recall_v double, hmean double")


def kie_macro_f1(pairs: DataFrame, gt_col: str = "gt",
                 pred_col: str = "pred") -> DataFrame:
    """Macro F1 over a (gt, pred) label frame — compute_f1_score analog
    (kie_metric.py:5-28)."""
    cm = pairs.groupBy(gt_col, pred_col).agg(F.count("*").alias("n"))
    classes = pairs.select(F.col(gt_col).alias("cls")).distinct()
    tp = (cm.filter(F.col(gt_col) == F.col(pred_col))
            .select(F.col(gt_col).alias("cls"), F.col("n").alias("tp")))
    gt_tot = (cm.groupBy(gt_col).agg(F.sum("n").alias("n_gt"))
                .withColumnRenamed(gt_col, "cls"))
    pr_tot = (cm.groupBy(pred_col).agg(F.sum("n").alias("n_pred"))
                .withColumnRenamed(pred_col, "cls"))
    per = (classes.join(tp, "cls", "left").join(gt_tot, "cls", "left")
                  .join(pr_tot, "cls", "left")
                  .fillna(0, subset=["tp", "n_gt", "n_pred"]))
    prec = F.when(F.col("n_pred") > 0,
                  F.col("tp").cast("double") / F.col("n_pred")).otherwise(0.0)
    rec = F.when(F.col("n_gt") > 0,
                 F.col("tp").cast("double") / F.col("n_gt")).otherwise(0.0)
    f1 = F.when(F.col("tp") > 0, 2 * prec * rec / (prec + rec)).otherwise(0.0)
    return per.select("cls", f1.alias("f1")).agg(
        F.avg("f1").alias("macro_f1"), F.count("*").alias("n_classes"))
