"""metrics API goldens + CLI end-to-end drive."""

import json
import pathlib
import subprocess
import sys

from my_ocr_spark import metrics

_ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_ocr_text_metrics_exact(spark):
    pairs = spark.createDataFrame(
        [("hello", "hello"), ("HELLO", "hello"), ("helo", "hello")],
        ["pred", "gt"])
    r = metrics.ocr_text_metrics(pairs).collect()[0]
    assert r["n_pairs"] == 3
    assert abs(r["word_acc"] - 1 / 3) < 1e-12
    assert abs(r["word_acc_ignore_case"] - 2 / 3) < 1e-12
    assert r["total_edit_dist"] == 5 + 1  # HELLO→hello=5, helo→hello=1


def test_char_metrics_exact(spark):
    pairs = spark.createDataFrame([("helo", "hello")], ["pred", "gt"])
    r = metrics.char_metrics(pairs).collect()[0]
    assert r["mean_char_precision"] == 1.0
    assert r["mean_char_recall"] == 0.8


def test_char_metrics_empty_input(spark):
    """No pairs: n_pairs 0 and null means, as ocr_text_metrics gives —
    not a division by zero."""
    pairs = (spark.createDataFrame([("a", "b"), ("c", "d")], ["pred", "gt"])
             .repartition(2).filter("pred = 'zzz'"))
    r = metrics.char_metrics(pairs).collect()[0]
    assert r["n_pairs"] == 0
    assert r["mean_char_precision"] is None
    assert r["mean_char_recall"] is None


def test_char_metrics_mean_over_partitions(spark):
    """Three pairs over two partitions: the means equal a driver-side
    mean of difflib's matched-character ratios."""
    from difflib import SequenceMatcher

    rows = [("helo", "hello"), ("world", "word"), ("abc", "xbz")]
    pairs = spark.createDataFrame(rows, ["pred", "gt"]).repartition(2)
    assert pairs.rdd.getNumPartitions() == 2
    ps, rs = [], []
    for p, g in rows:
        tp = sum(b.size for b in SequenceMatcher(
            None, p, g, autojunk=False).get_matching_blocks())
        ps.append(tp / len(p))
        rs.append(tp / len(g))
    r = metrics.char_metrics(pairs).collect()[0]
    assert r["n_pairs"] == 3
    assert abs(r["mean_char_precision"] - sum(ps) / 3) < 1e-12
    assert abs(r["mean_char_recall"] - sum(rs) / 3) < 1e-12


def test_detection_hmean_perfect_match(spark):
    gt = spark.createDataFrame([(1, 100, 0.0, 10.0), (1, 101, 20.0, 30.0)],
                               ["img", "gt_id", "s", "e"])
    pred = spark.createDataFrame([(1, 200, 0.0, 10.0), (1, 201, 20.0, 30.0)],
                                 ["img", "pred_id", "s", "e"])
    r = metrics.detection_hmean(gt, pred).collect()[0]
    assert (r["hits"], r["hmean"]) == (2, 1.0)


def test_kie_macro_f1(spark):
    pairs = spark.createDataFrame(
        [("a", "a"), ("a", "a"), ("b", "a"), ("b", "b")], ["gt", "pred"])
    r = metrics.kie_macro_f1(pairs).collect()[0]
    # class a: P=2/3, R=1 → f1=0.8; class b: P=1, R=0.5 → f1=2/3
    assert abs(r["macro_f1"] - (0.8 + 2 / 3) / 2) < 1e-12
    assert r["n_classes"] == 2


def test_cli_extract_end_to_end(spark, docs_df, tmp_path):
    src = str(tmp_path / "docs")
    out = str(tmp_path / "extracted")
    docs_df.write.parquet(src)
    # separate process: the real spark-submit-style surface
    p = subprocess.run(
        [sys.executable, "-m", "my_ocr_spark", "extract",
         "--input", src, "--output", out,
         "--master", "local[2]", "--buckets", "2"],
        capture_output=True, text=True, timeout=420, cwd=_ROOT)
    assert p.returncode == 0, p.stderr[-1500:]
    stats = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(stats["written"]) == [0, 1]
    back = spark.read.parquet(out)
    assert back.count() == docs_df.select("url").distinct().count()
    assert "text" in back.columns


def test_cli_curate_end_to_end(spark, docs_df, tmp_path):
    """curate subcommand: extract → dedup → quality gate → keep column,
    written as parquet with counts on stdout. Subprocess like the
    extract test — the CLI owns (and stops) its session."""
    src = str(tmp_path / "curate_src")
    docs_df.write.parquet(src)
    out_dir = str(tmp_path / "curated")
    p = subprocess.run(
        [sys.executable, "-m", "my_ocr_spark", "curate",
         "--input", src, "--output", out_dir, "--master", "local[2]"],
        capture_output=True, text=True, timeout=420, cwd=_ROOT)
    assert p.returncode == 0, p.stderr[-1500:]
    stats = json.loads(p.stdout.strip().splitlines()[-1])
    assert stats["cmd"] == "curate" and stats["n_docs"] > 0
    got = spark.read.parquet(out_dir)
    assert set(["url", "keep", "dup_n", "is_canonical"]) <= set(got.columns)
    assert got.count() == stats["n_docs"]
    assert got.filter("keep").count() == stats["n_kept"]
