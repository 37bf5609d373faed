"""Relational operator inventory (SURVEY.md §2.1–2.7) as named queries
over the driver's TPC-H-ish tables, each with a DuckDB oracle twin.

Scale notes are inline per query: which side broadcasts, where the
shuffle lands, why the plan survives 100×.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F, types as T

from my_ocr_spark.plans.registry import query, t


# ---------------------------------------------------------------------------
# §2.1 scans / parsers
# ---------------------------------------------------------------------------

@query(
    "scan_projection_rename",
    oracle="""
    SELECT l_orderkey AS okey, l_linenumber AS lineno,
           l_quantity AS qty, l_returnflag AS flag
    FROM lineitem
    """,
)
def scan_projection_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LineStrParser keys/keys_idx projection (parser.py:44-50) =
    select+rename; Catalyst prunes the parquet scan to 4 columns."""
    return t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lineno"),
        F.col("l_quantity").alias("qty"),
        F.col("l_returnflag").alias("flag"),
    )


@query(
    "parse_split_fields",
    oracle="""
    SELECT doc_id,
           split_part(text, ' ', 1) AS w1,
           split_part(text, ' ', 2) AS w2,
           split_part(text, ' ', 3) AS w3
    FROM documents
    """,
)
def parse_split_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LineStrParser positional split (parser.py:8-50): split + getItem."""
    d = t(spark, sf_dir, "documents")
    s = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.coalesce(s.getItem(0), F.lit("")).alias("w1"),
        F.coalesce(s.getItem(1), F.lit("")).alias("w2"),
        F.coalesce(s.getItem(2), F.lit("")).alias("w3"),
    )


@query(
    "parse_json_fields",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    """,
)
def parse_json_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LineJsonParser (parser.py:98-120): from_json + required-key filter."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return e.select("event_id", k.alias("k")).filter(F.col("k").isNotNull())


@query(
    "loader_repeat",
    oracle="""
    SELECT doc_id, CAST(r.range AS INT) AS copy_idx
    FROM documents, range(3) AS r
    """,
)
def loader_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loader(repeat=n) row multiplication (loader.py:34-50):
    explode(sequence) — no shuffle, pure narrow fan-out."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("copy_idx"),
    ).select("doc_id", F.col("copy_idx").cast("int").alias("copy_idx"))


@query(
    "malformed_line_filter",
    oracle="""
    SELECT doc_id, n_chars FROM documents
    WHERE length(text) > 0 AND n_chars >= 200 AND lang IS NOT NULL
    """,
)
def malformed_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row drop (loader.py:92-97): predicates push to the scan."""
    return (t(spark, sf_dir, "documents")
            .filter((F.length("text") > 0) & (F.col("n_chars") >= 200)
                    & F.col("lang").isNotNull())
            .select("doc_id", "n_chars"))


@query(
    "string_strip",
    oracle="""
    SELECT doc_id, trim(text) AS stripped,
           ltrim(text, 'the ') AS lstripped
    FROM documents
    """,
)
def string_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StringStrip (string_util.py:1-35): trim/ltrim with custom chars."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.trim(F.col("text")).alias("stripped"),
        F.expr("ltrim('the ', text)").alias("lstripped"),
    )


@query(
    "limit_first_k",
    oracle="SELECT doc_id, lang FROM documents ORDER BY doc_id LIMIT 100",
)
def limit_first_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select_first_k debug limit (icdar_dataset.py:24-54): ordered LIMIT
    (order made explicit — Spark relations are unordered)."""
    return (t(spark, sf_dir, "documents")
            .select("doc_id", "lang").orderBy("doc_id").limit(100))


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------

@query(
    "anti_join_ignore",
    oracle="""
    SELECT c.c_custkey, c.c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_ignore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ignore_pred anti-join (evaluation/utils.py:7-54): predictions not
    overlapping ignored GT → left_anti. At scale: broadcast the small
    (ignored) side; here orders is the big side so plain anti join + AQE."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
             .select("c_custkey", "c_name"))


@query(
    "fanout_explode_words",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
               FROM documents),
    u AS (SELECT doc_id,
                 CAST(unnest(generate_series(1, len(words))) AS INT) AS pos,
                 unnest(words) AS word
          FROM w)
    SELECT doc_id, pos, word, length(word) AS word_len FROM u
    """,
)
def fanout_explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Det→recog fan-out (ocr.py:146-201): doc × blocks 1:N explode.
    Narrow (no shuffle): each word stays in its document's partition."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word"),
    ).select(
        "doc_id",
        (F.col("pos") + 1).cast("int").alias("pos"),  # ordinality is 1-based
        "word",
        F.length("word").alias("word_len"),
    )


@query(
    "kie_relation_crossjoin",
    oracle="""
    SELECT a.c_custkey AS src, b.c_custkey AS dst,
           a.c_custkey // 30 AS grp,
           round(a.c_acctbal - b.c_acctbal, 2) AS dbal
    FROM customer a JOIN customer b ON a.c_custkey // 30 = b.c_custkey // 30
    WHERE a.c_custkey < b.c_custkey
    """,
)
def kie_relation_crossjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KIE compute_relation (kie_dataset.py:207-218): per-group self
    cross-join emitting pairwise features. Self-equi-join on the group key
    keeps the product within groups (never a global cross join).

    The group key is custkey // 30 — one "image" per 30 customers — so
    per-group density stays CONSTANT as SF grows, like the reference's
    per-image node sets (kie_dataset.py computes relations among the
    boxes of ONE annotation file). The old c_nationkey key had 25 groups
    total, so group size grew linearly with SF and the pair output grew
    quadratically (450M rows / 354 s at sf1.0 — no real image does that;
    CLAUDE.md invariant 6)."""
    c = t(spark, sf_dir, "customer")
    a = c.alias("a")
    b = c.alias("b")
    ga = F.expr("a.c_custkey div 30")
    gb = F.expr("b.c_custkey div 30")
    return (a.join(b, (ga == gb)
                   & (F.col("a.c_custkey") < F.col("b.c_custkey")))
            .select(F.col("a.c_custkey").alias("src"),
                    F.col("b.c_custkey").alias("dst"),
                    F.expr("a.c_custkey div 30").alias("grp"),
                    F.round(F.col("a.c_acctbal") - F.col("b.c_acctbal"), 2)
                     .alias("dbal")))


# interval-overlap "boxes" derived deterministically from the tables: the
# IoU theta-join / greedy match / hmean pipeline of hmean_iou.py re-expressed
# relationally (1-D intervals; the 2-D case differs only in arithmetic).

_GT_SQL = """
    SELECT o_orderkey AS gt_id, o_orderkey // 10 AS img,
           CAST(o_orderkey % 1000 AS DOUBLE) AS s,
           CAST(o_orderkey % 1000 + 50 + o_orderkey % 97 AS DOUBLE) AS e
    FROM orders
"""
_PRED_SQL = """
    SELECT l_orderkey * 10 + l_linenumber AS pred_id,
           l_orderkey // 10 AS img,
           CAST(l_partkey % 1000 AS DOUBLE) AS s,
           CAST(l_partkey % 1000 + 40 + l_suppkey % 89 AS DOUBLE) AS e,
           round(l_discount * 10, 2) AS score
    FROM lineitem
"""


def _gt_pred(spark: SparkSession, sf_dir: str):
    # img = orderkey // 10 keeps PER-IMAGE gt/pred density constant as SF
    # grows (the old % 2000 key packed ~750 gt x 3000 pred per image at
    # sf1.0 — quadratic pair counts in SF, a 3850 s sf1.0 NMS oracle, and
    # an unfinishable greedy-NMS recursion; the round-1 join-key lesson,
    # CLAUDE.md invariant 6). Images must scale with data; per-image box
    # counts must not — no real page grows denser because the corpus grew.
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    gt = o.select(
        F.col("o_orderkey").alias("gt_id"),
        F.expr("o_orderkey div 10").alias("img"),
        (F.col("o_orderkey") % 1000).cast("double").alias("s"),
        (F.col("o_orderkey") % 1000 + 50 + F.col("o_orderkey") % 97)
        .cast("double").alias("e"),
    )
    pred = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("pred_id"),
        F.expr("l_orderkey div 10").alias("img"),
        (F.col("l_partkey") % 1000).cast("double").alias("s"),
        (F.col("l_partkey") % 1000 + 40 + F.col("l_suppkey") % 89)
        .cast("double").alias("e"),
        F.round(F.col("l_discount") * 10, 2).alias("score"),
    )
    return gt, pred


_IOU_MATCH_SQL = f"""
    WITH gt AS ({_GT_SQL}), pred AS ({_PRED_SQL}),
    pairs AS (
        SELECT gt.gt_id, pred.pred_id, gt.img,
               greatest(0.0, least(gt.e, pred.e) - greatest(gt.s, pred.s))
                 / ((gt.e - gt.s) + (pred.e - pred.s)
                    - greatest(0.0, least(gt.e, pred.e)
                               - greatest(gt.s, pred.s))) AS iou
        FROM gt JOIN pred ON gt.img = pred.img
        WHERE least(gt.e, pred.e) > greatest(gt.s, pred.s)
    )
    SELECT gt_id, pred_id, img, iou
    FROM (SELECT *, row_number() OVER
                 (PARTITION BY gt_id ORDER BY iou DESC, pred_id) AS rn
          FROM pairs WHERE iou > 0.3)
    WHERE rn = 1
"""


@query("iou_theta_join_match", oracle=_IOU_MATCH_SQL)
def iou_theta_join_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hmean_iou GT×pred matching (hmean_iou.py:66-96): per-image overlap
    match + per-GT best-IoU assignment, as a COGROUPED numpy kernel.
    Strategy history (all oracle-equivalent): rank window → max(struct)
    broadcast join (2.3x) → banded range join (a wash here — overlap
    density ~20%, banding wins only on sparse overlaps; see
    operators/rangejoin.py) → this cogroup matcher (a further ~3x: the
    per-image IoU matrix is one SIMD numpy block instead of 45M codegen
    pair evaluations). Note: per-GT best match, not the reference's
    strict global 1-1 greedy (hmean_iou.py's one_2_one assigns each pred
    at most once) — the oracle implements the same per-GT relaxation, so
    both engines agree by construction."""
    # Cogrouped numpy matcher: both sides shuffle once on the bucketed
    # image key, then a bucket's ENTIRE gt x pred candidate set is built
    # flat (searchsorted per-gt pred ranges -> repeat/cumsum pair index
    # vectors) and evaluated as single SIMD numpy expressions, with the
    # per-gt best taken by segment reduceat. This is image-count
    # INDEPENDENT: the round-6 density-constant fixture (img = key//10)
    # has ~7.5x more, ~10x40-box images than the old %2000 fixture, and
    # the previous per-image python loop went from amortized-free to the
    # dominant cost (hmean bench 1.1 s -> 8.4 s). Flat pairs restore it.
    # The tie-break (iou DESC, pred_id ASC) is free: pred columns are
    # pre-sorted by pred_id inside each image, so the FIRST maximum in a
    # segment is the lowest pred_id. Per-image box counts are bounded
    # upstream (max_candidates analog), which bounds pairs-per-gt at
    # scale; pairs-per-bucket is then linear in bucket rows.
    gt, pred = _gt_pred(spark, sf_dir)
    out_schema = T.StructType([
        T.StructField("gt_id", T.LongType(), False),
        T.StructField("pred_id", T.LongType(), False),
        T.StructField("img", T.LongType(), False),
        T.StructField("iou", T.DoubleType(), False),
    ])
    empty = {f.name: pd.Series(dtype="float64" if f.name == "iou"
                               else "int64") for f in out_schema}

    def match(key, gpdf: pd.DataFrame, ppdf: pd.DataFrame) -> pd.DataFrame:
        # per-image slices via one sort + searchsorted per side: the
        # previous per-image pandas boolean filter + per-image DataFrame
        # construction dominated the bucket wall (same profile shape as
        # pdf_reading_order's 3.3x groupby fix)
        if not len(gpdf) or not len(ppdf):
            return pd.DataFrame(empty)
        gp = gpdf.sort_values("img", kind="mergesort")
        pp = ppdf.sort_values(["pimg", "pred_id"], kind="mergesort")
        gimg = gp["img"].to_numpy(np.int64)
        gs_a, ge_a = gp["s"].to_numpy(), gp["e"].to_numpy()
        gid = gp["gt_id"].to_numpy(np.int64)
        pimg = pp["pimg"].to_numpy(np.int64)
        ps_a, pe_a = pp["ps"].to_numpy(), pp["pe"].to_numpy()
        pid_a = pp["pred_id"].to_numpy(np.int64)
        # flat candidate pairs: gt row i pairs with preds in
        # [pl[i], pr[i]) of the pred_id-sorted pred arrays
        pl = np.searchsorted(pimg, gimg, "left")
        pr = np.searchsorted(pimg, gimg, "right")
        cnt = pr - pl
        total = int(cnt.sum())
        if total == 0:
            return pd.DataFrame(empty)
        starts = np.zeros(len(cnt) + 1, np.int64)
        np.cumsum(cnt, out=starts[1:])
        gidx = np.repeat(np.arange(len(cnt), dtype=np.int64), cnt)
        pidx = (np.arange(total, dtype=np.int64)
                - np.repeat(starts[:-1], cnt) + np.repeat(pl, cnt))
        gs, ge = gs_a[gidx], ge_a[gidx]
        ps, pe = ps_a[pidx], pe_a[pidx]
        lo = np.maximum(gs, ps)
        hi = np.minimum(ge, pe)
        inter = np.maximum(0.0, hi - lo)
        union = (ge - gs) + (pe - ps) - inter
        iou = inter / union  # same float64 op order as the oracle
        iou_m = np.where((hi > lo) & (iou > 0.3), iou, -1.0)
        # per-gt segment max + FIRST-max position (preds ascend by
        # pred_id within a segment, so first max = lowest pred_id).
        # reduceat over nonzero segments only: empty segments have
        # zero width between consecutive nonzero starts, so boundaries
        # at starts[gsel] span exactly the right pair runs.
        gsel = np.flatnonzero(cnt)
        best = np.maximum.reduceat(iou_m, starts[gsel])
        best_per_pair = np.repeat(best, cnt[gsel])
        pos = np.where(iou_m == best_per_pair,
                       np.arange(total, dtype=np.int64), total)
        first = np.minimum.reduceat(pos, starts[gsel])
        ok = best > 0
        if not ok.any():
            return pd.DataFrame(empty)
        grows = gsel[ok]
        return pd.DataFrame({
            "gt_id": gid[grows], "pred_id": pid_a[pidx[first[ok]]],
            "img": gimg[grows], "iou": best[ok]})

    # bucket many small image groups per Python call. The count tracks
    # the session's parallelism, so a 1000-executor cluster is not capped
    # at a constant; a task gets the buckets its shuffle partition hashes
    # to, so eight per task slot, at least 128, even out its load
    B = max(128, 8 * spark.sparkContext.defaultParallelism)
    gtb = gt.withColumn("_b", F.pmod("img", F.lit(B)))
    p = pred.select("pred_id", F.col("img").alias("pimg"),
                    F.col("s").alias("ps"), F.col("e").alias("pe"))
    pb = p.withColumn("_b", F.pmod("pimg", F.lit(B)))
    return (gtb.groupBy("_b").cogroup(pb.groupBy("_b"))
            .applyInPandas(match, schema=out_schema))


@query(
    "interval_range_join",
    oracle="""
    WITH a AS (
        SELECT o_orderkey AS left_id, o_orderkey % 50 AS grp,
               CAST((o_orderkey * 37) % 100000 AS DOUBLE) AS s,
               CAST((o_orderkey * 37) % 100000
                    + 50 + o_orderkey % 97 AS DOUBLE) AS e
        FROM orders
    ),
    b AS (
        SELECT l_orderkey * 10 + l_linenumber AS right_id,
               l_orderkey % 50 AS grp,
               CAST((l_partkey * 53) % 100000 AS DOUBLE) AS s,
               CAST((l_partkey * 53) % 100000
                    + 40 + l_suppkey % 89 AS DOUBLE) AS e
        FROM lineitem
    )
    SELECT a.left_id, b.right_id, a.grp,
           least(a.e, b.e) - greatest(a.s, b.s) AS overlap_len
    FROM a JOIN b ON a.grp = b.grp
    WHERE least(a.e, b.e) > greatest(a.s, b.s)
    """,
)
def interval_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded interval range join on a SPARSE fixture (span 100k,
    interval length ~100, 50 groups): the plain group-equi-join the
    oracle runs evaluates |A_g|x|B_g| pairs per group (18M at sf0.01,
    1.8B at sf0.1); the banded plan (operators/rangejoin.py) explodes
    intervals into 128-wide buckets and equi-joins on (grp, bucket),
    evaluating only spatially-nearby pairs and emitting each overlap
    exactly once. Same result set, verified exactly; measured 22x over
    the plain join at sf0.1 (2.7 s vs 59.5 s warm)."""
    from my_ocr_spark.operators.rangejoin import band_overlap_join

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    a = o.select(
        F.col("o_orderkey").alias("left_id"),
        (F.col("o_orderkey") % 50).alias("grp"),
        ((F.col("o_orderkey") * 37) % 100000).cast("double").alias("s"),
        ((F.col("o_orderkey") * 37) % 100000 + 50
         + F.col("o_orderkey") % 97).cast("double").alias("e"))
    b = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("right_id"),
        (F.col("l_orderkey") % 50).alias("grp"),
        ((F.col("l_partkey") * 53) % 100000).cast("double").alias("s"),
        ((F.col("l_partkey") * 53) % 100000 + 40
         + F.col("l_suppkey") % 89).cast("double").alias("e"))
    j = band_overlap_join(a, b, group="grp", start="s", end="e", width=128.0)
    return j.select(
        "left_id", F.col("right_id_r").alias("right_id"), "grp",
        (F.least("e", "e_r") - F.greatest("s", "s_r")).alias("overlap_len"))


_HMEAN_SQL = f"""
    WITH gt AS ({_GT_SQL}), pred AS ({_PRED_SQL}),
    matched AS ({_IOU_MATCH_SQL}),
    per_img AS (
        SELECT g.img,
               (SELECT count(*) FROM matched m WHERE m.img = g.img) AS hits,
               count(*) AS n_gt,
               (SELECT count(*) FROM pred p WHERE p.img = g.img) AS n_pred
        FROM gt g GROUP BY g.img
    )
    SELECT img, hits, n_gt, n_pred,
           round(CASE WHEN n_pred > 0
                 THEN CAST(hits AS DOUBLE) / n_pred ELSE 0 END, 4)
               AS precision_v,
           round(CAST(hits AS DOUBLE) / n_gt, 4) AS recall_v,
           round(CASE WHEN hits > 0 THEN
                 2.0 * (CAST(hits AS DOUBLE) / n_pred)
                     * (CAST(hits AS DOUBLE) / n_gt)
                 / (CAST(hits AS DOUBLE) / n_pred
                    + CAST(hits AS DOUBLE) / n_gt)
                 ELSE 0 END, 4) AS hmean
    FROM per_img
"""


@query("hmean_per_image", oracle=_HMEAN_SQL)
def hmean_per_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eval_hmean partial+final aggregate (hmean.py:76-149, utils.py:56-94):
    per-image hit/gt/pred counts → P/R/hmean. Partial agg is map-side;
    the final groupBy(img) is one small shuffle."""
    gt, pred = _gt_pred(spark, sf_dir)
    matched = iou_theta_join_match(spark, sf_dir)
    n_gt = gt.groupBy("img").agg(F.count("*").alias("n_gt"))
    n_pred = pred.groupBy("img").agg(F.count("*").alias("n_pred"))
    hits = matched.groupBy("img").agg(F.count("*").alias("hits"))
    per = (n_gt.join(n_pred, "img", "left")
               .join(hits, "img", "left")
               .fillna(0, subset=["n_pred", "hits"]))
    p = F.when(F.col("n_pred") > 0,
               F.col("hits").cast("double") / F.col("n_pred")).otherwise(0.0)
    r = F.col("hits").cast("double") / F.col("n_gt")
    return per.select(
        "img", "hits", "n_gt", "n_pred",
        F.round(p, 4).alias("precision_v"),
        F.round(r, 4).alias("recall_v"),
        F.round(F.when(F.col("hits") > 0,
                       2.0 * p * r / (p + r)).otherwise(0.0), 4)
        .alias("hmean"),
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------

@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical partial+final grouped aggregate (TPC-H Q1 shape; the
    reference's only partial+final agg is the hmean accumulator,
    hmean.py:76-149). Map-side combine makes the shuffle tiny: 6 groups."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.count("*").alias("count_order"),
    )


@query(
    "confusion_macro_f1",
    oracle="""
    WITH scored AS (
        SELECT event_type AS gt,
               CASE WHEN value > 50 THEN 'purchase' ELSE event_type END AS pred
        FROM events
    ),
    cm AS (SELECT gt, pred, count(*) AS n FROM scored GROUP BY gt, pred),
    per_class AS (
        SELECT classes.gt AS cls,
               CAST(coalesce(tp.n, 0) AS BIGINT) AS tp,
               CAST(coalesce(gt_tot.n, 0) AS BIGINT) AS n_gt,
               CAST(coalesce(pred_tot.n, 0) AS BIGINT) AS n_pred
        FROM (SELECT DISTINCT gt FROM scored) classes
        LEFT JOIN (SELECT gt, n FROM cm WHERE gt = pred) tp
               ON tp.gt = classes.gt
        LEFT JOIN (SELECT gt, sum(n) AS n FROM cm GROUP BY gt) gt_tot
               ON gt_tot.gt = classes.gt
        LEFT JOIN (SELECT pred, sum(n) AS n FROM cm GROUP BY pred) pred_tot
               ON pred_tot.pred = classes.gt
    )
    SELECT cls, tp, n_gt, n_pred,
           round(CASE WHEN n_pred > 0
                 THEN CAST(tp AS DOUBLE)/n_pred ELSE 0 END, 4) AS precision_v,
           round(CASE WHEN n_gt > 0
                 THEN CAST(tp AS DOUBLE)/n_gt ELSE 0 END, 4) AS recall_v,
           round(CASE WHEN tp > 0 THEN
                 2.0*(CAST(tp AS DOUBLE)/n_pred)*(CAST(tp AS DOUBLE)/n_gt)
                 / (CAST(tp AS DOUBLE)/n_pred + CAST(tp AS DOUBLE)/n_gt)
                 ELSE 0 END, 4) AS f1
    FROM per_class
    """,
)
def confusion_macro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compute_f1_score confusion-matrix aggregate (kie_metric.py:5-28):
    groupBy(gt, pred) counts → per-class P/R/F1. Three tiny shuffles over
    a classes-cardinality frame — scale-free."""
    e = t(spark, sf_dir, "events")
    scored = e.select(
        F.col("event_type").alias("gt"),
        F.when(F.col("value") > 50, F.lit("purchase"))
         .otherwise(F.col("event_type")).alias("pred"))
    cm = scored.groupBy("gt", "pred").agg(F.count("*").alias("n"))
    classes = scored.select(F.col("gt").alias("cls")).distinct()
    tp = (cm.filter(F.col("gt") == F.col("pred"))
            .select(F.col("gt").alias("cls"), F.col("n").alias("tp")))
    gt_tot = cm.groupBy("gt").agg(F.sum("n").alias("n_gt")) \
               .withColumnRenamed("gt", "cls")
    pred_tot = cm.groupBy("pred").agg(F.sum("n").alias("n_pred")) \
                 .withColumnRenamed("pred", "cls")
    per = (classes.join(tp, "cls", "left").join(gt_tot, "cls", "left")
                  .join(pred_tot, "cls", "left")
                  .fillna(0, subset=["tp", "n_gt", "n_pred"]))
    prec = F.when(F.col("n_pred") > 0,
                  F.col("tp").cast("double") / F.col("n_pred")).otherwise(0.0)
    rec = F.when(F.col("n_gt") > 0,
                 F.col("tp").cast("double") / F.col("n_gt")).otherwise(0.0)
    return per.select(
        "cls", "tp", "n_gt", "n_pred",
        F.round(prec, 4).alias("precision_v"),
        F.round(rec, 4).alias("recall_v"),
        F.round(F.when(F.col("tp") > 0,
                       2.0 * prec * rec / (prec + rec)).otherwise(0.0), 4)
        .alias("f1"),
    )


@query(
    "grouped_majority_vote",
    oracle="""
    SELECT user_id, event_type AS winner, n
    FROM (SELECT user_id, event_type, count(*) AS n,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY count(*) DESC, event_type) AS rn
          FROM events GROUP BY user_id, event_type)
    WHERE rn = 1
    """,
)
def grouped_majority_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SegConvertor majority vote (seg.py:54-123): per-group mode with a
    deterministic tie-break (lexicographic — explicit rank, not mode(),
    because engines break mode ties differently)."""
    e = t(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (counts.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1)
                  .select("user_id", F.col("event_type").alias("winner"), "n"))


# ---------------------------------------------------------------------------
# §2.5 windows / ordered analytics
# ---------------------------------------------------------------------------

@query(
    "sessionize_events",
    oracle="""
    WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                    > 1800000000
                    OR lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    s AS (SELECT user_id, event_id,
                 sum(new_sess) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_id
          FROM g)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stitch_boxes_into_lines gap-split re-expressed as sessionization
    (box_util.py:65-98 → SURVEY.md §2.5): lag + gap flag + running sum.
    One shuffle on user_id; windows run inside each partition."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microseconds on BOTH engines: unix_timestamp()
    # truncates to seconds while DuckDB epoch() keeps the fraction,
    # which flips the >30min decision when a gap straddles the
    # boundary by under a second (found live on generated sf data).
    # timestampdiff is NTZ-safe (unix_micros rejects TIMESTAMP_NTZ).
    prev = F.lag("ts").over(w)
    gap = F.timestamp_diff("MICROSECOND", prev, F.col("ts"))
    new_sess = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess = F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (e.withColumn("session_id", sess.cast("bigint"))
             .groupBy("user_id", "session_id")
             .agg(F.count("*").alias("n_events")))


@query(
    "topk_per_group",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM (SELECT l_orderkey, l_linenumber, l_extendedprice,
                 row_number() OVER (PARTITION BY l_orderkey
                                    ORDER BY l_extendedprice DESC,
                                             l_linenumber) AS rn
          FROM lineitem)
    WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_candidates per-doc cap (wrapper.py:183,211) / OHEM top-k
    (db_loss.py:96): rank window + filter. AQE handles group skew."""
    li = t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber"))
    return (li.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= 3)
              .select("l_orderkey", "l_linenumber", "l_extendedprice"))


@query(
    "ctc_collapse_repeats",
    oracle="""
    SELECT user_id, ts, event_id, event_type
    FROM (SELECT user_id, ts, event_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
          FROM events)
    WHERE prev IS NULL OR event_type <> prev
    """,
)
def ctc_collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTC greedy decode dedup (ctc.py:118-133): drop consecutive repeats
    in an ordered sequence — lag() != current."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (e.withColumn("prev", F.lag("event_type").over(w))
             .filter(F.col("prev").isNull()
                     | (F.col("event_type") != F.col("prev")))
             .select("user_id", "ts", "event_id", "event_type"))


@query(
    "dedup_latest_snapshot",
    oracle="""
    SELECT user_id, event_id, ts, event_type
    FROM (SELECT user_id, event_id, ts, event_type,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def dedup_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warc_ts latest-snapshot dedup (SURVEY.md §2.3 as-of analog):
    row_number over (key ORDER BY ts DESC) = 1."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (e.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1)
             .select("user_id", "event_id", "ts", "event_type"))


@query(
    "asof_join_snapshot",
    oracle="""
    WITH obs AS (
        SELECT o_orderkey, o_custkey AS cust,
               CAST(o_orderkey % 1000 AS BIGINT) AS obs_ts
        FROM orders
    ),
    snaps AS (
        SELECT c_custkey AS cust,
               CAST((c_custkey * 7 + v * 131) % 1000 AS BIGINT) AS snap_ts,
               c_custkey * 10 + v AS snap_val
        FROM customer, (SELECT unnest([0, 1, 2]) AS v)
    )
    SELECT o.o_orderkey, o.cust, o.obs_ts, s.snap_val
    FROM obs o ASOF LEFT JOIN snaps s
      ON o.cust = s.cust AND o.obs_ts >= s.snap_ts
    """,
)
def asof_join_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General two-table AS-OF join (operators/asof.py): every order
    picks up the customer snapshot with the greatest snap_ts <= its
    observation ts (NULL when none) — the dimension-versioning join a
    warc_ts-style corpus needs. Spark side is the union-and-carry plan
    (one shuffle on the key, no per-key pair blow-up); the oracle is
    DuckDB's NATIVE ASOF LEFT JOIN, so the operator is verified against
    an independent first-class implementation rather than a rephrasing
    of itself."""
    from my_ocr_spark.operators.asof import asof_join

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    obs = o.select(
        "o_orderkey", F.col("o_custkey").alias("cust"),
        (F.col("o_orderkey") % 1000).cast("bigint").alias("obs_ts"))
    snaps = (c.select("c_custkey")
              .withColumn("v", F.explode(F.array(F.lit(0), F.lit(1),
                                                 F.lit(2))))
              .select(F.col("c_custkey").alias("cust"),
                      ((F.col("c_custkey") * 7 + F.col("v") * 131) % 1000)
                      .cast("bigint").alias("snap_ts"),
                      (F.col("c_custkey") * 10 + F.col("v"))
                      .alias("snap_val")))
    return asof_join(obs, snaps, key="cust", left_ts="obs_ts",
                     right_ts="snap_ts", value_cols=["snap_val"])


@query(
    "threshold_sweep_argmax",
    oracle="""
    WITH thr AS (SELECT CAST(unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
                              AS DOUBLE) AS thr),
    scored AS (
        SELECT thr.thr,
               CAST(sum(CASE WHEN l_discount >= thr.thr * CAST(0.1 AS DOUBLE)
                        THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS keep_rate
        FROM lineitem, thr GROUP BY thr.thr
    )
    SELECT thr, keep_rate
    FROM (SELECT thr, keep_rate,
                 row_number() OVER (ORDER BY keep_rate DESC, thr) AS rn
          FROM scored)
    WHERE rn = 1
    """,
)
def threshold_sweep_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eval_hmean threshold sweep keep-best (hmean.py:124-145): crossJoin
    with a 7-row threshold dimension (broadcast — free) + argmax."""
    li = t(spark, sf_dir, "lineitem")
    thr = spark.createDataFrame([(x,) for x in
                                 [0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]],
                                ["thr"])
    scored = (li.crossJoin(F.broadcast(thr))
              .groupBy("thr")
              .agg((F.sum(
                  F.when(F.col("l_discount") >= F.col("thr") * 0.1, 1)
                   .otherwise(0)).cast("double") / F.count("*"))
                   .alias("keep_rate")))
    w = Window.orderBy(F.desc("keep_rate"), F.asc("thr"))
    return (scored.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1).select("thr", "keep_rate"))


@query(
    "tta_best_variant",
    oracle="""
    WITH variants AS (
        SELECT doc_id, v.variant,
               round(n_chars * (CAST(1.0 AS DOUBLE)
                                - CAST(0.1 AS DOUBLE) * v.variant)
                     + (doc_id % 7) * v.variant, 4) AS score
        FROM documents,
             (SELECT unnest([0, 1, 2]) AS variant) v
    )
    SELECT doc_id, CAST(variant AS INT) AS best_variant,
           score AS best_score
    FROM (SELECT doc_id, variant, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, variant) AS rn
          FROM variants)
    WHERE rn = 1
    """,
)
def tta_best_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MultiRotateAugOCR + merge_aug_results (test_time_aug.py:8-107,
    encode_decode_recognizer.py:156-165): explode doc×variant, score each,
    keep best per doc — explode + window rank, all narrow until the rank."""
    d = t(spark, sf_dir, "documents")
    v = d.select(
        "doc_id", "n_chars",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("variant"))
    v = v.withColumn(
        "score",
        F.round(F.col("n_chars") * (1.0 - 0.1 * F.col("variant"))
                + (F.col("doc_id") % 7) * F.col("variant"), 4))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("variant"))
    return (v.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1)
             .select("doc_id", F.col("variant").cast("int")
                     .alias("best_variant"),
                     F.col("score").alias("best_score")))


@query(
    "seg_decode_concat",
    oracle="""
    WITH sess AS (
        SELECT user_id, event_id, ts, event_type,
               CAST(sum(CASE WHEN prev IS NULL
                        OR epoch_us(ts) - prev > 1800000000
                        THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
        FROM (SELECT *, lag(epoch_us(ts)) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events)
    ),
    winners AS (
        SELECT user_id, sess_id, event_type AS winner,
               min(first_ts) AS first_ts
        FROM (SELECT user_id, sess_id, event_type,
                     count(*) AS n, min(ts) AS first_ts,
                     row_number() OVER (PARTITION BY user_id, sess_id
                                        ORDER BY count(*) DESC,
                                                 event_type) AS rn
              FROM sess GROUP BY user_id, sess_id, event_type)
        WHERE rn = 1 GROUP BY user_id, sess_id, event_type
    )
    SELECT user_id,
           string_agg(substr(winner, 1, 1), '' ORDER BY sess_id) AS decoded
    FROM winners GROUP BY user_id
    """,
)
def seg_decode_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SegConvertor.tensor2str (seg.py:54-123): per-component majority
    vote, components ordered spatially, winners concatenated to a string.
    Components = gap sessions; order = session id; char = winner initial.
    Ordered concat via sort-array-of-structs (engine-portable: DuckDB's
    string_agg ORDER BY ≡ Spark's array_sort+array_join)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microseconds on BOTH engines: unix_timestamp()
    # truncates to seconds while DuckDB epoch() keeps the fraction,
    # which flips the >30min decision when a gap straddles the
    # boundary by under a second (found live on generated sf data).
    # timestampdiff is NTZ-safe (unix_micros rejects TIMESTAMP_NTZ).
    prev = F.lag("ts").over(w)
    gap = F.timestamp_diff("MICROSECOND", prev, F.col("ts"))
    new_sess = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess = e.withColumn(
        "sess_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow))
         .cast("bigint"))
    counts = (sess.groupBy("user_id", "sess_id", "event_type")
                  .agg(F.count("*").alias("n")))
    w2 = Window.partitionBy("user_id", "sess_id").orderBy(
        F.desc("n"), F.asc("event_type"))
    winners = (counts.withColumn("rn", F.row_number().over(w2))
                     .filter(F.col("rn") == 1)
                     .select("user_id", "sess_id",
                             F.col("event_type").alias("winner")))
    return (winners.groupBy("user_id")
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("sess_id", "winner"))),
                    lambda x: F.substring(x["winner"], 1, 1)),
                "").alias("decoded")))


# ---------------------------------------------------------------------------
# §2.7 set operations
# ---------------------------------------------------------------------------

@query(
    "union_provenance",
    oracle="""
    SELECT 'customer' AS src, c_custkey AS entity_key, c_name AS name
    FROM customer
    UNION ALL
    SELECT 'supplier' AS src, s_suppkey AS entity_key, s_name AS name
    FROM supplier
    """,
)
def union_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniformConcatDataset UNION ALL with provenance lit column
    (uniform_concat_dataset.py:7-29; hmean_iou.py:58-61)."""
    c = t(spark, sf_dir, "customer").select(
        F.lit("customer").alias("src"),
        F.col("c_custkey").alias("entity_key"),
        F.col("c_name").alias("name"))
    s = t(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("src"),
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_name").alias("name"))
    return c.unionByName(s)


@query(
    "except_singletons",
    oracle="""
    SELECT e.user_id, e.event_id FROM events e
    JOIN (SELECT user_id FROM events
          GROUP BY user_id HAVING count(*) > 1) k
      ON e.user_id = k.user_id
    """,
)
def except_singletons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """remove_single EXCEPT-of-singleton-clusters (wrapper.py:656-683):
    groupBy(key) HAVING count>1, semi-join back. The keep-keys side is
    small after aggregation → broadcast semi join under AQE."""
    e = t(spark, sf_dir, "events")
    keep = (e.groupBy("user_id").agg(F.count("*").alias("n"))
             .filter(F.col("n") > 1).select("user_id"))
    return (e.join(F.broadcast(keep), "user_id", "left_semi")
             .select("user_id", "event_id"))


# ---------------------------------------------------------------------------
# deterministic "sample" (WeightedConcatDataset analog, no RNG)
# ---------------------------------------------------------------------------

@query(
    "weighted_union_sample",
    oracle="""
    SELECT 'a' AS src, doc_id FROM documents WHERE doc_id % 10 < 3
    UNION ALL
    SELECT 'b' AS src, doc_id FROM documents WHERE doc_id % 10 >= 7
    """,
)
def weighted_union_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WeightedConcatDataset sampling mixture (weighted_concat_dataset.py:
    6-19) made deterministic: hash/mod-based fractions instead of RNG —
    the only reproducible sampling at cluster scale."""
    d = t(spark, sf_dir, "documents")
    a = (d.filter(F.col("doc_id") % 10 < 3)
          .select(F.lit("a").alias("src"), "doc_id"))
    b = (d.filter(F.col("doc_id") % 10 >= 7)
          .select(F.lit("b").alias("src"), "doc_id"))
    return a.unionByName(b)
