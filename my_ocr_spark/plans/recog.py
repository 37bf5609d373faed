"""Recognize-stage queries (SURVEY.md §2.8 codecs, §2.4 char metrics,
§2.3 IC13 grouped matching)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F, types as T

from my_ocr_spark.kernel.codec import DICT36, char_true_positives
from my_ocr_spark.plans.registry import query, t
from my_ocr_spark.plans.relational import _GT_SQL, _PRED_SQL, _gt_pred
from my_ocr_spark.session import map_rows

# CASE expression shared verbatim by both engines (36-char dict + UKN=36,
# convertors/base.py:20-46)
_CHAR_CASE = ("CASE " + " ".join(
    f"WHEN c = '{ch}' THEN {i}" for i, ch in enumerate(DICT36))
    + " ELSE 36 END")
_IDX_CASE = ("CASE " + " ".join(
    f"WHEN i = {i} THEN '{ch}'" for i, ch in enumerate(DICT36))
    + " ELSE '?' END")


@query(
    "char_codec_roundtrip",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               substr(lower(text), 1, 24) AS frag
        FROM documents WHERE length(text) >= 24
    ),
    enc AS (
        SELECT doc_id, frag,
               list_transform(string_split(frag, ''),
                              c -> {_CHAR_CASE}) AS idx
        FROM s
    )
    SELECT doc_id,
           array_to_string(idx, ',') AS idx_csv,
           array_to_string(list_transform(idx, i -> {_IDX_CASE}), '')
               AS decoded
    FROM enc
    """,
)
def char_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """str2idx/idx2str with <UKN> fallback (convertors/base.py:52-105) as
    pure array expressions: chars → DICT36 indices → chars ('?' for UKN).
    The charset map is a literal CASE — identical text on both engines."""
    d = t(spark, sf_dir, "documents").filter(F.length("text") >= 24)
    frag = F.substring(F.lower("text"), 1, 24)
    s = d.select("doc_id", frag.alias("frag"))
    idx = F.expr(f"transform(split(frag, ''), c -> {_CHAR_CASE})")
    s = s.withColumn("idx", idx.cast("array<int>"))
    decoded = F.expr(
        f"array_join(transform(idx, i -> {_IDX_CASE}), '')")
    return s.select(
        "doc_id",
        F.array_join(F.transform("idx", lambda i: i.cast("string")), ",")
         .alias("idx_csv"),
        decoded.alias("decoded"))


_CHARPR_OUT = T.StructType([
    T.StructField("tp", T.LongType(), False),
    T.StructField("pred_len", T.LongType(), False),
    T.StructField("gt_len", T.LongType(), False),
])

# three pred families: vowel-stripped (many short blocks), reversed
# (dense single-char matches, deep recursion), 2-char shift (one long
# block + flank) — exercises the matcher's split recursion non-trivially
_CHARPR_PAIRS = """
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
                THEN regexp_replace(lower(substr(text, 1, 30)),
                                    '[aeiou]', '', 'g')
                WHEN doc_id % 3 = 1
                THEN reverse(lower(substr(text, 1, 24)))
                ELSE lower(substr(text, 3, 24)) END AS pred,
           lower(substr(text, 1, 24)) AS gt
    FROM documents WHERE length(text) > 0
"""


def _charpr_oracle() -> str:
    """DuckDB twin of SequenceMatcher matching-block totals
    (Ratcliff–Obershelp, what ``char_true_positives`` computes): global
    maximal diagonal runs via gaps-and-islands windows, then a recursive
    CTE replays the divide-and-conquer — each segment picks its best
    block (clipped run, max len → min i → min j, difflib's tie rule,
    property-tested vs difflib on 4000 random pairs) via a correlated
    argmax subquery and emits two child segments. Integer aggregates are
    order-independent; micro P/R are single exact-int divisions."""
    # clipped-run expressions shared by the filter and the ORDER BY
    ci = "greatest(r.i0, c.alo, r.d + c.blo)"
    ck = f"least(r.i0 + r.len, c.ahi, r.d + c.bhi) - {ci}"
    best = f"""(SELECT {{'i': {ci}, 'j': {ci} - r.d, 'k': {ck}}}
            FROM runs r
            WHERE r.doc_id = c.doc_id AND {ck} > 0
            ORDER BY {ck} DESC, {ci} ASC, {ci} - r.d ASC
            LIMIT 1)"""
    return f"""
    WITH RECURSIVE pairs AS ({_CHARPR_PAIRS}),
    mp AS (SELECT doc_id, pred,
                  unnest(generate_series(1, length(pred))) AS i
           FROM pairs),
    mg AS (SELECT doc_id, gt,
                  unnest(generate_series(1, length(gt))) AS j
           FROM pairs),
    matches AS (SELECT mp.doc_id, mp.i, mg.j, mp.i - mg.j AS d
                FROM mp JOIN mg ON mp.doc_id = mg.doc_id
                     AND substr(mp.pred, mp.i, 1) = substr(mg.gt, mg.j, 1)),
    isl AS (SELECT doc_id, d, i,
                   i - row_number() OVER (PARTITION BY doc_id, d
                                          ORDER BY i) AS grp
            FROM matches),
    runs AS (SELECT doc_id, d, min(i) AS i0, count(*) AS len
             FROM isl GROUP BY doc_id, d, grp),
    seg AS (
        SELECT c.doc_id, c.alo, c.ahi, c.blo, c.bhi, {best} AS best
        FROM (SELECT doc_id, 1 AS alo, length(pred) + 1 AS ahi,
                     1 AS blo, length(gt) + 1 AS bhi
              FROM pairs) c
        UNION ALL
        SELECT c.doc_id, c.alo, c.ahi, c.blo, c.bhi, {best} AS best
        FROM (SELECT s.doc_id,
                CASE WHEN side.k = 0 THEN s.alo
                     ELSE s.best.i + s.best.k END AS alo,
                CASE WHEN side.k = 0 THEN s.best.i ELSE s.ahi END AS ahi,
                CASE WHEN side.k = 0 THEN s.blo
                     ELSE s.best.j + s.best.k END AS blo,
                CASE WHEN side.k = 0 THEN s.best.j ELSE s.bhi END AS bhi
              FROM seg s CROSS JOIN (VALUES (0), (1)) side(k)
              WHERE s.best IS NOT NULL) c
        WHERE c.alo < c.ahi AND c.blo < c.bhi
    ),
    tp AS (SELECT doc_id, sum(coalesce(best.k, 0)) AS tp
           FROM seg GROUP BY doc_id),
    per AS (SELECT p.doc_id, coalesce(tp.tp, 0) AS tp,
                   length(p.pred) AS plen, length(p.gt) AS glen
            FROM pairs p LEFT JOIN tp USING (doc_id)),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(tp) AS BIGINT) AS sum_tp,
                   CAST(sum(plen) AS BIGINT) AS sum_pred_len,
                   CAST(sum(glen) AS BIGINT) AS sum_gt_len
            FROM per)
    SELECT n_pairs, sum_tp, sum_pred_len, sum_gt_len,
           CAST(sum_tp AS DOUBLE) / CAST(sum_pred_len AS DOUBLE)
               AS micro_precision,
           CAST(sum_tp AS DOUBLE) / CAST(sum_gt_len AS DOUBLE)
               AS micro_recall
    FROM agg
    """


@query("char_precision_recall_agg", oracle=_charpr_oracle())
def char_precision_recall_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-level P/R via SequenceMatcher block matching
    (ocr_metric.py:7-81) over deterministic (pred, gt) pairs. Aggregates
    are exact integers (matched chars / lengths) so the distributed sum
    is order-independent; micro P/R are single divisions of exact ints —
    bit-identical across engines. The per-pair macro averages stay
    covered by kernel unit goldens; the matcher itself is oracled here by
    a recursive-CTE replay of Ratcliff–Obershelp (see _charpr_oracle)."""
    d = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    gt = F.lower(F.substring("text", 1, 24))
    pred = (F.when(F.col("doc_id") % 3 == 0,
                   F.regexp_replace(F.lower(F.substring("text", 1, 30)),
                                    "[aeiou]", ""))
             .when(F.col("doc_id") % 3 == 1, F.reverse(gt))
             .otherwise(F.lower(F.substring("text", 3, 24))))
    pairs = d.select(pred.alias("pred"), gt.alias("gt"))

    def char_tp(pred, gt):
        pred, gt = pred or "", gt or ""
        yield char_true_positives(pred, gt), len(pred), len(gt)

    per = map_rows(pairs, char_tp, _CHARPR_OUT)
    return (per.agg(F.count("*").alias("n_pairs"),
                    F.sum("tp").alias("sum_tp"),
                    F.sum("pred_len").alias("sum_pred_len"),
                    F.sum("gt_len").alias("sum_gt_len"))
            .select("n_pairs", "sum_tp", "sum_pred_len", "sum_gt_len",
                    (F.col("sum_tp").cast("double")
                     / F.col("sum_pred_len").cast("double"))
                    .alias("micro_precision"),
                    (F.col("sum_tp").cast("double")
                     / F.col("sum_gt_len").cast("double"))
                    .alias("micro_recall")))


@query(
    "ic13_many2one",
    oracle=f"""
    WITH gt AS ({_GT_SQL}), pred AS ({_PRED_SQL}),
    pairs AS (
        SELECT gt.gt_id, gt.img, gt.e - gt.s AS glen,
               least(gt.e, pred.e) - greatest(gt.s, pred.s) AS inter
        FROM gt JOIN pred ON gt.img = pred.img
        WHERE least(gt.e, pred.e) > greatest(gt.s, pred.s)
    )
    SELECT gt_id, img, count(*) AS n_preds,
           CAST(sum(inter) AS DOUBLE) / any_value(glen) AS total_recall
    FROM pairs GROUP BY gt_id, img
    HAVING sum(inter) * 10 >= 8 * any_value(glen)
       AND count(*) >= 2
    """,
)
def ic13_many2one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC13 many-to-one matching (hmean_ic13.py:7-216, one_2_many/
    many_2_one at evaluation/utils.py:211-349): a GT matched by the UNION
    of several predictions — post-join groupBy(gt) with summed coverage
    threshold. Same grouped-join shape as hmean, different aggregate.

    The summed coverage has a CONSTANT denominator within the group
    (the gt length), so it is summed as exact integer-valued
    intersections with ONE final division, and the threshold is a pure
    integer comparison — bit-exact and order-free at any scale (the
    old per-pair-divide + 6dp-rounded float sum hit a rounding-boundary
    mismatch at sf0.1)."""
    gt, pred = _gt_pred(spark, sf_dir)
    p = pred.select("pred_id", F.col("img").alias("pimg"),
                    F.col("s").alias("ps"), F.col("e").alias("pe"))
    j = gt.join(p, gt.img == p.pimg)
    inter = F.least("e", "pe") - F.greatest("s", "ps")
    j = (j.filter(F.least("e", "pe") > F.greatest("s", "ps"))
          .select("gt_id", "img", (F.col("e") - F.col("s")).alias("glen"),
                  inter.alias("inter")))
    return (j.groupBy("gt_id", "img")
             .agg(F.count("*").alias("n_preds"),
                  F.sum("inter").alias("si"),
                  F.first("glen").alias("glen"))
             .filter((F.col("si") * 10 >= 8 * F.col("glen"))
                     & (F.col("n_preds") >= 2))
             .select("gt_id", "img", "n_preds",
                     (F.col("si").cast("double") / F.col("glen"))
                     .alias("total_recall")))


@query(
    "ic13_one2many",
    oracle=f"""
    WITH gt AS ({_GT_SQL}), pred AS ({_PRED_SQL}),
    pairs AS (
        SELECT pred.pred_id, pred.img, pred.s, pred.e,
               least(gt.e, pred.e) - greatest(gt.s, pred.s) AS inter
        FROM gt JOIN pred ON gt.img = pred.img
        WHERE least(gt.e, pred.e) > greatest(gt.s, pred.s)
    )
    SELECT pred_id, img, count(*) AS n_gts,
           CAST(sum(inter) AS DOUBLE) / (e - s) AS total_precision
    FROM pairs GROUP BY pred_id, img, s, e
    HAVING sum(inter) * 10 >= 8 * (e - s)
       AND count(*) >= 2
    """,
)
def ic13_one2many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC13 one-to-many matching (hmean_ic13.py / evaluation/utils.py:
    211-349): one prediction covering the union of several GTs — the
    symmetric grouped-join of ic13_many2one, grouped on the pred side.
    Same exact-integer-sum + single-division rewrite as ic13_many2one
    (the per-pair-divide + 6dp-rounded sum diverged at sf0.1) — but
    grouped by the FULL physical box identity (pred_id, img, s, e):
    the synthetic pred_id collides across lineitems (linenumbers pass
    9), and the reference matches physical boxes, not ids, so a
    collided id must not merge two boxes into one pseudo-box (it also
    broke the constant-denominator invariant the single division
    relies on)."""
    gt, pred = _gt_pred(spark, sf_dir)
    g = gt.select(F.col("gt_id"), F.col("img").alias("gimg"),
                  F.col("s").alias("gs"), F.col("e").alias("ge"))
    j = pred.join(g, pred.img == g.gimg)
    inter = F.least("e", "ge") - F.greatest("s", "gs")
    j = (j.filter(F.least("e", "ge") > F.greatest("s", "gs"))
          .select("pred_id", "img", "s", "e", inter.alias("inter")))
    plen = F.col("e") - F.col("s")
    return (j.groupBy("pred_id", "img", "s", "e")
             .agg(F.count("*").alias("n_gts"),
                  F.sum("inter").alias("si"))
             .filter((F.col("si") * 10 >= 8 * plen)
                     & (F.col("n_gts") >= 2))
             .select("pred_id", "img", "n_gts",
                     (F.col("si").cast("double") / plen)
                     .alias("total_precision")))


@query(
    "ic13_one2one",
    oracle=f"""
    WITH gt AS ({_GT_SQL}), pred AS ({_PRED_SQL}),
    q AS (
        SELECT gt.img, gt.gt_id, pred.pred_id, pred.s AS ps,
               pred.e AS pe,
               greatest(0.0, least(gt.e, pred.e) - greatest(gt.s, pred.s))
                   / (gt.e - gt.s) AS pair_recall,
               greatest(0.0, least(gt.e, pred.e) - greatest(gt.s, pred.s))
                   / (pred.e - pred.s) AS pair_precision,
               abs((gt.s + gt.e) / 2 - (pred.s + pred.e) / 2)
                   / ((gt.e - gt.s) + (pred.e - pred.s)) * 2 AS norm_dist
        FROM gt JOIN pred ON gt.img = pred.img
        WHERE least(gt.e, pred.e) > greatest(gt.s, pred.s)
          AND greatest(0.0, least(gt.e, pred.e) - greatest(gt.s, pred.s))
              / (gt.e - gt.s) > CAST(0.8 AS DOUBLE)
          AND greatest(0.0, least(gt.e, pred.e) - greatest(gt.s, pred.s))
              / (pred.e - pred.s) > CAST(0.4 AS DOUBLE)
    ),
    cnt AS (
        SELECT q.*,
               count(*) OVER (PARTITION BY img, gt_id) AS ng,
               count(*) OVER (PARTITION BY img, pred_id, ps, pe) AS nd
        FROM q)
    SELECT img, gt_id, pred_id, pair_recall, pair_precision, norm_dist
    FROM cnt
    WHERE ng = 1 AND nd = 1 AND norm_dist < CAST(1.0 AS DOUBLE)
    """,
)
def ic13_one2one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC13 one-to-one matching (hmean_ic13.py:131-155 +
    one2one_match_ic13, evaluation/utils.py:211-256): a (gt, pred) pair
    matches iff the pair itself passes recall > 0.8 AND precision >
    0.4, the gt has EXACTLY ONE such qualifying pred, the pred has
    EXACTLY ONE such qualifying gt, and the normalized center distance
    2*|c_gt - c_pred|/(diag_gt + diag_pred) is < 1.0. The reference's
    sequential hit-flag loop is provably order-free here: a gt/pred hit
    by an earlier one2one match cannot appear in a later qualifying
    pair without violating that pair's exactly-one condition — so the
    rule is a pure declarative join + two window counts (the 1-D
    interval analog, midpoint for center and length for diagonal, as
    in ic13_one2many/many2one). All emitted doubles are op-identical
    expressions on both engines — raw, no rounding. Note: in 1-D a
    qualifying pair always has norm_dist < 1 (recall > 0.8 bounds the
    midpoint gap), so the gate is structurally satisfied here — it is
    still evaluated on both sides and norm_dist is emitted as data;
    only thin 2-D polygons can fail it in the reference. The pred-side
    uniqueness window partitions by the FULL physical box identity
    (img, pred_id, s, e) — the synthetic pred_id collides across
    lineitems, and the reference counts physical boxes, not ids."""
    gt, pred = _gt_pred(spark, sf_dir)
    p = pred.select("pred_id", F.col("img").alias("pimg"),
                    F.col("s").alias("ps"), F.col("e").alias("pe"))
    j = gt.join(p, gt.img == p.pimg)
    inter = F.greatest(F.lit(0.0),
                       F.least("e", "pe") - F.greatest("s", "ps"))
    rec = inter / (F.col("e") - F.col("s"))
    prec = inter / (F.col("pe") - F.col("ps"))
    dist = (F.abs((F.col("s") + F.col("e")) / 2
                  - (F.col("ps") + F.col("pe")) / 2)
            / ((F.col("e") - F.col("s")) + (F.col("pe") - F.col("ps")))
            * 2)
    q = (j.filter(F.least("e", "pe") > F.greatest("s", "ps"))
          .filter((rec > 0.8) & (prec > 0.4))
          .select("img", "gt_id", "pred_id", "ps", "pe",
                  rec.alias("pair_recall"), prec.alias("pair_precision"),
                  dist.alias("norm_dist")))
    wg = Window.partitionBy("img", "gt_id")
    wp = Window.partitionBy("img", "pred_id", "ps", "pe")
    return (q.withColumn("ng", F.count("*").over(wg))
             .withColumn("nd", F.count("*").over(wp))
             .filter((F.col("ng") == 1) & (F.col("nd") == 1)
                     & (F.col("norm_dist") < 1.0))
             .drop("ng", "nd", "ps", "pe"))


@query(
    "attn_decode_stop_eos",
    oracle=f"""
    WITH seqs AS (
        SELECT o_orderkey AS seq_id,
               list_transform(generate_series(1, 12),
                   j -> CAST((o_orderkey * j + o_custkey + j * j) % 39
                        AS INTEGER)) AS raw
        FROM orders
    ),
    dec AS (
        SELECT seq_id,
               list_filter(raw, x -> x != 38) AS no_pad
        FROM seqs
    ),
    cut AS (
        SELECT seq_id,
               CASE WHEN coalesce(list_position(no_pad, 37), 0) > 0
                    THEN no_pad[1:coalesce(list_position(no_pad, 37), 0) - 1]
                    ELSE no_pad END AS dec_idx
        FROM dec
    )
    SELECT seq_id,
           coalesce(array_to_string(
               list_transform(dec_idx, i -> {_IDX_CASE}), ''), '')
               AS decoded,
           CAST(len(dec_idx) AS BIGINT) AS n_dec
    FROM cut
    """,
)
def attn_decode_stop_eos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attention-decoder greedy decode (convertors/attn.py:109-140):
    skip <PAD>(38), STOP at the first <BOS/EOS>(37), map surviving
    indices through DICT36 + '?' for <UKN>(36). Pure array expressions
    on both engines (filter → array_position → slice → transform) —
    the third of the reference's three decode families (CTC and seg
    convertors are ctc_collapse_repeats / seg_decode_concat). Kernel
    twin: codec.attn_greedy_decode (parity-tested)."""
    o = t(spark, sf_dir, "orders")
    raw = F.expr(
        "transform(sequence(1, 12),"
        " j -> CAST((o_orderkey * j + o_custkey + j * j) % 39 AS INT))")
    s = o.select(F.col("o_orderkey").alias("seq_id"), raw.alias("raw"))
    s = s.withColumn("no_pad", F.filter("raw", lambda x: x != 38))
    pos = F.array_position("no_pad", 37)  # 1-based; 0 when absent
    s = s.withColumn(
        "dec_idx",
        F.when(pos > 0, F.slice("no_pad", F.lit(1), (pos - 1).cast("int")))
        .otherwise(F.col("no_pad")))
    decoded = F.expr(f"array_join(transform(dec_idx, i -> {_IDX_CASE}), '')")
    return s.select(
        "seq_id", decoded.alias("decoded"),
        F.size("dec_idx").cast("bigint").alias("n_dec"))


@query(
    "ctc_topk_decode",
    oracle="""
    WITH seqs AS (
        SELECT o_orderkey AS seq_id,
               CAST((o_orderkey % 4 + 1) * 2 AS INTEGER) AS dlen
        FROM orders
    ),
    tops AS (
        SELECT seq_id, dlen,
               list_transform(generate_series(0, 7), t ->
                   list_position(
                       list_transform(generate_series(0, 5), c ->
                           (seq_id * 7 + t * 13 + c * 31) % 97),
                       list_max(list_transform(generate_series(0, 5), c ->
                           (seq_id * 7 + t * 13 + c * 31) % 97))) - 1
               ) AS tops
        FROM seqs
    ),
    sel AS (
        SELECT seq_id,
               unnest(list_filter(generate_series(0, dlen - 1), t ->
                   tops[t + 1] != 5
                   AND (t = 0 OR tops[t + 1] != tops[t]))) AS t_sel
        FROM tops
    ),
    scored AS (
        SELECT seq_id, t_sel,
               list_transform(generate_series(0, 5), c ->
                   (seq_id * 7 + t_sel * 13 + c * 31) % 97) AS raws
        FROM sel
    ),
    ranked AS (
        SELECT seq_id, t_sel, raws,
               list_max(raws) AS m1,
               list_position(raws, list_max(raws)) - 1 AS i1
        FROM scored
    ),
    r2 AS (
        SELECT seq_id, t_sel, raws, m1, i1,
               list_max(list_transform(generate_series(0, 5), c ->
                   CASE WHEN c = i1 THEN -1 ELSE raws[c + 1] END)) AS m2
        FROM ranked
    )
    SELECT seq_id,
           CAST(t_sel AS INTEGER) AS t_sel,
           CAST(i1 AS INTEGER) AS top1_idx,
           CAST(list_position(raws, m2) - 1 AS INTEGER) AS top2_idx,
           CAST(m1 AS DOUBLE) / CAST(list_aggregate(raws, 'sum') AS DOUBLE)
               AS top1_share,
           CAST(m2 AS DOUBLE) / CAST(list_aggregate(raws, 'sum') AS DOUBLE)
               AS top2_share
    FROM r2
    """,
)
def ctc_topk_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-timestep top-k CTC decode (convertors/ctc.py:85-140,
    ``tensor2idx`` with ``return_topk=True``): synthesize a T=8 x C=6
    integer score grid per sequence, take the top-1 path through it,
    keep the CTC-selected timesteps (top1 != blank(5), != prev top1,
    within ``decode_len = ceil(T * valid_ratio)`` — here exactly
    ``(key%4+1)*2``), and emit top-2 class + exact score-mass share per
    selected timestep. Shares are rational (int / int in DOUBLE) rather
    than softmax — argsort-equivalent and bit-identical cross-engine.
    Kernel twin: codec.ctc_topk_select (parity-tested)."""
    from my_ocr_spark.session import spread_small_scan

    # the per-row HOF transform pipeline below is heavy codegen; widen
    # the 1-split orders scan first (cost-modeled no-op at scale)
    o = spread_small_scan(t(spark, sf_dir, "orders").select("o_orderkey"))
    s = o.select(
        F.col("o_orderkey").alias("seq_id"),
        ((F.col("o_orderkey") % 4 + 1) * 2).cast("int").alias("dlen"))
    s = s.withColumn("tops", F.expr(
        "transform(sequence(0, 7), t -> array_position("
        " transform(sequence(0, 5),"
        "  c -> (seq_id * 7 + t * 13 + c * 31) % 97),"
        " array_max(transform(sequence(0, 5),"
        "  c -> (seq_id * 7 + t * 13 + c * 31) % 97))) - 1)"))
    s = s.withColumn("t_sel", F.explode(F.expr(
        "filter(sequence(0, dlen - 1), t ->"
        " element_at(tops, t + 1) != 5"
        " AND (t = 0 OR element_at(tops, t + 1) != element_at(tops, t)))")))
    s = s.withColumn("raws", F.expr(
        "transform(sequence(0, 5),"
        " c -> (seq_id * 7 + t_sel * 13 + c * 31) % 97)"))
    s = (s.withColumn("m1", F.expr("array_max(raws)"))
          .withColumn("i1", F.expr("array_position(raws, m1) - 1"))
          .withColumn("m2", F.expr(
              "array_max(transform(raws, (x, c) -> if(c = i1, -1, x)))")))
    total = F.expr("aggregate(raws, 0L, (a, x) -> a + x)").cast("double")
    return s.select(
        "seq_id",
        F.col("t_sel").cast("int").alias("t_sel"),
        F.col("i1").cast("int").alias("top1_idx"),
        (F.expr("array_position(raws, m2)") - 1).cast("int")
            .alias("top2_idx"),
        (F.col("m1").cast("double") / total).alias("top1_share"),
        (F.col("m2").cast("double") / total).alias("top2_share"))


@query(
    "resize_metadata_rescale",
    oracle="""
    SELECT o_orderkey AS doc_key,
           CAST(o_orderkey % 1200 + 400 AS BIGINT) AS width,
           CAST(o_orderkey % 900 + 300 AS BIGINT) AS height,
           CAST(1024 AS DOUBLE) / (o_orderkey % 1200 + 400) AS scale_factor,
           CAST(round((o_orderkey % 900 + 300)
                * (CAST(1024 AS DOUBLE) / (o_orderkey % 1200 + 400)), 0)
                AS BIGINT) AS new_height
    FROM orders
    """,
)
def resize_metadata_rescale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ResizeNoImg metadata-only rescale (kie_transforms.py:9-38): scale
    factor and derived dimensions as pure column arithmetic — no payload
    touched (the metadata twin of the block-normalization stage)."""
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    width = (k % 1200 + 400).cast("bigint")
    height = (k % 900 + 300).cast("bigint")
    scale = F.lit(1024.0) / (k % 1200 + 400)
    return o.select(
        k.alias("doc_key"), width.alias("width"), height.alias("height"),
        scale.alias("scale_factor"),
        F.round(height * scale, 0).cast("bigint").alias("new_height"))


# --- ResizeOCR height-normalize / pad / valid_ratio --------------------------

# integer round-half-even of new_w to a multiple of 16 (the reference's
# `round(new_width / width_divisor) * width_divisor` uses Python round =
# banker's; r == 8 rounds toward the EVEN multiple). Pure-int CASE —
# identical on both engines, no float round() divergence.
_R16_SQL = """
    CASE WHEN nw % 16 = 0 THEN nw
         WHEN nw % 16 < 8 THEN (nw // 16) * 16
         WHEN nw % 16 > 8 THEN (nw // 16) * 16 + 16
         WHEN (nw // 16) % 2 = 0 THEN (nw // 16) * 16
         ELSE (nw // 16) * 16 + 16 END
"""


@query(
    "resize_ocr_pad",
    oracle=f"""
    WITH raw AS (
        SELECT l_orderkey * 10 + l_linenumber AS img_id,
               16 + l_partkey % 48 AS ori_h,
               20 + l_orderkey % 300 AS ori_w
        FROM lineitem
    ),
    a AS (
        SELECT img_id, ori_h, ori_w,
               CAST(ceil(CAST(32 AS DOUBLE) / ori_h * ori_w)
                    AS BIGINT) AS nw
        FROM raw
    ),
    b AS (SELECT img_id, ori_h, ori_w,
                 greatest(32, {_R16_SQL}) AS nw2
          FROM a)
    SELECT img_id,
           CAST(ori_h AS INTEGER) AS ori_h,
           CAST(ori_w AS INTEGER) AS ori_w,
           CAST(32 AS INTEGER) AS resize_h,
           CAST(least(160, nw2) AS INTEGER) AS resize_w,
           CAST(160 AS INTEGER) AS pad_w,
           least(CAST(1.0 AS DOUBLE),
                 CAST(nw2 AS DOUBLE) / 160) AS valid_ratio
    FROM b
    """,
)
def resize_ocr_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ResizeOCR keep_aspect_ratio path (ocr_transforms.py:87-111):
    height-normalize to 32, width = ceil((32/h)*w) snapped to a multiple
    of 16 with PYTHON-round (banker's — reproduced as an exact integer
    CASE), clamped to [min_width=32, max_width=160], padded to max_width,
    valid_ratio = min(1, new_w/max_w). The whole transform is metadata
    column math — at scale it never touches pixel bytes (the resample
    itself is the warp kernel's grid path)."""
    li = t(spark, sf_dir, "lineitem")
    raw = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("img_id"),
        (16 + F.col("l_partkey") % 48).alias("ori_h"),
        (20 + F.col("l_orderkey") % 300).alias("ori_w"))
    a = raw.withColumn(
        "nw", F.ceil(F.lit(32).cast("double") / F.col("ori_h")
                     * F.col("ori_w")).cast("long"))
    r16 = F.expr(_R16_SQL.replace("//", " div "))
    b = a.withColumn("nw2", F.greatest(F.lit(32), r16))
    return b.select(
        "img_id",
        F.col("ori_h").cast("int").alias("ori_h"),
        F.col("ori_w").cast("int").alias("ori_w"),
        F.lit(32).cast("int").alias("resize_h"),
        F.least(F.lit(160), F.col("nw2")).cast("int").alias("resize_w"),
        F.lit(160).cast("int").alias("pad_w"),
        F.least(F.lit(1.0).cast("double"),
                F.col("nw2").cast("double") / 160).alias("valid_ratio"))
