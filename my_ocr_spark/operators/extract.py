"""Spark-side extraction operators: Arrow-batched stages over the pure
kernel (``mapInArrow`` for extraction, ``map_rows`` for blocks).

The flagship pipeline (SURVEY.md §3.1 Spark equivalent):

    docs → extract_docs() → extracted table (url, title, text, spans, ...)
         → explode_blocks() → block table (detect-stage analog)
         → pdf layout branch via layout.py kernels

Scale discipline (north_rule / SURVEY.md §4):
* one ``mapInArrow`` stage, no shuffle: blocks never leave their document,
  exactly like the reference's fan-out join staying in-process
  (``mmocr/utils/ocr.py:146-201``).
* the fat ``html`` column is consumed inside this stage and NOT emitted —
  downstream stages shuffle only narrow columns (design rule: Catalyst
  can't prune through an opaque UDF, so we prune manually).
* partitioning by hash(url) with optional host-salting is provided by
  ``repartition_by_url`` for callers that shuffle before extraction.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F

from my_ocr_spark.kernel.extract import extract_main_text
from my_ocr_spark.kernel.htmlparse import parse_blocks
from my_ocr_spark.kernel.extract import score_block, classify_blocks
from my_ocr_spark.schemas import BLOCKS_SCHEMA, EXTRACTED_SCHEMA
from my_ocr_spark.session import map_rows


def repartition_by_url(docs: DataFrame, num_partitions: int,
                       salt_buckets: int = 16) -> DataFrame:
    """hash(url)-partitioning with host salting (north_rule).

    ``xxhash64(url)`` alone already distributes urls uniformly; the salt
    column exists for callers that later need host-grouped work
    (groupBy(host)): grouping on (host, salt) caps any single host's
    partition share — the skew bound for Zipf-distributed hosts.
    """
    salted = docs.withColumn(
        "host", F.parse_url(F.col("url"), F.lit("HOST"))
    ).withColumn(
        "host_salt",
        F.concat_ws("#", F.col("host"),
                    F.pmod(F.xxhash64("url"), F.lit(salt_buckets))),
    )
    return salted.repartition(num_partitions, F.xxhash64("url"))


def extract_docs(docs: DataFrame) -> DataFrame:
    """docs(url, warc_ts, html, text, lang) → EXTRACTED_SCHEMA table.

    Vectorized via ``mapInArrow``: one Arrow batch in, one Arrow batch
    out; the kernel call is per-row Python *inside* the batch (HTML
    parsing is irreducibly per-document, same as the reference's
    per-record pipeline). Arrow-native on both edges: the url/warc_ts/
    lang columns PASS THROUGH as the input batch's own arrays (never
    materialized as Python objects), and the spans column is assembled
    from flat offset/value arrays instead of ~13 per-doc Python dicts
    that pandas→Arrow struct conversion then re-walks (the mapInPandas
    form spent ~15% of stage wall building and converting those dicts
    — guide §4.2's "compute a new offsets array" pattern)."""
    cols = ["url", "warc_ts", "html", "lang"]

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        i32, i64 = pa.int32(), pa.int64()
        for batch in batches:
            htmls = batch.column(2).to_pylist()
            titles: list = []
            texts: list = []
            starts: list = []
            ends: list = []
            bids: list = []
            offsets = [0]
            n_blocks: list = []
            n_kept: list = []
            hbytes: list = []
            oks: list = []
            for html in htmls:
                res = extract_main_text(html)
                titles.append(res["title"])
                texts.append(res["text"])
                for (s, e, b) in res["spans"]:
                    starts.append(s)
                    ends.append(e)
                    bids.append(b)
                offsets.append(len(starts))
                n_blocks.append(res["n_blocks"])
                n_kept.append(res["n_kept"])
                hbytes.append(len(html) if html is not None else 0)
                oks.append(res["parse_ok"])
            spans = pa.ListArray.from_arrays(
                pa.array(offsets, type=i32),
                pa.StructArray.from_arrays(
                    [pa.array(starts, type=i32), pa.array(ends, type=i32),
                     pa.array(bids, type=i32)],
                    names=["start", "end", "block_id"]))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), batch.column(3),
                 pa.array(titles, type=pa.string()),
                 pa.array(texts, type=pa.string()), spans,
                 pa.array(n_blocks, type=i32), pa.array(n_kept, type=i32),
                 pa.array(hbytes, type=i64), pa.array(oks, type=pa.bool_())],
                names=["url", "warc_ts", "lang", "title", "text", "spans",
                       "n_blocks", "n_kept", "html_bytes", "parse_ok"])

    return docs.select(*cols).mapInArrow(run, schema=EXTRACTED_SCHEMA)


def explode_blocks(docs: DataFrame) -> DataFrame:
    """docs → one row per text block with features + score + keep flag.

    The detect-stage analog: the block table is what the reference's
    score-map decode emits as candidate regions
    (``mmocr/models/textdet/postprocess/wrapper.py:177-229``).
    """

    def blocks(url, html):
        _, bl = parse_blocks(html)
        for b, k in zip(bl, classify_blocks(bl)):
            yield (url, b.block_id, b.tag, b.tag_path, b.depth, b.text,
                   b.n_chars, b.n_link_chars, b.n_words, b.n_punct,
                   b.is_heading, b.in_nav_footer, score_block(b), bool(k))

    return map_rows(docs.select("url", "html"), blocks, BLOCKS_SCHEMA)


def latest_snapshot(docs: DataFrame, key_col: str = "url",
                    ts_col: str = "warc_ts") -> DataFrame:
    """Keep only the latest warc_ts per url — the as-of/dedup analog
    (SURVEY.md §2.3 last row). One shuffle on url.

    Ties on the timestamp break on a hash of ALL remaining columns, so
    the winner is content-determined for any input schema (works after
    extraction too — the pipeline registry allows either stage order);
    rows identical in every column are interchangeable, so the outcome
    is deterministic in all cases.
    """
    from pyspark.sql import Window
    rest = [c for c in docs.columns if c not in (key_col, ts_col)]
    tiebreak = F.xxhash64(*rest) if rest else F.lit(0)
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).desc(), tiebreak.desc())
    return (docs.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn"))
