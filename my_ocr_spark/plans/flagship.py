"""Flagship end-to-end extraction query (SURVEY.md §3.1 Spark equivalent).

The driver's testdata ``documents`` table is (doc_id, text, lang, source,
n_chars) — not the CC shape — so the flagship synthesizes the CC-style
table *declaratively in Spark* (JVM-side concat, deterministic: url from
source+doc_id, warc_ts from doc_id, html wrapping text in the boilerplate
template), then runs the real extraction pipeline and returns the
extracted table. This keeps the driver smoke check on the true engine
while tests/bench use the richer generated fixture corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from my_ocr_spark.operators.extract import extract_docs, latest_snapshot
from my_ocr_spark.sources.catalog import read_table

_HTML_PREFIX = (
    '<!DOCTYPE html><html><head><title>doc</title>'
    '<style>nav{display:flex}</style><script>var x=1;</script></head>'
    '<body><header><nav><ul><li><a href="/home">Home</a></li>'
    '<li><a href="/about">About</a></li><li><a href="/blog">Blog</a></li>'
    '</ul></nav></header><main><article><p>'
)
_HTML_SUFFIX = (
    '</p></article></main><aside><ul><li><a href="/t/0">related link one'
    '</a></li><li><a href="/t/1">related link two</a></li></ul></aside>'
    '<footer><a href="/priv">Privacy</a> | <a href="/tos">Terms</a>'
    '<p>© 2024 Example Corp. All rights reserved.</p></footer></body></html>'
)


def synthesize_cc_docs(spark: SparkSession, sf_dir: str,
                       partitions: int | None = None) -> DataFrame:
    """documents parquet → (url, warc_ts, html, text, lang) CC-style table.

    ``partitions``: repartition the NARROW source rows before html
    synthesis — the small parquet file otherwise reads as one split and
    serializes every downstream pandas-UDF stage onto one core. The fat
    html column is built after the shuffle, so it never crosses one."""
    docs = read_table(spark, f"{sf_dir}/documents.parquet")
    if partitions:
        docs = docs.repartition(partitions, F.col("doc_id"))
    return docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
                              F.col("doc_id").cast("double"))
         ).alias("warc_ts"),
        # paragraph break every 10 words: deterministic, and exactly
        # mirrorable in SQL → the extraction query gets a TRUE DuckDB
        # oracle (closed-form expected text; see plans/analytics.py)
        F.encode(
            F.concat(F.lit(_HTML_PREFIX),
                     F.regexp_replace(F.col("text"), r"((\S+ ){10})",
                                      r"$1</p><p>"),
                     F.lit(_HTML_SUFFIX)),
            "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def synthesize_fat_docs(spark: SparkSession, sf_dir: str,
                        mean_bytes: int = 60_000, sigma: float = 1.5,
                        cap_bytes: int = 4_000_000,
                        partitions: int | None = None,
                        copies: int = 1) -> DataFrame:
    """CC-style table with REALISTIC page sizes: log-normal html length
    (default mean ~60 KB, multi-MB tail, 4 MB cap) instead of the ~1 KB
    synthetic pages the headline bench uses. Real Common-Crawl pages
    average tens of KB, and Arrow batch BYTES — not rows — is the
    throughput lever (CLAUDE.md invariant 5), so per-byte throughput
    must be measured on fat pages too (scripts/bench_fatpages.py).

    Fully declarative and deterministic: a standard-normal deviate per
    doc via the Irwin–Hall sum of 12 xxhash64-seeded uniforms, target
    size = mean * exp(sigma*z - sigma^2/2) (unit mean), and the body is
    the paragraphized text repeated ceil(target/len) times JVM-side —
    the fat column never crosses a shuffle (built after the narrow
    repartition).

    ``copies`` amplifies the NARROW rows before synthesis, each copy a
    DISTINCT page (the size hash is seeded with the copy id), and the
    default partition count is parallelism*16 — finer than the thin
    corpus's *4 because heavy-tailed page sizes make per-task bytes
    skewed: small tasks let dynamic scheduling absorb the tail
    (measured: 128 coarse partitions at local[32] cost ~2x in stage
    wall vs fine partitions purely from end-of-stage stragglers)."""
    docs = read_table(spark, f"{sf_dir}/documents.parquet")
    if copies > 1:
        docs = (docs.withColumn(
                    "copy", F.explode(F.sequence(F.lit(0),
                                                 F.lit(copies - 1))))
                    .withColumn("doc_id", F.col("doc_id")
                                * copies + F.col("copy")))
    else:
        docs = docs.withColumn("copy", F.lit(0))
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism * 16
    docs = docs.repartition(partitions, F.col("doc_id"))
    u = [(F.pmod(F.xxhash64(F.col("doc_id"), F.lit(i)), F.lit(1_000_000))
          + 0.5) / 1_000_000.0 for i in range(12)]
    z = sum(u[1:], u[0]) - F.lit(6.0)
    target = F.least(
        F.lit(float(cap_bytes)),
        F.lit(float(mean_bytes))
        * F.exp(F.lit(sigma) * z - F.lit(sigma * sigma / 2.0)))
    body = F.regexp_replace(F.col("text"), r"((\S+ ){10})", r"$1</p><p>")
    k = F.greatest(
        F.lit(1),
        F.ceil(target / F.octet_length(body)).cast("int"))
    prepared = docs.select(
        "doc_id", "source", "text", "lang",
        body.alias("body"), k.alias("k"))
    return prepared.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/f/"),
                 F.col("doc_id").cast("string")).alias("url"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
                              F.col("doc_id").cast("double"))
         ).alias("warc_ts"),
        F.encode(F.concat(F.lit(_HTML_PREFIX),
                          F.expr("repeat(body, k)"),
                          F.lit(_HTML_SUFFIX)), "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def synthesize_fat_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-twin of ``synthesize_fat_docs``: fat pages whose size law
    is pure integer arithmetic (no xxhash64, which DuckDB lacks), so the
    extraction over them gets a closed-form DuckDB oracle — including
    pages that exceed MAX_BLOCKS_PER_DOC, making the block-cap
    truncation itself oracle-checked.

    k copies per doc: 1 + (((doc_id*37)%97)^2) div 32 (mean ~97 →
    ~60-250 KB pages), overridden to 1 + 200000 div n_words on
    doc_id % 997 == 0 — that floor GUARANTEES k*chunks > 19997 for any
    document length (k*cpc >= (200000/nw)*(nw/10) = 20000), so the
    ~0.1% bombs always trip the 20000-block cap at ~1.2 MB page size.
    Each repeated unit is
    the paragraphized text plus its own closing break, so copies never
    merge mid-paragraph and the per-copy chunk structure equals the thin
    page's (the proven extract_maincontent closed form)."""
    docs = read_table(spark, f"{sf_dir}/documents.parquet")
    docs = docs.repartition(spark.sparkContext.defaultParallelism * 4,
                            F.col("doc_id"))
    k = F.when(
        F.col("doc_id") % 997 == 0,
        F.expr("1 + 200000 div size(split(text, ' '))")
    ).otherwise(F.expr(
        "1 + (((doc_id*37) % 97) * ((doc_id*37) % 97)) div 32"))
    body = F.regexp_replace(F.col("text"), r"((\S+ ){10})", r"$1</p><p>")
    prepared = docs.select(
        "doc_id", "source", "text", "lang",
        F.concat(body, F.lit("</p><p>")).alias("unit"),
        k.cast("int").alias("k"))
    return prepared.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/f/"),
                 F.col("doc_id").cast("string")).alias("url"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
                              F.col("doc_id").cast("double"))
         ).alias("warc_ts"),
        F.encode(F.concat(F.lit(_HTML_PREFIX),
                          F.expr("repeat(unit, k)"),
                          F.lit(_HTML_SUFFIX)), "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def flagship_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC-table synth → latest-snapshot dedup → extraction → narrow output.

    Narrow projection before any downstream consumption: the fat html
    column dies inside the extraction stage.
    """
    cc = synthesize_cc_docs(spark, sf_dir,
                            partitions=spark.sparkContext.defaultParallelism)
    extracted = extract_docs(latest_snapshot(cc))
    return extracted.select(
        "url", "warc_ts", "lang", "title", "text",
        F.size("spans").alias("n_spans"),
        "n_blocks", "n_kept", "html_bytes", "parse_ok",
    )
