"""Text-analysis + dedup + similarity queries (training-data pipeline ops
from the north_star, plus the reference's string-metric operators
SURVEY.md §2.4/§2.8) with DuckDB oracles wherever exactly expressible.

Cross-engine parity rules: identical regexes, md5-based hashes, integer
ratios (bit-identical doubles — never round them), explicit left-to-right
folds for float work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_ocr_spark.operators.dedup import (
    exact_dup_groups, fingerprint_docs, minhash_lsh_candidates,
    ngram_jaccard_pairs, normalized_col, simhash_near_dups,
)
from my_ocr_spark.operators.similarity import cosine_topk, lsh_ann_topk
from my_ocr_spark.plans.registry import query, t
from my_ocr_spark.session import map_rows, spread_small_scan

# the same normalization, spelled in DuckDB
_NORM_SQL = ("trim(regexp_replace(regexp_replace(lower(text), "
             "'[^a-z0-9一-龥 ]', '', 'g'), ' +', ' ', 'g'))")


@query(
    "text_normalize_cjk",
    oracle=f"""
    SELECT doc_id, {_NORM_SQL} AS norm_text
    FROM documents
    """,
)
def text_normalize_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's word-acc normalization (ocr_metric.py:48-58):
    lower + strip non-alnum keeping CJK + collapse whitespace."""
    return (t(spark, sf_dir, "documents")
            .select("doc_id", normalized_col("text").alias("norm_text")))


@query(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of normalized text — portable hash
    (same bytes hashed on both engines)."""
    return fingerprint_docs(t(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "exact_dup_groups",
    oracle=f"""
    WITH fp AS (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents)
    SELECT fp, count(*) AS n_dups, min(doc_id) AS keep_id
    FROM fp GROUP BY fp
    """,
)
def exact_dup_groups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the fingerprint; deterministic
    representative = min(doc_id). Map-side partial agg → tiny shuffle."""
    return exact_dup_groups(t(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "token_count_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(length(text)
                - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
                AS BIGINT) AS n_punct,
           length(text) AS n_chars_seen
    FROM documents WHERE length(text) > 0
    """,
)
def token_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace words + punctuation chars) — the
    SQL-expressible core of textstats.token_count."""
    d = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_words"),
        (F.length("text")
         - F.length(F.regexp_replace(F.col("text"), "[.,;:!?]", "")))
        .cast("bigint").alias("n_punct"),
        F.length("text").alias("n_chars_seen"),
    )


_STOPWORDS = ("the", "and", "is", "of", "to", "in", "a", "for", "on", "with")


@query(
    "quality_score",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents WHERE length(text) > 0
    ),
    agg AS (
        SELECT doc_id, count(*) AS n_words,
               CAST(sum(CASE WHEN lower(word) IN
                    {repr(tuple(_STOPWORDS))} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_stop
        FROM w GROUP BY doc_id
    )
    SELECT doc_id, n_words, n_stop,
           CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
           CASE WHEN n_words >= 40
                     AND CAST(n_stop AS DOUBLE) / n_words
                         BETWEEN CAST(0.02 AS DOUBLE) AND CAST(0.6 AS DOUBLE)
                THEN 'good' ELSE 'low' END AS quality_bucket
    FROM agg
    """,
)
def quality_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio + length gate → bucket. Exact
    integer ratio (bit-identical across engines, no rounding)."""
    d = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    agg = w.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum(F.when(F.lower("word").isin(*_STOPWORDS), 1).otherwise(0))
         .cast("bigint").alias("n_stop"))
    ratio = F.col("n_stop").cast("double") / F.col("n_words")
    return agg.select(
        "doc_id", "n_words", "n_stop", ratio.alias("stop_ratio"),
        F.when((F.col("n_words") >= 40) & (ratio >= 0.02) & (ratio <= 0.6),
               "good").otherwise("low").alias("quality_bucket"))


_MARKERS = {"de": " der ", "es": " el ", "fr": " le ", "en": " the "}


def _hits_sql(m: str) -> str:
    return (f"CAST((length(' ' || lower(text) || ' ') - "
            f"length(replace(' ' || lower(text) || ' ', '{m}', '')))"
            f" / {len(m)} AS BIGINT)")


@query(
    "lang_id_heuristic",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, lang,
               length(regexp_replace(text, '[^一-龥]', '', 'g')) AS cjk,
               length(text) AS n,
               {_hits_sql(_MARKERS['de'])} AS h_de,
               {_hits_sql(_MARKERS['es'])} AS h_es,
               {_hits_sql(_MARKERS['fr'])} AS h_fr,
               {_hits_sql(_MARKERS['en'])} AS h_en
        FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, lang,
           CASE WHEN CAST(cjk AS DOUBLE) / n > CAST(0.05 AS DOUBLE) THEN 'zh'
                WHEN h_de >= h_es AND h_de >= h_fr AND h_de >= h_en
                     AND h_de > 0 THEN 'de'
                WHEN h_es >= h_fr AND h_es >= h_en AND h_es > 0 THEN 'es'
                WHEN h_fr >= h_en AND h_fr > 0 THEN 'fr'
                WHEN h_en > 0 THEN 'en'
                ELSE 'und' END AS detected
    FROM h
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID n-gram heuristic: CJK char ratio + stopword-marker
    counts with a fixed priority order (de>es>fr>en on ties)."""
    d = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))

    def hits(m: str):
        return ((F.length(padded)
                 - F.length(F.replace(padded, F.lit(m), F.lit(""))))
                / len(m)).cast("bigint")

    h = d.select(
        "doc_id", "lang",
        F.length(F.regexp_replace("text", "[^一-龥]", "")).alias("cjk"),
        F.length("text").alias("n"),
        hits(_MARKERS["de"]).alias("h_de"),
        hits(_MARKERS["es"]).alias("h_es"),
        hits(_MARKERS["fr"]).alias("h_fr"),
        hits(_MARKERS["en"]).alias("h_en"),
    )
    detected = (
        F.when(F.col("cjk").cast("double") / F.col("n") > 0.05, "zh")
        .when((F.col("h_de") >= F.col("h_es")) & (F.col("h_de") >= F.col("h_fr"))
              & (F.col("h_de") >= F.col("h_en")) & (F.col("h_de") > 0), "de")
        .when((F.col("h_es") >= F.col("h_fr")) & (F.col("h_es") >= F.col("h_en"))
              & (F.col("h_es") > 0), "es")
        .when((F.col("h_fr") >= F.col("h_en")) & (F.col("h_fr") > 0), "fr")
        .when(F.col("h_en") > 0, "en")
        .otherwise("und"))
    return h.select("doc_id", "lang", detected.alias("detected"))


@query(
    "ngram_jaccard_dups",
    oracle=f"""
    WITH w AS (
        SELECT doc_id AS doc, string_split({_NORM_SQL}, ' ') AS words
        FROM documents
    ),
    sh AS (
        SELECT doc,
               unnest(list_distinct(CASE WHEN len(words) >= 4
                   THEN list_transform(generate_series(1, len(words) - 3),
                        i -> words[i] || ' ' || words[i+1] || ' '
                             || words[i+2] || ' ' || words[i+3])
                   ELSE [array_to_string(words, ' ')] END)) AS shingle
        FROM w
    ),
    sh2 AS (SELECT doc, shingle FROM sh WHERE shingle <> ''),
    sizes AS (SELECT doc, count(*) AS sz FROM sh2 GROUP BY doc),
    shared AS (
        SELECT a.doc AS doc1, b.doc AS doc2, count(*) AS shared
        FROM sh2 a JOIN sh2 b
          ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY a.doc, b.doc
    )
    SELECT doc1, doc2, shared, s1.sz AS sz1, s2.sz AS sz2,
           CAST(shared AS DOUBLE) / (s1.sz + s2.sz - shared) AS jaccard
    FROM shared
    JOIN sizes s1 ON s1.doc = doc1
    JOIN sizes s2 ON s2.doc = doc2
    WHERE CAST(shared AS DOUBLE) / (s1.sz + s2.sz - shared)
          > CAST(0.2 AS DOUBLE)
    """,
)
def ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 4-gram Jaccard near-dup pairs via inverted-index self-join
    (the exact counterpart the MinHash query approximates).

    4-gram (not unigram) shingles keep the inverted-index join bounded:
    join cost is Σ df(shingle)² — unigrams over a shared vocabulary give
    df≈corpus and a quadratic blowup (observed: ~10^9 pairs at 5k docs),
    while k-gram df concentrates near 1. This IS the documented
    document-frequency skew bound, applied."""
    return ngram_jaccard_pairs(t(spark, sf_dir, "documents"),
                               "doc_id", "text", n=4, threshold=0.2)


def _minhash_oracle() -> str:
    """DuckDB twin of the FULL MinHash-LSH pipeline: md5 shingle hashes
    masked to 61 bits, the kernel's 32 affine permutations (constants
    embedded from _perm_params — same RandomState(42) stream) with the
    kernel's uint64-overflow semantics emulated as mod-2^64 in HUGEINT,
    per-band affine-fold bucket hashes (h = h*C + v mod 2^64, C odd
    ~2^59 so HUGEINT products never overflow int128), the 512 bucket
    cap, and the distinct pigeonhole pair join. 'Approximate' describes
    the algorithm's recall, not its determinism — the pipeline is a pure
    function of the input, so it oracles exactly."""
    from my_ocr_spark.kernel.textstats import (
        _BAND_FOLD_C, _MERSENNE61, _perm_params,
    )

    a, b = _perm_params(32)
    pa = "[" + ", ".join(f"CAST('{int(x)}' AS HUGEINT)" for x in a) + "]"
    pb = "[" + ", ".join(f"CAST('{int(x)}' AS HUGEINT)" for x in b) + "]"
    two64 = "CAST('18446744073709551616' AS HUGEINT)"
    two61 = "CAST('2305843009213693952' AS HUGEINT)"
    fold = "CAST(s[band * 4 + 1] AS HUGEINT)"
    for i in (2, 3, 4):
        fold = (f"(({fold} * {_BAND_FOLD_C}"
                f" + s[band * 4 + {i}]) % {two64})")
    return f"""
    WITH ab AS (SELECT {pa} AS pa, {pb} AS pb),
    d AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
    w AS (SELECT doc_id, norm, string_split(norm, ' ') AS words FROM d),
    sh AS (SELECT doc_id,
            CASE WHEN norm = '' THEN []::VARCHAR[]
                 WHEN len(words) < 3 THEN [norm]
                 ELSE list_distinct(list_transform(
                     generate_series(1, len(words) - 2),
                     i -> words[i] || ' ' || words[i + 1]
                          || ' ' || words[i + 2])) END AS shingles
           FROM w),
    hv AS (SELECT doc_id, list_transform(shingles, s ->
                CAST(CAST('0x' || substr(md5(s), 1, 16) AS UBIGINT)
                     % {two61} AS HUGEINT)) AS hs
           FROM sh),
    sig AS (SELECT doc_id,
            CASE WHEN len(hs) = 0
                 THEN list_transform(generate_series(1, 32), p -> 0)
            ELSE list_transform(generate_series(1, 32), p ->
                CAST(list_min(list_transform(hs, h ->
                    CAST(((pa[p] * h + pb[p]) % {two64})
                         % {_MERSENNE61} AS BIGINT))) AS BIGINT)) END AS s
            FROM hv, ab),
    banded AS (SELECT doc_id, band,
            CAST(CASE WHEN bh >= CAST('9223372036854775808' AS HUGEINT)
                 THEN bh - {two64} ELSE bh END AS BIGINT) AS band_hash
            FROM (SELECT doc_id, band, {fold} AS bh
                  FROM sig, (SELECT unnest(generate_series(0, 7)) AS band))),
    capped AS (SELECT doc_id, band, band_hash FROM banded
               QUALIFY count(*) OVER (PARTITION BY band, band_hash) <= 512)
    SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    """


@query("minhash_lsh_candidates", oracle=_minhash_oracle())
def minhash_lsh_candidates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 perms, md5-based) + 8-band LSH candidate pairs with
    the enforced bucket cap. Oracle: the entire pipeline re-derived in
    DuckDB SQL (signatures, band hashes, cap, join) — exact; recall
    properties are additionally covered by ngram_jaccard_dups and
    pytest (candidates ⊇ high-J pairs)."""
    return minhash_lsh_candidates(t(spark, sf_dir, "documents"),
                                  "doc_id", "text")


def _simhash_oracle() -> str:
    """DuckDB twin of simhash64 + the 4x16-bit band join: md5-derived
    unsigned 64-bit shingle hashes (hex-literal cast matches Python's
    big-endian int), per-bit +-1 majority summed in HUGEINT via a
    hoisted power table, signed conversion, band chunks by integer
    division, pigeonhole join, exact hamming verify."""
    pow2 = "[" + ", ".join(f"CAST('{1 << b}' AS HUGEINT)"
                           for b in range(64)) + "]"
    pow16 = ("[CAST(1 AS HUGEINT), CAST(65536 AS HUGEINT), "
             "CAST('4294967296' AS HUGEINT), "
             "CAST('281474976710656' AS HUGEINT)]")
    return f"""
    WITH p2 AS (SELECT {pow2} AS pow2, {pow16} AS pow16),
    d AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
    w AS (SELECT doc_id, norm, string_split(norm, ' ') AS words FROM d),
    sh AS (SELECT doc_id,
            CASE WHEN norm = '' THEN []::VARCHAR[]
                 WHEN len(words) < 2 THEN [norm]
                 ELSE list_distinct(list_transform(
                     generate_series(1, len(words) - 1),
                     i -> words[i] || ' ' || words[i + 1])) END AS shingles
           FROM w),
    hv AS (SELECT doc_id, list_transform(shingles,
                s -> CAST('0x' || substr(md5(s), 1, 16) AS UBIGINT)) AS hs
           FROM sh),
    sim AS (SELECT doc_id, pow16,
            CASE WHEN len(hs) = 0 THEN CAST(0 AS HUGEINT)
            ELSE list_aggregate(list_transform(generate_series(0, 63),
                b -> CASE WHEN list_aggregate(list_transform(hs, h ->
                    CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END),
                    'sum') > 0 THEN pow2[b + 1]
                ELSE CAST(0 AS HUGEINT) END), 'sum') END AS vu
            FROM hv, p2),
    signed AS (SELECT doc_id, pow16, vu,
            CAST(CASE WHEN vu >= CAST('9223372036854775808' AS HUGEINT)
                 THEN vu - CAST('18446744073709551616' AS HUGEINT)
                 ELSE vu END AS BIGINT) AS simhash
            FROM sim),
    banded AS (SELECT doc_id, simhash, band,
            CAST((vu // pow16[band + 1]) % 65536 AS BIGINT) AS chunk
            FROM signed, (SELECT unnest([0, 1, 2, 3]) AS band)),
    pairs AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
                     a.simhash AS h1, b.simhash AS h2
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.chunk = b.chunk
                   AND a.doc_id < b.doc_id)
    SELECT doc1, doc2,
           CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
    FROM pairs WHERE bit_count(xor(h1, h2)) <= 3
    """


@query("simhash_near_dups", oracle=_simhash_oracle())
def simhash_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash64 + 4x16-bit band join, exact hamming<=3 verify. Oracle:
    the entire pipeline (signature, banding, pigeonhole join, verify)
    re-derived in DuckDB SQL — exact, not rows-only."""
    return simhash_near_dups(t(spark, sf_dir, "documents"),
                             "doc_id", "text")


# --- similarity search ------------------------------------------------------

_COS_SQL = """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id, embedding FROM embeddings),
    dots AS (
        SELECT c.vec_id AS neighbor_id, q.vec_id AS query_id,
               list_aggregate(list_transform(generate_series(1, 64),
                   i -> CAST(c.embedding[i] AS DOUBLE)
                        * CAST(q.embedding[i] AS DOUBLE)), 'sum') AS dot,
               sqrt(list_aggregate(list_transform(generate_series(1, 64),
                   i -> CAST(c.embedding[i] AS DOUBLE)
                        * CAST(c.embedding[i] AS DOUBLE)), 'sum')) AS cn,
               sqrt(list_aggregate(list_transform(generate_series(1, 64),
                   i -> CAST(q.embedding[i] AS DOUBLE)
                        * CAST(q.embedding[i] AS DOUBLE)), 'sum')) AS qn
        FROM c, q WHERE c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos
    FROM (SELECT query_id, neighbor_id, dot / (cn * qn) AS cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY dot / (cn * qn) DESC,
                                             neighbor_id) AS rank
          FROM dots)
    WHERE rank <= 3
"""


@query("embedding_cosine_topk", oracle=_COS_SQL)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for 10 query vectors: broadcast queries ×
    one corpus scan; dot product as explicit ordered double fold (bit-
    identical to the DuckDB list fold)."""
    emb = t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=3)


_COSDUP_SQL = """
    WITH v AS (SELECT vec_id, embedding,
                      sqrt(list_aggregate(list_transform(
                          generate_series(1, 64),
                          i -> CAST(embedding[i] AS DOUBLE)
                               * CAST(embedding[i] AS DOUBLE)), 'sum'))
                          AS nrm
               FROM embeddings WHERE vec_id < 400)
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           list_aggregate(list_transform(generate_series(1, 64),
               i -> CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE)), 'sum')
               / (a.nrm * b.nrm) AS cos
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_aggregate(list_transform(generate_series(1, 64),
              i -> CAST(a.embedding[i] AS DOUBLE)
                   * CAST(b.embedding[i] AS DOUBLE)), 'sum')
          / (a.nrm * b.nrm) > CAST(0.25 AS DOUBLE)
"""


@query("embedding_cosine_dups", oracle=_COSDUP_SQL)
def embedding_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos > 0.25) over a bounded id
    slice: the exact-dedup counterpart of the ANN queries. Self-join on a
    range-restricted side; at corpus scale the same predicate runs after
    an LSH/IVF bucket join (embedding_ann_*), never as a global cross
    join. Fold order matches the DuckDB oracle exactly."""
    from my_ocr_spark.operators.similarity import _dot, with_norm

    v = with_norm(t(spark, sf_dir, "embeddings")
                  .filter(F.col("vec_id") < 400))
    a = v.select(F.col("vec_id").alias("id1"),
                 F.col("embedding").alias("_e1"),
                 F.col("_norm").alias("_n1"))
    b = v.select(F.col("vec_id").alias("id2"),
                 F.col("embedding").alias("_e2"),
                 F.col("_norm").alias("_n2"))
    j = (a.join(b, F.col("id1") < F.col("id2"))
          .withColumn("cos", _dot("_e1", "_e2")
                      / (F.col("_n1") * F.col("_n2"))))
    return (j.filter(F.col("cos") > 0.25)
             .select("id1", "id2", "cos"))


def _winnow_oracle() -> str:
    """DuckDB twin of rolling_hashes + winnow_fingerprint: the Rabin-Karp
    power table is generated from the SAME kernel constants (base 257,
    Mersenne-61 modulus); products reach 2^68 so the mod-sum runs in
    HUGEINT. The power list is hoisted into a 1-row CTE — inlining the
    32-literal list into every lambda re-evaluated it per element
    (measured 18 s -> 1.07 s at sf0.01)."""
    from my_ocr_spark.kernel.textstats import _RH_BASE, _RH_MOD

    pw = [pow(_RH_BASE, 31 - k, _RH_MOD) for k in range(32)]
    pw_sql = "[" + ", ".join(f"CAST('{p}' AS HUGEINT)" for p in pw) + "]"
    return f"""
    WITH pwt AS (SELECT {pw_sql} AS pw),
    d AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
    c AS (
        SELECT doc_id, string_split(norm, '') AS ch, length(norm) AS n, pw
        FROM d, pwt
    ),
    h AS (
        SELECT doc_id,
            CASE WHEN n = 0 THEN []
                 WHEN n < 32 THEN [CAST(list_aggregate(
                     list_transform(generate_series(1, n), j ->
                         CAST(ascii(ch[j]) AS HUGEINT) * pw[32 - n + j]),
                     'sum') % {_RH_MOD} AS BIGINT)]
                 ELSE list_transform(generate_series(1, n - 31), i ->
                     CAST(list_aggregate(
                         list_transform(generate_series(0, 31), j ->
                             CAST(ascii(ch[i + j]) AS HUGEINT) * pw[j + 1]),
                         'sum') % {_RH_MOD} AS BIGINT))
            END AS hs
        FROM c
    ),
    f AS (
        SELECT doc_id,
            CASE WHEN len(hs) = 0 THEN []
                 WHEN len(hs) <= 8 THEN [list_min(hs)]
                 ELSE list_sort(list_distinct(list_transform(
                     generate_series(1, len(hs) - 7),
                     i -> list_min(hs[i:i+7]))))
            END AS fps
        FROM h
    )
    SELECT doc_id, unnest(fps) AS fingerprint FROM f
    """


@query("winnow_fingerprints", oracle=_winnow_oracle())
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (rolling Rabin-Karp hashes, min per
    shingle window — Schleimer et al.): the position-robust exact-dup
    primitive. Emitted as (doc_id, fingerprint) rows ready for a
    fingerprint-keyed dedup join. Oracle: the full hash+winnow pipeline
    re-derived in DuckDB SQL (HUGEINT mod-sum) — exact, not rows-only."""
    from my_ocr_spark.kernel.textstats import winnow_fingerprint

    def winnow(doc, text):
        for fp in winnow_fingerprint(text or ""):
            yield doc, fp

    # per-doc rolling-hash python pass: map_rows widens a 1-split scan
    # first (cost-modeled no-op at corpus scale; sf1.0: 12.5 s -> ~1.5 s)
    return map_rows(t(spark, sf_dir, "documents").select("doc_id", "text"),
                    winnow, "doc_id bigint not null, "
                    "fingerprint bigint not null")


def _minhash_verify_oracle() -> str:
    """Candidates (the full minhash oracle as a subquery) joined back to
    per-doc shingle sets for the exact-Jaccard verify at threshold
    0.5 — same empty-set convention as kernel jaccard() (both empty →
    1.0)."""
    return f"""
    WITH cands AS ({_minhash_oracle()}),
    d AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
    w AS (SELECT doc_id, norm, string_split(norm, ' ') AS words FROM d),
    sh AS (SELECT doc_id,
            CASE WHEN norm = '' THEN []::VARCHAR[]
                 WHEN len(words) < 3 THEN [norm]
                 ELSE list_distinct(list_transform(
                     generate_series(1, len(words) - 2),
                     i -> words[i] || ' ' || words[i + 1]
                          || ' ' || words[i + 2])) END AS shingles
           FROM w),
    j AS (SELECT c.doc1, c.doc2,
            len(list_intersect(a.shingles, b.shingles)) AS inter,
            len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles)) AS uni
          FROM cands c
          JOIN sh a ON a.doc_id = c.doc1
          JOIN sh b ON b.doc_id = c.doc2)
    SELECT doc1, doc2,
           CASE WHEN uni = 0 THEN CAST(1.0 AS DOUBLE)
                ELSE CAST(inter AS DOUBLE) / uni END AS jaccard
    FROM j
    WHERE (CASE WHEN uni = 0 THEN CAST(1.0 AS DOUBLE)
           ELSE CAST(inter AS DOUBLE) / uni END) >= CAST(0.5 AS DOUBLE)
    """


@query("minhash_then_verify", oracle=_minhash_verify_oracle())
def minhash_then_verify_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalable near-dup pipeline: MinHash-LSH candidates → exact
    Jaccard verify of candidates only. Every emitted pair is exactly
    >= threshold (verified); misses bounded by the banding curve.
    Oracle: candidates subquery + exact set-Jaccard in SQL."""
    from my_ocr_spark.operators.dedup import minhash_then_verify

    return minhash_then_verify(t(spark, sf_dir, "documents"),
                               "doc_id", "text", threshold=0.5)


def _ann_ivf_oracle(n_centroids: int = 16, n_iter: int = 5,
                    sample_n: int = 1024, dim: int = 64,
                    scale: int = 256) -> str:
    """DuckDB twin of the FULL IVF pipeline: the hash-ordered codebook
    sample (lowest md5(id) — id-space independent, see
    train_centroids_kmeans), the quantized-integer Lloyd loop unrolled
    as n_iter assign/update CTE pairs — quantization floor(x*scale+0.5),
    exact int64 squared-L2, argmin ties → lowest cell, per-dim floor-div
    means, empty cells keep their centroid — then corpus assignment,
    n_probe=2 cell probing, and fold-parity cosine rescoring (the proven
    embedding_ann_lsh pattern). Every arithmetic step is exact integers
    until the final cosine, so 'approximate' is the recall property, not
    nondeterminism."""
    dist = ("list_aggregate(list_transform(generate_series(1, {dim}), "
            "i -> (s.qv[i] - c.cv[i]) * (s.qv[i] - c.cv[i])), 'sum')"
            ).format(dim=dim)
    fold = (lambda a, b: f"list_aggregate(list_transform("
            f"generate_series(1, {dim}), i -> CAST({a}[i] AS DOUBLE)"
            f" * CAST({b}[i] AS DOUBLE)), 'sum')")
    its = []
    prev = "cent0"
    for k in range(1, n_iter + 1):
        its.append(f"""
    a{k} AS (SELECT s.vec_id, s.qv, c.cell, {dist} AS dist
             FROM samp s CROSS JOIN {prev} c),
    b{k} AS (SELECT vec_id, qv, cell FROM
               (SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY dist, cell) AS rn FROM a{k})
             WHERE rn = 1),
    u{k} AS (SELECT cell, list(m ORDER BY i) AS cv FROM
               (SELECT cell, i,
                       CAST(floor(CAST(sum(v) AS DOUBLE) / count(*))
                            AS BIGINT) AS m
                FROM (SELECT cell,
                             unnest(generate_series(1, {dim})) AS i,
                             unnest(qv) AS v
                      FROM b{k})
                GROUP BY cell, i)
             GROUP BY cell),
    cent{k} AS (SELECT c.cell, coalesce(u.cv, c.cv) AS cv
                FROM {prev} c LEFT JOIN u{k} u USING (cell))""")
        prev = f"cent{k}"
    iters = ",".join(its)
    return f"""
    WITH qz AS (SELECT vec_id, embedding,
                  list_transform(embedding, x ->
                    CAST(floor(CAST(x AS DOUBLE) * {scale} + 0.5)
                         AS BIGINT)) AS qv
                FROM embeddings),
    samp AS (SELECT vec_id, qv, hrk FROM
               (SELECT vec_id, qv,
                       row_number() OVER (
                           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                           AS hrk
                FROM qz)
             WHERE hrk <= {sample_n}),
    cent0 AS (SELECT CAST(hrk - 1 AS INTEGER) AS cell, qv AS cv
              FROM samp WHERE hrk <= {n_centroids}),
    {iters},
    cassign AS (SELECT vec_id, bucket FROM
                  (SELECT s.vec_id, c.cell AS bucket,
                          row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY {dist}, c.cell) AS rn
                   FROM qz s CROSS JOIN {prev} c)
                WHERE rn = 1),
    qprobe AS (SELECT vec_id, bucket FROM
                 (SELECT s.vec_id, c.cell AS bucket,
                         row_number() OVER (PARTITION BY s.vec_id
                             ORDER BY {dist}, c.cell) AS rn
                  FROM (SELECT * FROM qz WHERE vec_id < 10) s
                  CROSS JOIN {prev} c)
               WHERE rn <= 2),
    cn AS (SELECT e.vec_id AS neighbor_id, e.embedding AS cv, a.bucket,
                  sqrt({fold('e.embedding', 'e.embedding')}) AS nn
           FROM embeddings e JOIN cassign a USING (vec_id)),
    qn AS (SELECT e.vec_id AS query_id, e.embedding AS qv, p.bucket,
                  sqrt({fold('e.embedding', 'e.embedding')}) AS qnm
           FROM embeddings e JOIN qprobe p USING (vec_id)),
    j AS (SELECT DISTINCT c.neighbor_id, q.query_id,
                 {fold('c.cv', 'q.qv')} / (c.nn * q.qnm) AS cos
          FROM cn c JOIN qn q ON c.bucket = q.bucket
          WHERE c.neighbor_id != q.query_id),
    r AS (SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id)
                     AS rank
          FROM j)
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos
    FROM r WHERE rank <= 3
    """


@query("embedding_ann_ivf", oracle=_ann_ivf_oracle())
def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic quantized-integer mini-kmeans codebook (no
    RNG, no float-order dependence), nearest-cell assignment, n_probe=2
    probing, exact rescoring within cells. Oracle: the whole pipeline —
    Lloyd loop included — re-derived in SQL (see _ann_ivf_oracle)."""
    from my_ocr_spark.operators.similarity import (
        ivf_ann_topk, train_centroids_kmeans,
    )

    emb = t(spark, sf_dir, "embeddings")
    cent = train_centroids_kmeans(emb, n_centroids=16, sample_n=1024)
    return ivf_ann_topk(emb, emb.filter(F.col("vec_id") < 10), cent,
                        k=3, n_probe=2)


def _ann_lsh_oracle() -> str:
    """DuckDB twin of lsh_ann_topk: the 8x64 hyperplane matrix is
    embedded as exact double literals (repr round-trips via strtod);
    bucket signs use the same explicit left-to-right fold over dims the
    kernel now uses (BLAS matmul was replaced — its blocked summation
    order is not reproducible); cosine rescoring is the proven
    fold-parity expression; rank ties break on neighbor_id."""
    from my_ocr_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 8)
    rows = ", ".join(
        "[" + ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in row) + "]"
        for row in planes)
    fold = (lambda a, b: f"list_aggregate(list_transform("
            f"generate_series(1, 64), i -> CAST({a}[i] AS DOUBLE)"
            f" * CAST({b}[i] AS DOUBLE)), 'sum')")
    return f"""
    WITH pl AS (SELECT [{rows}] AS planes,
                       [1, 2, 4, 8, 16, 32, 64, 128] AS pw),
    b AS (SELECT vec_id, embedding,
            CAST(list_aggregate(list_transform(generate_series(1, 8),
                p -> CASE WHEN list_aggregate(list_transform(
                        generate_series(1, 64), i ->
                        CAST(embedding[i] AS DOUBLE) * planes[p][i]),
                        'sum') > 0
                     THEN pw[p] ELSE 0 END), 'sum') AS INTEGER) AS bucket
          FROM embeddings, pl),
    q AS (SELECT vec_id AS query_id, embedding AS qv, bucket,
                 sqrt({fold('embedding', 'embedding')}) AS qn
          FROM b WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket,
                 sqrt({fold('embedding', 'embedding')}) AS cn
          FROM b),
    j AS (SELECT c.neighbor_id, q.query_id,
                 {fold('c.cv', 'q.qv')} / (c.cn * q.qn) AS cos
          FROM c JOIN q ON c.bucket = q.bucket
          WHERE c.neighbor_id != q.query_id),
    r AS (SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id)
                     AS rank
          FROM j)
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos
    FROM r WHERE rank <= 3
    """


@query("embedding_ann_lsh", oracle=_ann_lsh_oracle())
def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (8 hyperplanes, seed 42): the 100TB-scale variant
    of embedding_cosine_topk. Oracle: the full pipeline (plane signs,
    bucket join, exact cosine rescore, rank) re-derived in DuckDB —
    'approximate' is the recall property, not nondeterminism; recall vs
    brute force additionally asserted in pytest."""
    emb = t(spark, sf_dir, "embeddings")
    return lsh_ann_topk(emb, emb.filter(F.col("vec_id") < 10), k=3)


# --- OCR string metrics (eval_ocr_metric analog) ----------------------------

@query(
    "ocr_word_acc_metrics",
    oracle=f"""
    WITH pairs AS (
        SELECT doc_id, {_NORM_SQL} AS gt,
               CASE WHEN doc_id % 3 = 0 THEN upper({_NORM_SQL})
                    WHEN doc_id % 7 = 0 THEN {_NORM_SQL} || ' x'
                    ELSE {_NORM_SQL} END AS pred
        FROM documents WHERE length(text) > 0
    )
    SELECT count(*) AS n_pairs,
           CAST(sum(CASE WHEN pred = gt THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS word_acc,
           CAST(sum(CASE WHEN lower(pred) = lower(gt) THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS word_acc_ignore_case,
           CAST(sum(levenshtein(pred, gt)) AS BIGINT) AS total_edit_dist,
           round(CAST(sum(CAST(levenshtein(pred, gt) AS DOUBLE)
                    / greatest(length(pred), length(gt), 1)) AS DOUBLE)
               / count(*), 6) AS mean_ned
    FROM pairs
    """,
)
def ocr_word_acc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eval_ocr_metric (ocr_metric.py:83-133): word accuracy (exact +
    ignore-case) and mean normalized edit distance, over deterministic
    (pred, gt) pairs derived from the documents table. levenshtein() is
    built-in on both engines; the per-row metric projection aggregates
    map-side."""
    # spread: levenshtein is O(len^2) per row and runs in the MAP-SIDE
    # partial-agg projection, i.e. in the scan stage — a 1-split
    # fixture scan ran the whole O(1.2G-cell) DP on one core
    # (measured 4.0 s -> 0.6 s; invariant 5, cost-modeled no-op at
    # corpus scale)
    d = spread_small_scan(
        t(spark, sf_dir, "documents").filter(F.length("text") > 0)
        .select("doc_id", "text"))
    gt = normalized_col("text")
    pred = (F.when(F.col("doc_id") % 3 == 0, F.upper(gt))
             .when(F.col("doc_id") % 7 == 0, F.concat(gt, F.lit(" x")))
             .otherwise(gt))
    pairs = d.select("doc_id", gt.alias("gt"), pred.alias("pred"))
    lev = F.levenshtein("pred", "gt")
    ned = lev.cast("double") / F.greatest(F.length("pred"),
                                          F.length("gt"), F.lit(1))
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        (F.sum(F.when(F.col("pred") == F.col("gt"), 1).otherwise(0))
         .cast("double") / F.count("*")).alias("word_acc"),
        (F.sum(F.when(F.lower("pred") == F.lower("gt"), 1).otherwise(0))
         .cast("double") / F.count("*")).alias("word_acc_ignore_case"),
        F.sum(lev).cast("bigint").alias("total_edit_dist"),
        F.round(F.sum(ned).cast("double") / F.count("*"), 6)
         .alias("mean_ned"),
    )


@query(
    "multimodal_payload_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS payload_bytes,
           substr(md5(text), 1, 8) AS content_key,
           CASE WHEN octet_length(encode(text)) > length(text)
                THEN 'multibyte' ELSE 'ascii' END AS payload_kind
    FROM documents
    """,
)
def multimodal_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal-column plumbing: opaque binary payload + typed metadata
    (byte length vs char length distinguishes multibyte payloads; a real
    image/audio decode is stubbed behind multimodal_decode_stub)."""
    d = t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).alias("payload_bytes"),
        F.substring(F.md5("text"), 1, 8).alias("content_key"),
        F.when(F.octet_length(payload) > F.length("text"), "multibyte")
         .otherwise("ascii").alias("payload_kind"),
    )


@query(
    "embedding_centroids",
    oracle="""
    WITH g AS (SELECT vec_id % 16 AS grp, embedding FROM embeddings),
    d AS (SELECT unnest(generate_series(0, 63)) AS dim)
    SELECT g.grp, CAST(d.dim AS INTEGER) AS dim,
           round(avg(CAST(g.embedding[d.dim + 1] AS DOUBLE)), 4)
               AS centroid
    FROM g, d
    GROUP BY g.grp, d.dim
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group embedding centroid — the k-means/IVF training
    primitive at corpus scale. Shape matters: 64 scalar AVG aggregates
    (one per dimension) instead of posexplode-then-groupBy — no 64x row
    multiplication before the shuffle and every AVG gets a map-side
    partial, so the shuffle carries 16 groups x 64 running sums
    regardless of corpus size. The wide row is unpivoted to
    (grp, dim, centroid) AFTER the aggregate via stack(). Order-
    dependent float means rounded on both sides."""
    emb = t(spark, sf_dir, "embeddings")
    dims = 64
    aggs = [F.round(F.avg(F.get(F.col("embedding"), d).cast("double")), 4)
             .alias(f"d{d}") for d in range(dims)]
    wide = emb.groupBy((F.col("vec_id") % 16).alias("grp")).agg(*aggs)
    stack = ("stack(" + str(dims) + ", "
             + ", ".join(f"{d}, d{d}" for d in range(dims))
             + ") AS (dim, centroid)")
    return wide.select("grp", F.expr(stack)) \
               .select("grp", F.col("dim").cast("int").alias("dim"),
                       "centroid")


@query(
    "url_host_rollup",
    oracle="""
    WITH pages AS (
        SELECT 'https://' || source || '.example/p/'
                   || CAST(doc_id AS VARCHAR)
                   || CASE WHEN doc_id % 4 = 0
                           THEN '?utm_source=feed&ref=' || lang
                           ELSE '' END AS url,
               length(text) AS n_chars
        FROM documents
    ),
    parsed AS (
        SELECT regexp_extract(url, '^([a-z]+)://([^/?#]+)', 1) AS scheme,
               regexp_extract(url, '^([a-z]+)://([^/?#]+)', 2) AS host,
               regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
               CASE WHEN url LIKE '%?%' THEN 1 ELSE 0 END AS has_query,
               n_chars
        FROM pages
    )
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_pages,
           CAST(sum(has_query) AS BIGINT) AS n_tracked,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(count(DISTINCT path) AS BIGINT) AS n_paths
    FROM parsed
    WHERE scheme = 'https'
    GROUP BY host
    """,
)
def url_host_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + per-host rollup — the crawl-pipeline
    staple that feeds host-level skew salting and per-host quality
    gates: regex-parse scheme/host/path out of the page url (tracking
    query strings detected, stripped from the canonical path), then one
    groupBy(host) with exact-integer aggregates. At corpus scale this is
    the shuffle whose key histogram drives SALT selection (docs/SCALE.md
    §3); host parsing itself is pure JVM regexp."""
    d = t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example/p/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("?utm_source=feed&ref="), F.col("lang")))
         .otherwise(F.lit("")))
    pages = d.select(url.alias("url"), F.length("text").alias("n_chars"))
    parsed = pages.select(
        F.regexp_extract("url", r"^([a-z]+)://([^/?#]+)", 1).alias("scheme"),
        F.regexp_extract("url", r"^([a-z]+)://([^/?#]+)", 2).alias("host"),
        F.regexp_extract("url", r"^[a-z]+://[^/?#]+([^?#]*)", 1)
         .alias("path"),
        F.when(F.col("url").contains("?"), 1).otherwise(0)
         .alias("has_query"),
        "n_chars")
    return (parsed.filter(F.col("scheme") == "https")
            .groupBy("host")
            .agg(F.count("*").alias("n_pages"),
                 F.sum("has_query").alias("n_tracked"),
                 F.sum("n_chars").alias("sum_chars"),
                 F.countDistinct("path").alias("n_paths")))


def _dup_span_ctes(gram_width: int = 5, df_cap: int = 16,
                   min_grams: int = 2) -> str:
    """The duplicate_spans CTE chain (shared by the detection oracle
    and the removal oracle), ending in ``fspans`` — spans passing the
    min_grams threshold."""
    return f"""d AS (
        SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words
        FROM documents
        WHERE len(string_split({_NORM_SQL}, ' ')) >= {gram_width}
    ),
    g AS (
        SELECT doc_id,
               unnest(generate_series(1, len(words) - {gram_width - 1}))
                   AS pos,
               words
        FROM d
    ),
    h AS (
        SELECT doc_id, pos,
               md5(array_to_string(words[pos:pos + {gram_width - 1}], ' '))
                   AS gh
        FROM g
    ),
    post AS (
        SELECT gh, count(*) AS df,
               list({{'doc_id': doc_id, 'pos': pos}}) AS docs
        FROM h GROUP BY gh HAVING count(*) BETWEEN 2 AND {df_cap}
    ),
    pairs AS (
        SELECT a.doc_id AS doc1, a.pos AS p1,
               b.doc_id AS doc2, b.pos AS p2
        FROM (SELECT unnest(docs, recursive := true), gh FROM post) a
        JOIN (SELECT unnest(docs, recursive := true), gh FROM post) b
          ON a.gh = b.gh AND a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT doc1, doc2, p1, p2,
               p1 - row_number() OVER (PARTITION BY doc1, doc2, p1 - p2
                                       ORDER BY p1) AS grp
        FROM pairs
    ),
    spans AS (
        SELECT doc1, doc2, min(p1) AS start1, min(p2) AS start2,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(count(*) + {gram_width - 1} AS BIGINT) AS span_words
        FROM isl GROUP BY doc1, doc2, p1 - p2, grp
    ),
    fspans AS (SELECT * FROM spans WHERE n_grams >= {min_grams})"""


def _dup_span_oracle(gram_width: int = 5, df_cap: int = 16,
                     min_grams: int = 2) -> str:
    """DuckDB twin of operators.dedup.duplicate_spans, parameterized on
    the same knobs (gram width, df cap, span threshold)."""
    return f"""
    WITH {_dup_span_ctes(gram_width, df_cap, min_grams)}
    SELECT doc1, doc2, start1, start2, n_grams, span_words FROM fspans
    """


@query("duplicate_span_pairs", oracle=_dup_span_oracle())
def duplicate_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans across documents (the
    suffix-array-style training-data dedup of Lee et al., 'Deduplicating
    Training Data Makes Language Models Better', done as a postings
    join) — see operators.dedup.duplicate_spans for the plan and the
    scale knobs (gram_width / df_cap / min_grams, registered here at
    their documented defaults 5/16/2: spans of >=2 overlapping 5-grams,
    i.e. >=6 shared words). One shuffle on the gram hash plus one on
    the (doc1, doc2, diagonal) span key; positions are exact integers
    on both engines."""
    from my_ocr_spark.operators.dedup import duplicate_spans

    return duplicate_spans(t(spark, sf_dir, "documents"),
                           "doc_id", "text")


@query(
    "exact_percentiles",
    oracle="""
    WITH v AS (
        SELECT source, length(text) AS n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY length(text), doc_id) AS rn,
               count(*) OVER (PARTITION BY source) AS n
        FROM documents
    )
    SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
           CAST(min(CASE WHEN rn >= ceil(CAST(0.5 AS DOUBLE) * n) THEN n_chars END)
                AS BIGINT) AS p50,
           CAST(min(CASE WHEN rn >= ceil(CAST(0.9 AS DOUBLE) * n) THEN n_chars END)
                AS BIGINT) AS p90,
           CAST(min(CASE WHEN rn >= ceil(CAST(0.99 AS DOUBLE) * n) THEN n_chars END)
                AS BIGINT) AS p99
    FROM v GROUP BY source
    """,
)
def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles of document length (corpus QA /
    partition-sizing stats): rank window + conditional min — the
    deterministic alternative to approx_percentile, whose sketch
    internals (and therefore exact outputs) differ across engines.
    One shuffle on the group key; values are exact integers. At corpus
    scale swap in approx_percentile for the same shape at O(1) memory —
    this query pins the exact semantics the sketch approximates."""
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.length("text"), "doc_id")
    wn = Window.partitionBy("source")
    v = d.select(
        "source", F.length("text").alias("n_chars"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"))

    def pick(p: float):
        return F.min(F.when(F.col("rn") >= F.ceil(p * F.col("n")),
                            F.col("n_chars"))).cast("bigint")

    return (v.groupBy("source")
            .agg(F.max("n").cast("bigint").alias("n_docs"),
                 pick(0.5).alias("p50"),
                 pick(0.9).alias("p90"),
                 pick(0.99).alias("p99")))


def _semantic_dedup_oracle(n_centroids: int = 16, n_iter: int = 5,
                           sample_n: int = 1024, dim: int = 64,
                           scale: int = 256,
                           threshold: float = 0.95) -> str:
    """DuckDB twin of the full SemDeDup pipeline: the synthetic near-dup
    corpus (scaled + first-dim-perturbed copies), the quantized-integer
    Lloyd codebook (same unrolled pattern as _ann_ivf_oracle), exact
    in-cell cosine pairs (fold parity), and the recursive-CTE min-label
    closure for duplicate components. Exact end-to-end: integers until
    the cosines, and the cosines are the same left-to-right fold on both
    engines."""
    dist = ("list_aggregate(list_transform(generate_series(1, {dim}), "
            "i -> (s.qv[i] - c.cv[i]) * (s.qv[i] - c.cv[i])), 'sum')"
            ).format(dim=dim)
    fold = (lambda a, b: f"list_aggregate(list_transform("
            f"generate_series(1, {dim}), i -> {a}[i] * {b}[i]), 'sum')")
    its = []
    prev = "cent0"
    for k in range(1, n_iter + 1):
        its.append(f"""
    a{k} AS (SELECT s.vec_id, s.qv, c.cell, {dist} AS dist
             FROM samp s CROSS JOIN {prev} c),
    b{k} AS (SELECT vec_id, qv, cell FROM
               (SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY dist, cell) AS rn FROM a{k})
             WHERE rn = 1),
    u{k} AS (SELECT cell, list(m ORDER BY i) AS cv FROM
               (SELECT cell, i,
                       CAST(floor(CAST(sum(v) AS DOUBLE) / count(*))
                            AS BIGINT) AS m
                FROM (SELECT cell,
                             unnest(generate_series(1, {dim})) AS i,
                             unnest(qv) AS v
                      FROM b{k})
                GROUP BY cell, i)
             GROUP BY cell),
    cent{k} AS (SELECT c.cell, coalesce(u.cv, c.cv) AS cv
                FROM {prev} c LEFT JOIN u{k} u USING (cell))""")
        prev = f"cent{k}"
    iters = ",".join(its)
    return f"""
    WITH RECURSIVE base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
    corpus AS (
        SELECT vec_id, v FROM base
        UNION ALL
        SELECT vec_id + 100000,
               list_transform(v, x -> x * CAST(1.25 AS DOUBLE))
        FROM base WHERE vec_id % 7 = 0
        UNION ALL
        SELECT vec_id + 200000,
               [v[1] + CAST(0.05 AS DOUBLE)] || v[2:{dim}]
        FROM base WHERE vec_id % 11 = 0),
    qz AS (SELECT vec_id, v,
             list_transform(v, x ->
                 CAST(floor(x * {scale} + 0.5) AS BIGINT)) AS qv
           FROM corpus),
    samp AS (SELECT vec_id, qv, hrk FROM
               (SELECT vec_id, qv,
                       row_number() OVER (
                           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                           AS hrk
                FROM qz)
             WHERE hrk <= {sample_n}),
    cent0 AS (SELECT CAST(hrk - 1 AS INTEGER) AS cell, qv AS cv
              FROM samp WHERE hrk <= {n_centroids}),
    {iters},
    cells AS (SELECT vec_id, bucket FROM
                (SELECT s.vec_id, c.cell AS bucket,
                        row_number() OVER (PARTITION BY s.vec_id
                            ORDER BY {dist}, c.cell) AS rn
                 FROM qz s CROSS JOIN {prev} c)
              WHERE rn = 1),
    nv AS (SELECT q.vec_id, q.v, cells.bucket,
                  sqrt({fold('q.v', 'q.v')}) AS nrm
           FROM qz q JOIN cells USING (vec_id)),
    edges AS (SELECT a.vec_id AS src, b.vec_id AS dst
              FROM nv a JOIN nv b
                ON a.bucket = b.bucket AND a.vec_id < b.vec_id
              WHERE {fold('a.v', 'b.v')} / (a.nrm * b.nrm)
                    >= CAST({threshold!r} AS DOUBLE)),
    sym AS (SELECT src, dst FROM edges
            UNION SELECT dst, src FROM edges),
    lbl AS (SELECT src AS node, src AS lab FROM sym
            UNION
            SELECT s.dst, l.lab
            FROM lbl l JOIN sym s ON s.src = l.node),
    comp AS (SELECT node, min(lab) AS component
             FROM lbl GROUP BY node)
    SELECT c.vec_id,
           coalesce(comp.component, c.vec_id) AS canonical_id,
           (coalesce(comp.component, c.vec_id) = c.vec_id) AS keep
    FROM corpus c LEFT JOIN comp ON comp.node = c.vec_id
    """


@query("semantic_dedup_keep", oracle=_semantic_dedup_oracle())
def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023: cluster
    the embedding space, drop near-duplicates within each cluster): a
    synthetic near-dup corpus (each 7th vector re-encoded at a different
    scale, each 11th with a perturbed first dimension — cosine-preserving
    and cosine-noisy duplicates respectively) is cell-bucketed by the
    quantized-integer k-means codebook, pairs with in-cell cosine >= 0.95
    become duplicate edges, connected components pick the min-id
    canonical, and every vector gets a keep/canonical_id decision.

    Scale shape: the pair search is CELL-LOCAL (the SemDeDup tradeoff:
    near-dups straddling a cell boundary are missed — recall, not
    correctness), so cost is sum of per-cell squares, never corpus²;
    components use the O(log n) pointer-jumping operator. Oracle: whole
    pipeline exact in SQL — integer Lloyd, fold-parity cosines,
    recursive-CTE closure."""
    from my_ocr_spark.operators.graph import connected_components
    from my_ocr_spark.operators.similarity import (
        _dot, cell_cosine_edges, ivf_assign, train_centroids_kmeans,
    )

    # NOT spread_small_scan'd: A/B at both SFs (warm, same session)
    # read base-spread SLOWER — sf0.1 3.8 vs 2.0 s, sf1.0 8.4 vs 6.2 s.
    # The eager 32-partition checkpoint write costs more than the wide
    # scan buys; the pipeline's real cost is the grouped verify + CC,
    # both already shuffle-parallel.
    base = (t(spark, sf_dir, "embeddings")
            .select("vec_id",
                    F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
                     .alias("v")))
    scaled = (base.filter(F.col("vec_id") % 7 == 0)
              .select((F.col("vec_id") + 100000).alias("vec_id"),
                      F.expr("transform(v, x -> x * CAST(1.25 AS DOUBLE))")
                       .alias("v")))
    pert = (base.filter(F.col("vec_id") % 11 == 0)
            .select((F.col("vec_id") + 200000).alias("vec_id"),
                    F.expr("concat(array(element_at(v, 1)"
                           " + CAST(0.05 AS DOUBLE)), slice(v, 2, 63))")
                     .alias("v")))
    corpus = base.unionAll(scaled).unionAll(pert)
    # materialize once: corpus feeds four consumers (codebook sample,
    # cell assignment, both sides of the pair self-join, final keep
    # join) and nv two — without truncation each consumer re-runs the
    # synthesis + 64-dim HOF transforms (no CSE across consumers).
    # SemDeDup at corpus scale does the same thing deliberately: the
    # embedding+assignment table is THE materialization point of the
    # pipeline (one write, k consumers), not a recomputable view.
    corpus = corpus.localCheckpoint(eager=True)
    cent = train_centroids_kmeans(corpus, n_centroids=16, sample_n=1024,
                                  vec_col="v")
    cells = ivf_assign(corpus, cent, vec_col="v")
    # nv is consumed exactly once (cell_cosine_edges), and the edge set
    # itself is checkpointed inside connected_components before the CC
    # loop — a second checkpoint here only paid an extra serialization
    # pass (A/B'd both directions at sf1.0: ~0.3 s slower with it)
    nv = (corpus.join(cells, corpus.vec_id == cells.vid)
          .select("vec_id", "v", "bucket")
          .withColumn("nrm", F.sqrt(_dot("v", "v"))))
    # the exact-cosine verify runs cell-local inside one grouped map
    # (cell_cosine_edges): same left-to-right fold as the Catalyst
    # _dot expression, bit-exact — the old bucket self-join shipped
    # every candidate pair's two fat vectors over Arrow and burned the
    # rest interpreting the fold per pair
    edges = cell_cosine_edges(nv, threshold=0.95)
    comp = connected_components(edges, "src", "dst")
    return (corpus.join(comp, corpus.vec_id == comp.node, "left")
            .select("vec_id",
                    F.coalesce("component", "vec_id").alias("canonical_id"),
                    (F.coalesce("component", "vec_id")
                     == F.col("vec_id")).alias("keep")))


# GPT-2-style pre-tokenizer pattern, lookahead-free so it runs
# identically under Java regex (Spark) and RE2 (DuckDB): optional
# leading space + letter run / digit run / symbol run, else whitespace
_BPE_PAT = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"


@query(
    "bpe_regex_tokens",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_PAT}'))
                AS BIGINT) AS n_bpe_tokens,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           array_to_string(
               list_transform(regexp_extract_all(text, '{_BPE_PAT}')[1:8],
                              x -> replace(x, ' ', '_')), '|')
               AS first_tokens
    FROM documents WHERE length(text) > 0
    """,
)
def bpe_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization counts (the GPT-2 pre-tokenizer
    pattern, simplified to be lookahead-free so Java regex and RE2 agree
    token-for-token): per document the regex token count next to the
    whitespace count — the ratio is the classic tokens-per-word corpus
    statistic a training pipeline budgets against. first_tokens (spaces
    visualized as '_') pins the segmentation itself, not just counts.
    Pure JVM regexp, no shuffle beyond the scan."""
    d = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = F.expr(f"regexp_extract_all(text, '{_BPE_PAT}', 0)")
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_ws_tokens"),
        F.array_join(
            F.transform(F.slice(toks, 1, 8),
                        lambda x: F.replace(x, F.lit(" "), F.lit("_"))),
            "|").alias("first_tokens"))


def _gopher_ctes(word_cte: str) -> str:
    """The Gopher repetition-counts CTE chain (uni/bi/five gram stats +
    the per-doc gq row with the integer keep gate), reading (doc_id, w)
    from ``word_cte`` — shared by the standalone oracle and the
    curation_mix_report composition."""
    return f"""uni AS (
        SELECT doc_id, CAST(any_value(n_words) AS BIGINT) AS n_words,
               CAST(max(cnt) AS BIGINT) AS top_word_n
        FROM (SELECT doc_id, n_words, g, count(*) AS cnt
              FROM (SELECT doc_id, len(w) AS n_words, unnest(w) AS g
                    FROM {word_cte})
              GROUP BY doc_id, n_words, g)
        GROUP BY doc_id
    ),
    bi AS (
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
               CAST(max(cnt) AS BIGINT) AS top_bigram_n
        FROM (SELECT doc_id, g, count(*) AS cnt
              FROM (SELECT doc_id,
                           w[i] || ' ' || w[i + 1] AS g
                    FROM (SELECT doc_id, w,
                                 unnest(generate_series(1, len(w) - 1))
                                     AS i
                          FROM {word_cte} WHERE len(w) >= 2))
              GROUP BY doc_id, g)
        GROUP BY doc_id
    ),
    five AS (
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_5grams,
               CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)
                    AS BIGINT) AS n_dup_5gram_pos
        FROM (SELECT doc_id, g, count(*) AS cnt
              FROM (SELECT doc_id,
                           md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               || ' ' || w[i+3] || ' ' || w[i+4]) AS g
                    FROM (SELECT doc_id, w,
                                 unnest(generate_series(1, len(w) - 4))
                                     AS i
                          FROM {word_cte} WHERE len(w) >= 5))
              GROUP BY doc_id, g)
        GROUP BY doc_id
    ),
    gq AS (
        SELECT u.doc_id, u.n_words, u.top_word_n,
               coalesce(b.n_bigrams, 0) AS n_bigrams,
               coalesce(b.top_bigram_n, 0) AS top_bigram_n,
               coalesce(f.n_5grams, 0) AS n_5grams,
               coalesce(f.n_dup_5gram_pos, 0) AS n_dup_5gram_pos,
               (u.top_word_n * 100 <= 30 * u.n_words
                AND coalesce(b.top_bigram_n, 0) * 100
                    <= 20 * coalesce(b.n_bigrams, 0)
                AND coalesce(f.n_dup_5gram_pos, 0) * 100
                    <= 30 * coalesce(f.n_5grams, 0))
                   AS keep
        FROM uni u LEFT JOIN bi b USING (doc_id)
                   LEFT JOIN five f USING (doc_id)
    )"""


# plant deterministic boilerplate in every 17th doc (first 5 words
# repeated 8x) so the duplicate-5-gram gate demonstrably fires on the
# otherwise-too-clean synthetic corpus; mirrored on both engines
_GOPHER_PLANT_SQL = """
        SELECT doc_id,
               CASE WHEN doc_id % 17 = 0
                    THEN w0 || flatten(list_transform(
                             generate_series(1, 8), i -> w0[1:5]))
                    ELSE w0 END AS w"""


def _gopher_oracle(plant: bool) -> str:
    """DuckDB twin of the gopher queries: same normalized word stream
    (optionally with the demo boilerplate plant), same three gram
    statistics, same integer threshold gates."""
    d = (f"d AS ({_GOPHER_PLANT_SQL} FROM d0)" if plant
         else "d AS (SELECT doc_id, w0 AS w FROM d0)")
    return f"""
    WITH d0 AS (
        SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w0
        FROM documents WHERE length(text) > 0
    ),
    {d},
    {_gopher_ctes('d')}
    SELECT * FROM gq
    """


_GOPHER_SCHEMA = ("doc_id bigint, n_words bigint, top_word_n bigint, "
                  "n_bigrams bigint, top_bigram_n bigint, n_5grams bigint, "
                  "n_dup_5gram_pos bigint, keep boolean")


def gopher_counts(d: DataFrame, plant: bool = False) -> DataFrame:
    """Per-doc Gopher repetition counts + keep gate over (doc_id, text).

    Every output is a function of ONE document's normalized word
    stream, so the whole operator — normalization, split, the _demo
    plant, and the gram counts — is a single narrow Arrow-batched
    stage with per-doc Counters: no shuffle at all. The pre-r7 form
    derived word ARRAYS in JVM (two regexp_replace passes measured
    1.7 s alone at sf1.0 — 3x the Python re cost), exploded them into
    ~3x gram rows through interpreted HOF lambdas (element_at concats,
    md5 — no codegen, no CSE), ran six aggregations and two joins, and
    needed a localCheckpoint so the word derivation wouldn't execute
    three times; 2.0 s vs 0.6 s at sf1.0 for the same integer counts.

    Parity: the kernel normalizer is the oracle-proven twin of
    normalized_col (same path ngram/minhash/span queries use);
    ``split(" ")`` with an explicit separator replicates JVM
    split-on-' ' exactly (empty normalized text -> [''], n_words=1,
    same as the oracle's string_split). Bigrams/5-grams count by WORD
    TUPLE, which for space-free words is exactly the old concat/md5
    grouping (md5 only ever proxied the gram string). Re-verified
    hash-exact at sf0.01/0.1/1.0. ``plant`` applies the _demo fixture
    (first 5 words repeated 8x in every 17th doc — the Python twin of
    _GOPHER_PLANT_SQL). The keep gate stays pure integer math; docs
    without bigrams/5-grams pass vacuously (0 <= 0)."""
    from collections import Counter

    from my_ocr_spark.kernel.textstats import normalize_for_fingerprint

    def gopher_row(doc, text):
        wl = normalize_for_fingerprint(text or "").split(" ")
        if plant and doc % 17 == 0:
            wl = wl + wl[:5] * 8
        n = len(wl)
        top_word = max(Counter(wl).values())
        if n >= 2:
            n_bi = n - 1
            top_bi = max(Counter(zip(wl, wl[1:])).values())
        else:
            n_bi = top_bi = 0
        if n >= 5:
            n5 = n - 4
            c5 = Counter(zip(wl, wl[1:], wl[2:], wl[3:], wl[4:]))
            d5 = sum(v for v in c5.values() if v > 1)
        else:
            n5 = d5 = 0
        yield (doc, n, top_word, n_bi, top_bi, n5, d5,
               top_word * 100 <= 30 * n
               and top_bi * 100 <= 20 * n_bi
               and d5 * 100 <= 30 * n5)

    return map_rows(d.select("doc_id", "text"), gopher_row, _GOPHER_SCHEMA)


@query("gopher_repetition_filters", oracle=_gopher_oracle(plant=False))
def gopher_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. 2021,
    appendix A1.1 — the standard LLM-corpus repetition gates), word-level
    on the normalized stream: top-word fraction (<=0.30), top-bigram
    fraction (<=0.20), duplicate-5-gram position fraction (<=0.30 — the
    word-level analog of the duplicate-n-gram character fraction).
    Counts emitted as exact integers, the keep gate as pure integer
    comparisons — zero float rounding cross-engine. Plan: one narrow
    per-doc Counter stage (see gopher_counts). This registered query
    runs the CLEAN operator on the unmodified corpus;
    gopher_filters_demo plants deterministic boilerplate so every gate
    demonstrably fires."""
    d0 = (t(spark, sf_dir, "documents").filter(F.length("text") > 0)
          .select("doc_id", "text"))
    return gopher_counts(d0)


@query("gopher_filters_demo", oracle=_gopher_oracle(plant=True))
def gopher_filters_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gopher_repetition_filters over a DEMONSTRATION corpus: the
    fixture layer (``plant=True``, the Python twin of
    _GOPHER_PLANT_SQL) repeats each 17th doc's first 5 words 8x before
    the gates run, so the top-word, top-bigram AND duplicate-5-gram
    rules all provably fire and the oracle compare exercises every
    branch (the clean synthetic corpus alone is too uniform to trip
    the n-gram gates). The corpus mutation is fixture, not operator
    semantics — the registered clean twin is
    gopher_repetition_filters."""
    d0 = (t(spark, sf_dir, "documents").filter(F.length("text") > 0)
          .select("doc_id", "text"))
    return gopher_counts(d0, plant=True)



# single definition of the sqrt-temperature mix share, used by BOTH
# source_mixing_weights and curation_mix_report (Spark + SQL twins) so
# the rounding/temperature rule can never silently diverge
_MIX_SHARE_SQL = "floor({raw} / ({total}) * 1e6 + 0.5) / CAST(1e6 AS DOUBLE)"


def sqrt_mix_share(raw_col, total_col):
    """floor-half-up 6dp normalized share (sums of sqrt weights are
    order-dependent at the last ulp; 6dp absorbs it on both engines)."""
    return F.floor(raw_col / total_col * 1e6 + 0.5) / F.lit(1e6)


@query(
    "source_mixing_weights",
    oracle=f"""
    WITH s AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS n_chars
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT source, n_docs, n_chars,
               sqrt(CAST(n_docs AS DOUBLE)) AS raw_w
        FROM s
    )
    SELECT source, n_docs, n_chars,
           {_MIX_SHARE_SQL.format(raw='raw_w', total='SELECT sum(raw_w) FROM w')} AS mix_share,
           CAST(floor(raw_w / (SELECT max(raw_w) FROM w) * n_docs + 0.5)
                AS BIGINT) AS target_docs
    FROM w
    """,
)
def source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing weights (the multinomial
    source-sampling of XLM-R / mT5: p_i ∝ n_i^alpha with alpha = 0.5 so
    low-resource sources are up-weighted): per source, the raw sqrt
    weight, its normalized mix share, and the rebalanced target doc
    count. alpha is fixed at 0.5 because sqrt is correctly rounded in
    IEEE-754 on both engines — pow(x, 0.3) is not, so an arbitrary
    temperature would need quantized replay; the share is floor-half-up
    rounded at 6dp on both sides (sums of sqrt values are
    order-dependent at the last ulp). One groupBy shuffle; the
    normalizing sum is a broadcast scalar."""
    d = t(spark, sf_dir, "documents")
    s = (d.groupBy("source")
         .agg(F.count("*").cast("bigint").alias("n_docs"),
              F.sum(F.length("text")).cast("bigint").alias("n_chars")))
    w = s.withColumn("raw_w", F.sqrt(F.col("n_docs").cast("double")))
    tot = w.agg(F.sum("raw_w").alias("t"), F.max("raw_w").alias("m"))
    out = w.crossJoin(F.broadcast(tot))
    return out.select(
        "source", "n_docs", "n_chars",
        sqrt_mix_share(F.col("raw_w"), F.col("t")).alias("mix_share"),
        F.floor(F.col("raw_w") / F.col("m") * F.col("n_docs") + 0.5)
         .cast("bigint").alias("target_docs"))


def _c4_oracle(plant: bool) -> str:
    """DuckDB twin of the c4 queries: identical line synthesis (8-word
    windows, punctuation by (doc_id+i)%4; lorem/brace planted into
    line 0 only in the demo variant) and identical integer/boolean
    rules."""
    planted = ("""
               || CASE WHEN i = 0 AND doc_id % 23 = 0
                       THEN ' lorem ipsum' ELSE '' END
               || CASE WHEN i = 0 AND doc_id % 29 = 0
                       THEN ' { code }' ELSE '' END""" if plant else "")
    return f"""
    WITH d AS (
        SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w
        FROM documents WHERE length(text) > 0
    ),
    ln AS (
        SELECT doc_id, i,
               array_to_string(w[i * 8 + 1 : i * 8 + 8], ' '){planted}
               || CASE WHEN (doc_id + i) % 4 != 0 THEN '.' ELSE '' END
                   AS line
        FROM (SELECT doc_id, w,
                     unnest(generate_series(0,
                         CAST(ceil(len(w) / 8.0) AS BIGINT) - 1)) AS i
              FROM d)
    ),
    lk AS (
        SELECT doc_id, line,
               (line LIKE '%.' AND len(string_split(line, ' ')) >= 5)
                   AS kept,
               contains(line, 'lorem ipsum') AS lorem,
               contains(line, '{{') AS brace
        FROM ln
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept_lines,
           bool_or(lorem) AS has_lorem,
           bool_or(brace) AS has_brace,
           (sum(CASE WHEN kept THEN 1 ELSE 0 END) >= 3
            AND NOT bool_or(lorem) AND NOT bool_or(brace)) AS keep
    FROM lk GROUP BY doc_id
    """


def c4_doc_stats(lines: DataFrame) -> DataFrame:
    """The C4 cleaning RULES (Raffel et al. 2020 §2.2) over a
    (doc_id, line) table — the reusable operator: keep a line only if
    it ends in terminal punctuation AND has >= 5 words; drop any
    document containing 'lorem ipsum' or a curly brace (code), or with
    < 3 surviving lines. All counts exact integers, gates pure boolean
    algebra; one groupBy shuffle, no Python."""
    lk = lines.select(
        "doc_id",
        (F.col("line").endswith(".")
         & (F.size(F.split("line", " ")) >= 5)).alias("kept"),
        F.col("line").contains("lorem ipsum").alias("lorem"),
        F.col("line").contains("{").alias("brace"))
    return (lk.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_lines"),
                 F.sum(F.col("kept").cast("int")).cast("bigint")
                  .alias("n_kept_lines"),
                 F.max("lorem").alias("has_lorem"),
                 F.max("brace").alias("has_brace"))
            .select("doc_id", "n_lines", "n_kept_lines",
                    "has_lorem", "has_brace",
                    ((F.col("n_kept_lines") >= 3)
                     & ~F.col("has_lorem")
                     & ~F.col("has_brace")).alias("keep")))


def _c4_lines(spark: SparkSession, sf_dir: str, plant: bool) -> DataFrame:
    """Deterministic (doc_id, line) synthesis shared by both c4
    queries: the plain word-stream corpus has no lines or punctuation,
    so 8-word windows become lines and '.' is appended when
    (doc_id + line_idx) % 4 != 0. The demo variant additionally plants
    lorem/brace into line 0 of every 23rd/29th doc."""
    d = (t(spark, sf_dir, "documents").filter(F.length("text") > 0)
         .select("doc_id",
                 F.split(normalized_col("text"), " ").alias("w")))
    lines = d.select(
        "doc_id",
        F.posexplode(F.expr(
            "transform(sequence(0, CAST(ceil(size(w) / 8.0) AS INT) - 1),"
            " i -> array_join(slice(w, i * 8 + 1, 8), ' '))"))
         .alias("i", "line0"))
    parts = [F.col("line0")]
    if plant:
        parts += [
            F.when((F.col("i") == 0) & (F.col("doc_id") % 23 == 0),
                   F.lit(" lorem ipsum")).otherwise(""),
            F.when((F.col("i") == 0) & (F.col("doc_id") % 29 == 0),
                   F.lit(" { code }")).otherwise("")]
    parts.append(F.when((F.col("doc_id") + F.col("i")) % 4 != 0,
                        F.lit(".")).otherwise(""))
    return lines.select("doc_id", F.concat(*parts).alias("line"))


@query("c4_line_filters", oracle=_c4_oracle(plant=False))
def c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line/document cleaning rules (c4_doc_stats — the other
    canonical LLM-corpus filter set next to the Gopher gates) over the
    deterministically synthesized line table, WITHOUT demonstration
    plants: this registered query runs the clean rule operator; the
    lorem/brace document gates are exercised by c4_line_filters_demo
    (this corpus never contains them naturally)."""
    return c4_doc_stats(_c4_lines(spark, sf_dir, plant=False))


@query("c4_line_filters_demo", oracle=_c4_oracle(plant=True))
def c4_line_filters_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c4_line_filters over a DEMONSTRATION corpus: lorem ipsum and a
    curly brace planted into line 0 of every 23rd/29th doc so both
    document-drop rules provably fire in the oracle compare. The plant
    is fixture, not operator semantics — the registered clean twin is
    c4_line_filters."""
    return c4_doc_stats(_c4_lines(spark, sf_dir, plant=True))


# --- PII scrubbing (curation safety pass) -----------------------------------

# Java-regex / RE2 compatible (no lookahead, no backslash escapes —
# [.] instead of \. so the literals survive both engines verbatim)
_PII_EMAIL = "[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+"
_PII_IP = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
_PII_PHONE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

# deterministic PII plant, mirrored verbatim in the oracle: the
# synthetic corpus contains no PII at all, so (like c4's line
# synthesis) the fixture augmentation IS the only way the rules can
# fire — the RULES are the operator under test
_PII_AUG_SQL = """
    text || CASE WHEN doc_id % 13 = 0
                 THEN ' contact user' || CAST(doc_id % 97 AS VARCHAR)
                      || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com'
                 ELSE '' END
         || CASE WHEN doc_id % 17 = 0
                 THEN ' call 415-555-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 19 = 0
                 THEN ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.' || CAST(doc_id % 40 AS VARCHAR)
                 ELSE '' END
"""


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Detect-and-redact pass for the three canonical PII shapes a
    web-corpus curation pipeline masks before training (emails, NANP
    phone numbers, IPv4 addresses — the Dolma/C4-style scrub step):
    adds n_emails / n_phones / n_ips exact counts, a has_pii flag and
    the redacted text (<EMAIL>/<IP>/<PHONE> tokens, replaced in that
    fixed order). Pure JVM regex column expressions — no Python, no
    shuffle; scales as a map-only pass."""
    c = F.col(text_col)
    n_em = F.size(F.expr(
        f"regexp_extract_all({text_col}, '{_PII_EMAIL}', 0)"))
    n_ip = F.size(F.expr(
        f"regexp_extract_all({text_col}, '{_PII_IP}', 0)"))
    n_ph = F.size(F.expr(
        f"regexp_extract_all({text_col}, '{_PII_PHONE}', 0)"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, _PII_EMAIL, "<EMAIL>"),
            _PII_IP, "<IP>"),
        _PII_PHONE, "<PHONE>")
    return (df.withColumn("n_emails", n_em.cast("bigint"))
              .withColumn("n_phones", n_ph.cast("bigint"))
              .withColumn("n_ips", n_ip.cast("bigint"))
              .withColumn("has_pii",
                          (n_em + n_ph + n_ip) > 0)
              .withColumn("scrubbed", scrubbed))


@query(
    "pii_scrub",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id, ({_PII_AUG_SQL}) AS t
        FROM documents WHERE length(text) > 0
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT)
               AS n_phones,
           CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS BIGINT)
               AS n_ips,
           (len(regexp_extract_all(t, '{_PII_EMAIL}'))
            + len(regexp_extract_all(t, '{_PII_PHONE}'))
            + len(regexp_extract_all(t, '{_PII_IP}'))) > 0 AS has_pii,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IP}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g')) AS scrub_md5
    FROM aug
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (scrub_pii) over a deterministically
    PII-augmented corpus: emails / phones / IPs planted into every
    13th/17th/19th doc on BOTH engines — the raw synthetic corpus
    contains no PII whatsoever, so (exactly like c4's line synthesis)
    the augmentation is fixture, not operator semantics; the regex
    rules and the fixed replacement order are what's under test.
    Counts exact ints, redacted text compared by md5 (identical
    regex classes under Java regex and RE2 — no lookahead, [.] not
    backslash-dot)."""
    docs = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    aug = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 13 == 0, F.concat(
            F.lit(" contact user"),
            (F.col("doc_id") % 97).cast("string"),
            F.lit("@mail"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".com"))).otherwise(""),
        F.when(F.col("doc_id") % 17 == 0, F.concat(
            F.lit(" call 415-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")))
         .otherwise(""),
        F.when(F.col("doc_id") % 19 == 0, F.concat(
            F.lit(" from 192.168."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."), (F.col("doc_id") % 40).cast("string")))
         .otherwise(""))
    d = docs.select("doc_id", aug.alias("t"))
    out = scrub_pii(d, "t")
    return out.select("doc_id", "n_emails", "n_phones", "n_ips",
                      "has_pii", F.md5("scrubbed").alias("scrub_md5"))


# --- benchmark decontamination (n-gram overlap vs an eval set) --------------

_DECON_PHRASE_SQL = (
    "' benchmark anchor phrase number ' || CAST(doc_id % 5 AS VARCHAR)"
    " || ' alpha beta gamma delta epsilon'")


def _decon_gram8_sql(src: str) -> str:
    return f"""
        SELECT doc_id,
               md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                   || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' '
                   || w[i+6] || ' ' || w[i+7]) AS gh
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, len(w) - 7)) AS i
              FROM {src} WHERE len(w) >= 8)"""


@query(
    "decontaminate_ngrams",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(regexp_replace(lower(
                   text || CASE WHEN doc_id % 101 = 0 OR doc_id % 23 = 0
                                THEN {_DECON_PHRASE_SQL} ELSE '' END),
                   '[^a-z0-9一-龥 ]', '', 'g'), ' +', ' ', 'g')), ' ')
                   AS w
        FROM documents WHERE length(text) > 0
    ),
    g AS ({_decon_gram8_sql('aug')}),
    bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 101 = 0),
    corpus AS (SELECT doc_id, count(*) AS n_grams
               FROM g WHERE doc_id % 101 != 0 GROUP BY doc_id),
    hits AS (
        SELECT g.doc_id, count(*) AS n_hits,
               count(DISTINCT g.gh) AS n_hit_grams
        FROM g JOIN bench USING (gh)
        WHERE g.doc_id % 101 != 0
        GROUP BY g.doc_id
    )
    SELECT a.doc_id,
           CAST(coalesce(c.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
           coalesce(h.n_hits, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM aug WHERE doc_id % 101 != 0) a
    LEFT JOIN corpus c USING (doc_id)
    LEFT JOIN hits h USING (doc_id)
    """,
)
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination (the GPT-3/PaLM-style n-gram overlap
    scan every serious training corpus runs): flag corpus documents sharing
    any normalized 8-gram with a held-out benchmark set. Benchmark =
    docs with doc_id % 101 == 0; a shared anchor phrase is planted
    into the benchmark docs AND every 23rd corpus doc on BOTH engines
    (the synthetic corpus shares no 8-grams naturally — verified — so
    the plant is the fixture that makes leakage detectable).

    Scale shape: the benchmark's DISTINCT gram-hash set is tiny and
    BROADCAST (plan-gated); the corpus gram stream is a map-side
    explode joined without a shuffle of the fat side — exactly how
    production decontamination runs at 100 TB (eval sets are MBs,
    corpora are TBs). Counts exact ints; gram synthesis is O(words)
    per doc via element_at (no HOF-CSE trap)."""
    docs = (t(spark, sf_dir, "documents").filter(F.length("text") > 0))
    phrase = F.concat(
        F.lit(" benchmark anchor phrase number "),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(" alpha beta gamma delta epsilon"))
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when((F.col("doc_id") % 101 == 0)
                   | (F.col("doc_id") % 23 == 0), phrase)
             .otherwise("")).alias("t"))
    w = aug.select("doc_id",
                   F.split(normalized_col("t"), " ").alias("w"))
    grams = (w.filter(F.size("w") >= 8)
             .select("doc_id", F.explode(F.expr(
                 "transform(sequence(1, size(w) - 7), i -> md5(concat("
                 "element_at(w, i), ' ', element_at(w, i + 1), ' ', "
                 "element_at(w, i + 2), ' ', element_at(w, i + 3), ' ', "
                 "element_at(w, i + 4), ' ', element_at(w, i + 5), ' ', "
                 "element_at(w, i + 6), ' ', element_at(w, i + 7))))"))
                 .alias("gh")))
    bench = (grams.filter(F.col("doc_id") % 101 == 0)
             .select("gh").distinct())
    corpus_grams = grams.filter(F.col("doc_id") % 101 != 0)
    counts = corpus_grams.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"))
    hits = (corpus_grams.join(F.broadcast(bench), "gh")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_hits"),
                 F.countDistinct("gh").alias("n_hit_grams")))
    base = (w.filter(F.col("doc_id") % 101 != 0).select("doc_id"))
    return (base.join(counts, "doc_id", "left")
            .join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_grams", F.lit(0)).cast("bigint")
                     .alias("n_grams"),
                    F.coalesce("n_hits", F.lit(0)).cast("bigint")
                     .alias("n_hits"),
                    F.coalesce("n_hit_grams", F.lit(0)).cast("bigint")
                     .alias("n_hit_grams"),
                    (F.coalesce("n_hits", F.lit(0)) > 0)
                    .alias("contaminated")))


@query(
    "dedup_span_removal",
    oracle=f"""
    WITH {_dup_span_ctes()},
    cov AS (
        SELECT DISTINCT doc_id, pos FROM (
            SELECT doc2 AS doc_id,
                   unnest(generate_series(start2,
                                          start2 + span_words - 1)) AS pos
            FROM fspans)
    ),
    w AS (
        SELECT doc_id, unnest(generate_series(1, len(words))) AS pos,
               unnest(words) AS word
        FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words
              FROM documents WHERE length(text) > 0)
    )
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_removed,
           CAST(count(*) - sum(CASE WHEN c.pos IS NOT NULL
                                    THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           md5(coalesce(string_agg(w.word, ' ' ORDER BY w.pos)
                            FILTER (c.pos IS NULL), '')) AS kept_md5
    FROM w LEFT JOIN cov c
      ON c.doc_id = w.doc_id AND c.pos = w.pos
    GROUP BY w.doc_id
    """,
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of Lee-et-al. span dedup (the paper deletes
    one copy of every duplicated substring; duplicate_span_pairs only
    detects them): spans land on the higher-id document, covered word
    positions union, and the surviving stream is rebuilt — closing the
    detect -> remove loop as one DAG (operators.dedup.
    remove_duplicate_spans). Exact integer counts per document and an
    md5 of the rebuilt text (position-ordered on both engines); docs
    without spans pass through with n_removed = 0."""
    from my_ocr_spark.operators.dedup import remove_duplicate_spans

    d = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    return remove_duplicate_spans(d, "doc_id", "text")


@query(
    "sequence_pack_greedy",
    oracle="""
    WITH RECURSIVE seq AS MATERIALIZED (
        SELECT source, doc_id // 200 AS shard, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               row_number() OVER (PARTITION BY source, doc_id // 200
                                  ORDER BY doc_id) AS rn
        FROM documents WHERE length(text) > 0
    ),
    pack AS (
        SELECT source, shard, rn, doc_id, n_tok,
               CAST(1 AS BIGINT) AS pack_id, n_tok AS fill
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.source, s.shard, s.rn, s.doc_id, s.n_tok,
               CASE WHEN p.fill + s.n_tok <= 512
                    THEN p.pack_id ELSE p.pack_id + 1 END,
               CASE WHEN p.fill + s.n_tok <= 512
                    THEN p.fill + s.n_tok ELSE s.n_tok END
        FROM pack p
        JOIN seq s ON s.source = p.source AND s.shard = p.shard
                  AND s.rn = p.rn + 1
    )
    SELECT source, CAST(shard AS BIGINT) AS shard, doc_id, n_tok,
           pack_id
    FROM pack
    """,
)
def sequence_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing — the capacity-reset scan that groups
    documents into fixed-token training windows (the pre-tokenizer
    packing step of every LLM data pipeline): within each output shard
    (source, doc_id // 200), docs in doc_id order join the current
    pack while fill + n_tok <= 512, else open a new pack; oversize
    docs get solo packs. Sequential state per shard -> one grouped map
    per (source, shard) — shards are the parallel unit exactly as a
    production writer packs its own output shard, so the scan
    parallelizes with data size while each pack stays deterministic.
    Oracle: the same scan as a depth-bounded recursive CTE advancing
    one document per iteration per shard. Counts exact ints."""
    from my_ocr_spark.operators.packing import greedy_pack

    d = (t(spark, sf_dir, "documents").filter(F.length("text") > 0)
         .select("source", F.expr("doc_id div 200")
                 .alias("shard"), "doc_id",
                 F.size(F.split("text", " ")).cast("bigint")
                 .alias("n_tok")))
    return greedy_pack(d, capacity=512)

