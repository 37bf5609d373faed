"""Deduplication operators for the training-data pipeline:

* exact dedup — md5 fingerprint of normalized text, hash groupBy
* n-gram Jaccard — exact set similarity via inverted-index self-join
  (scales: the join key is the shingle, pairs sharing >=1 shingle are a
  superset of pairs with J>0, so the result is exact, not approximate)
* MinHash + LSH banding — signature via one batch-level Python stage over
  the pure kernel, candidate pairs via band-hash self-join
* SimHash — 64-bit signature, 4x16-bit band join → hamming<=3 candidates

The reference has no dedup surface; these are the web-scale additions the
north_star calls for (trained-data pipeline ops), built on the same
kernel/textstats primitives as the extraction engine.
"""

from __future__ import annotations

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window, functions as F, types as T

from my_ocr_spark.kernel import textstats as ts
from my_ocr_spark.session import map_batches, map_rows, spread_small_scan

# portable normalization used on BOTH engines (same regex in oracle SQL)
NORMALIZE_RE = "[^a-z0-9一-龥 ]"


def normalized_col(col: str):
    return F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col(col)), NORMALIZE_RE, ""),
        " +", " "))


def fingerprint_docs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fp) — md5 of normalized text; identical to
    textstats.fingerprint and to the DuckDB oracle expression."""
    return df.select(F.col(id_col),
                     F.md5(normalized_col(text_col)).alias("fp"))


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup map: fingerprint → group size + representative (min id).
    One shuffle on the fingerprint; representative choice deterministic."""
    fp = fingerprint_docs(df, id_col, text_col)
    return fp.groupBy("fp").agg(
        F.count("*").alias("n_dups"),
        F.min(id_col).alias("keep_id"),
    )


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 1, threshold: float = 0.5,
                        df_cap: int | None = 64) -> DataFrame:
    """Exact n-gram Jaccard duplicate pairs via inverted-index self-join.

    Stages: distinct shingles per doc (narrow) → document-frequency cap →
    per-doc set size → self-join on shingle (shuffle keyed by shingle) →
    count shared → J = shared/(|A|+|B|-shared). Exact over the capped
    shingle universe because any pair with J>0 shares >=1 surviving
    shingle and therefore appears in the join.

    ``df_cap`` is the scale guard (enforced, not advisory): a shingle in
    more than ``df_cap`` docs contributes df² rows to the self-join — on
    templated/boilerplate corpora that is the quadratic blow-up. Capped
    shingles are dropped from BOTH the join and the per-doc sizes, so the
    result is the exact Jaccard over discriminating shingles only; a
    shingle shared by >cap documents carries ~zero near-dup signal.
    On the fixture corpora max df << 64, so the capped result is
    byte-identical to the uncapped oracle (asserted by the driver
    compare); the skew bound itself is pytest-checked with a synthetic
    1-shingle-in-1000-docs corpus.
    """
    df = df.select(F.col(id_col), F.col(text_col))
    if n == 1:
        words = F.split(normalized_col(text_col), " ")
        sh = spread_small_scan(df).select(
            F.col(id_col).alias("doc"),
            F.explode(F.array_distinct(words)).alias("shingle"))
    else:
        # n-gram shingles in the per-row Python stage over the kernel.
        # The declarative alternative — transform(sequence(...),
        # i -> array_join(slice(words, i+1, n))) — re-evaluates the
        # normalization+split per lambda element (no CSE through
        # higher-order functions): measured 14.6 s vs <2 s for 5k docs.
        # Still narrow: shingles stay in their document's partition.
        def word_shingle_rows(doc, text):
            for s in ts.word_shingles(text or "", k=n):
                yield doc, s

        sh = map_rows(df, word_shingle_rows,
                      "doc bigint not null, shingle string not null")
    sh = sh.filter(F.col("shingle") != "")
    # Postings-list inverted index: ONE aggregation keyed by shingle
    # carries both df and the (sorted) posting list. Pairs explode from
    # postings with df<=cap, so pair fan-out per shingle is bounded by
    # cap^2/2; a shingle's in-aggregation buffer is the residual skew
    # cost (8B*df before the filter drops it; Spark's sort-based collect
    # fallback spills groups to disk rather than OOM).
    #
    # postings feeds THREE consumers (pairs, sizes->s1, sizes->s2) whose
    # column pruning makes the exchange subtrees non-identical, so
    # Spark's ReuseExchange does NOT fire (verified) and the shingle
    # generation re-runs per consumer. Persisting postings is the
    # materialization point for that: lazy (the query contract stays
    # action-free), disk-backed, LRU-evicted. A/B history: at sf0.1
    # (fresh JVMs, single cold run) persist LOST — 10.6 s vs 7.7 s —
    # because cache serialization of the docs arrays costs more than
    # recomputing the narrow gen; at sf1.0 the tradeoff FLIPS as the
    # original note predicted (same-session A/B, best-of-2 fresh plans:
    # 3.7-5.8 s unpersisted vs 2.1-2.6 s persisted — three full
    # shingle-gen passes vs one disk-backed postings table), so the
    # postings are always persisted; persisting the pre-agg shingle
    # rows too was within noise of postings-only and pins twice the
    # memory. Callers processing many corpora in one session should
    # unpersist via spark.catalog.clearCache between corpora (same note
    # as the LSH band-row cache below).
    postings = (sh.groupBy("shingle")
                  .agg(F.count("*").alias("df_"),
                       F.sort_array(F.collect_list("doc")).alias("docs")))
    if df_cap is not None:
        postings = postings.filter(F.col("df_") <= df_cap)
    postings = postings.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = (postings.select(F.explode("docs").alias("doc"))
                     .groupBy("doc").agg(F.count("*").alias("sz")))
    pairs = (postings.filter(F.col("df_") >= 2)
             .select(F.explode(F.expr(
                 "flatten(transform(docs, (d1, i) ->"
                 " transform(slice(docs, i + 2, size(docs)),"
                 "  d2 -> struct(d1 AS doc1, d2 AS doc2))))")).alias("p"))
             .select("p.doc1", "p.doc2"))
    shared = (pairs.groupBy("doc1", "doc2")
                   .agg(F.count("*").alias("shared")))
    s1 = sizes.select(F.col("doc").alias("doc1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc").alias("doc2"), F.col("sz").alias("sz2"))
    j = (shared.join(s1, "doc1").join(s2, "doc2")
         .withColumn("jaccard",
                     F.col("shared").cast("double")
                     / (F.col("sz1") + F.col("sz2") - F.col("shared"))))
    return (j.filter(F.col("jaccard") > threshold)
             .select("doc1", "doc2", "shared", "sz1", "sz2", "jaccard"))


_SIG_SCHEMA = T.StructType([
    T.StructField("doc", T.LongType(), False),
    T.StructField("band", T.IntegerType(), False),
    T.StructField("band_hash", T.LongType(), False),
])


def minhash_band_rows(df: DataFrame, id_col: str, text_col: str,
                      num_perm: int = 32, bands: int = 8,
                      shingle_k: int = 3) -> DataFrame:
    """(doc, band, band_hash) rows — MinHash signature banded for LSH.

    Signature computed in one batch-level Python stage over the pure
    kernel (md5-based, deterministic across executors); banding turns
    near-dup detection into an equi-join. rows_per_band = num_perm // bands.
    """
    memo: dict = {}  # per-task shingle-hash cache, across batches

    def minhash_bands(ids, texts):
        shingle_lists = [ts.word_shingles(t or "", k=shingle_k)
                         for t in texts]
        # whole batch vectorized: one (P, S_total) numpy transform,
        # distinct shingles md5-hashed once (memoized across batches)
        sigs = ts.minhash_signatures_batch(shingle_lists, num_perm,
                                           _memo=memo)
        # band bucket keys: one vectorized affine fold per batch
        # (was a per-doc×band python md5 loop)
        bh = ts.band_hashes(sigs, bands)
        return (np.repeat(ids, bands),
                np.tile(np.arange(bands, dtype=np.int32), len(sigs)),
                bh.reshape(-1))

    return map_batches(spread_small_scan(df.select(id_col, text_col)),
                       minhash_bands, _SIG_SCHEMA)


def minhash_lsh_candidates(df: DataFrame, id_col: str, text_col: str,
                           num_perm: int = 32, bands: int = 8,
                           shingle_k: int = 3,
                           bucket_cap: int | None = 512) -> DataFrame:
    """Candidate near-dup pairs: docs sharing >=1 LSH band bucket.
    Shuffle keyed on (band, band_hash).

    The band rows are cached (see below): callers processing many
    corpora in one long-lived session should call
    ``spark.catalog.clearCache()`` between corpora — the cache is keyed
    on the input plan, so each distinct corpus otherwise pins a new
    entry for the session lifetime.

    ``bucket_cap`` is the enforced skew bound: a (band, band_hash) bucket
    of n docs yields n² candidate rows — identical boilerplate pages form
    mega-buckets that would dominate the join at corpus scale. Buckets
    larger than the cap are dropped before the self-join (anti-join on
    the tiny hot-bucket set): their members are byte-near-identical and
    are caught by exact dedup / other bands; pair recall for genuinely
    distinct near-dups is unaffected on the fixtures (cap >> any fixture
    bucket, asserted in tests)."""
    rows = minhash_band_rows(df, id_col, text_col, num_perm, bands, shingle_k)
    # lazily cache the band rows (long+int+long per row — ~20 B): they
    # feed the hot-bucket agg, the anti-join probe side, AND both sides
    # of the self-join below. Without the cache the full-corpus
    # signature pass (the expensive Python stage) appears FOUR times in
    # the physical plan with zero exchange reuse (pruned copies differ,
    # so ReuseExchange never fires) — measured at sf1.0: 14.9 s -> 8.4 s
    # warm. Unlike ngram postings (the postings note above), these
    # rows are scalar columns, so cache serialization is cheap.
    # Measured at sf1.0: 14.9-19.7 s -> 5.8 s first call (and repeat
    # calls hit Spark's plan-keyed cache at 1.5 s). At corpus scale the
    # cached relation is ~20 B x bands per multi-KB document (<3% of
    # corpus bytes, MEMORY_AND_DISK spills) vs FOUR signature passes
    # over the full text — the same trade minhash_then_verify makes.
    rows = rows.persist(StorageLevel.MEMORY_AND_DISK)
    if bucket_cap is not None:
        hot = (rows.groupBy("band", "band_hash")
                   .agg(F.count("*").alias("n_"))
                   .filter(F.col("n_") > bucket_cap)
                   .select("band", "band_hash"))
        rows = rows.join(F.broadcast(hot), ["band", "band_hash"],
                         "left_anti")
    a = rows.alias("a")
    b = rows.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_hash") == F.col("b.band_hash"))
                   & (F.col("a.doc") < F.col("b.doc")))
            .select(F.col("a.doc").alias("doc1"),
                    F.col("b.doc").alias("doc2"))
            .distinct())


_HASHSET_SCHEMA = T.StructType([
    T.StructField("doc", T.LongType(), False),
    T.StructField("hs", T.ArrayType(T.LongType(), False), False),
])


def shingle_hash_sets(df: DataFrame, id_col: str, text_col: str,
                      shingle_k: int = 3) -> DataFrame:
    """(doc, hs) — the doc's distinct shingle set as sorted md5-int64
    hashes. The narrow verify-side representation: ~8 B per shingle,
    set ops become JVM array intersects, and the fat text column never
    crosses a pair join."""
    memo: dict = {}

    def shingle_hash_set(doc, text):
        hs = set()
        for s in ts.word_shingles(text or "", k=shingle_k):
            v = memo.get(s)
            if v is None:
                v = ts._md5_int64(s)
                if len(memo) < 2_000_000:
                    memo[s] = v
            hs.add(v)
        yield doc, sorted(hs)

    return map_rows(df.select(id_col, text_col), shingle_hash_set,
                    _HASHSET_SCHEMA)


def minhash_then_verify(df: DataFrame, id_col: str, text_col: str,
                        threshold: float = 0.7, num_perm: int = 32,
                        bands: int = 8, shingle_k: int = 3) -> DataFrame:
    """The standard scalable near-dup pipeline: MinHash-LSH candidates →
    exact Jaccard verification of ONLY the candidate pairs.

    LSH bounds the candidate count (vs the corpus-quadratic exact join);
    the verify join computes exact set Jaccard from precomputed per-doc
    shingle-HASH arrays — the fat text column never crosses the pair
    shuffle, and the intersect is a JVM array op (no Python in the
    verify stage at all). Every emitted pair is truly >= threshold
    (no false positives modulo 64-bit hash collisions; false negatives
    bounded by the banding curve: P[miss] = (1 - J^r)^b,
    r=num_perm/bands)."""
    cands = minhash_lsh_candidates(df, id_col, text_col, num_perm, bands,
                                   shingle_k)
    # lazily cache the candidate pairs (2 longs/row — cheap): they feed
    # the output join AND both hash-set semi-joins below; without the
    # cache the whole LSH subtree (a full-corpus signature pass) would
    # execute once per consumer (no ReuseExchange across pruned copies)
    cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
    cand_ids = (cands.select(F.col("doc1").alias("_cid"))
                .union(cands.select(F.col("doc2").alias("_cid")))
                .distinct())
    # hash sets only for docs that appear in a candidate pair — in the
    # normal LSH regime candidates << corpus, so the shingle+md5 pass
    # here is tiny (the old version hashed every corpus doc, twice).
    # Spread the scan before the semi-join: spread_small_scan leaves a
    # plan holding the broadcast as it is
    src = spread_small_scan(df.select(id_col, text_col))
    docs = src.join(F.broadcast(cand_ids),
                    src[id_col] == F.col("_cid"), "left_semi")
    hs = shingle_hash_sets(docs, id_col, text_col, shingle_k)
    h1 = hs.select(F.col("doc").alias("doc1"), F.col("hs").alias("_hs1"))
    h2 = hs.select(F.col("doc").alias("doc2"), F.col("hs").alias("_hs2"))
    inter = F.size(F.array_intersect("_hs1", "_hs2"))
    union = F.size("_hs1") + F.size("_hs2") - inter
    jac = (F.when(union == 0, F.lit(1.0))
            .otherwise(inter.cast("double") / union))
    return (cands.join(h1, "doc1").join(h2, "doc2")
                 .withColumn("jaccard", jac)
                 .filter(F.col("jaccard") >= threshold)
                 .select("doc1", "doc2", "jaccard"))


_SIMHASH_SCHEMA = T.StructType([
    T.StructField("doc", T.LongType(), False),
    T.StructField("simhash", T.LongType(), False),
])


def simhash_docs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    def simhash(doc, text):
        yield doc, ts.simhash64(text or "")

    return map_rows(df.select(id_col, text_col), simhash, _SIMHASH_SCHEMA)


def simhash_near_dups(df: DataFrame, id_col: str, text_col: str,
                      max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: 4x16-bit bands guarantee any pair with
    hamming<=3 shares a band (pigeonhole); exact hamming verify after the
    band join. Classic Manku/Google simhash dedup layout.

    The simhash rows are cached (same contract as the band rows of
    minhash_lsh_candidates — call ``spark.catalog.clearCache()``
    between corpora in long-lived sessions)."""
    sh = simhash_docs(df, id_col, text_col)
    # two longs per doc, but the Python stage above runs simhash64 over
    # every document's full text — and the self-join below otherwise
    # executes that pass TWICE (pruned copies, no ReuseExchange; same
    # recompute class as minhash_lsh_candidates, measured there 2.6x)
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    banded = sh.select(
        "doc", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftright("simhash", i * 16)
                      .bitwiseAND(F.lit(0xFFFF)).alias("chunk"))
            for i in range(4)
        ])).alias("b"),
    ).select("doc", "simhash", "b.band", "b.chunk")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.chunk") == F.col("b.chunk"))
                    & (F.col("a.doc") < F.col("b.doc")))
             .select(F.col("a.doc").alias("doc1"),
                     F.col("b.doc").alias("doc2"),
                     F.col("a.simhash").alias("h1"),
                     F.col("b.simhash").alias("h2"))
             .distinct())
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (pairs.withColumn("hamming", hamming)
                 .filter(F.col("hamming") <= max_hamming)
                 .select("doc1", "doc2", "hamming"))


def duplicate_spans(df: DataFrame, id_col: str, text_col: str,
                    gram_width: int = 5, df_cap: int = 16,
                    min_grams: int = 2) -> DataFrame:
    """Exact duplicated-substring spans across documents (Lee et al.
    2022, 'Deduplicating Training Data Makes Language Models Better' —
    the suffix-array pass, done as a postings join): ``gram_width``-word
    gram hashes with positions → inverted index → cross-doc match pairs
    → maximal shared spans via the diagonal gaps-and-islands recurrence
    (matches with constant p1-p2 and consecutive p1 merge). Emits spans
    of >= ``min_grams`` overlapping grams, i.e. >= min_grams +
    gram_width - 1 shared words.

    ``df_cap`` is the enforced quadratic-blow-up guard (default 16,
    deliberately tighter than ngram_jaccard's 64: every surviving
    posting fans out per-POSITION pairs, not per-doc): a gram appearing
    in more than ``df_cap`` positions corpus-wide is boilerplate and is
    dropped from the index, so pair fan-out per gram is bounded by
    cap²/2. ``gram_width`` trades recall floor for index size — wider
    grams mean fewer, more discriminating postings. Both are the knobs
    a 100 TB caller tunes (cap up on diverse corpora, width up on
    templated ones); the skew bound is pytest-checked with a synthetic
    hot-gram corpus. Cost: one shuffle on the gram hash, one on the
    (doc1, doc2, diagonal) span key.
    """
    # gram hashing in the per-row Python stage over the kernel
    # normalizer (the exact oracle twin, same path ngram shingles use).
    # The previous JVM form — posexplode(transform(sequence(...),
    # i -> md5(array_join(slice(words, i, W), ' ')))) — runs the lambda
    # INTERPRETED (higher-order functions are outside whole-stage
    # codegen, CLAUDE.md invariant 5) and allocates a slice array per
    # gram: measured 3.2 s of the query's 4.2 s at sf1.0 (2.5M grams,
    # ~25k grams/s/core). The Python loop + hashlib.md5 does the same
    # work in ~0.5 s. The key is the raw 16-byte md5 digest — injective
    # with the oracle's md5-hex string, so grouping/join behavior is
    # identical (verified hash-exact at sf0.01/0.1/1.0) and the shuffle
    # key is half the bytes of the hex form.
    import hashlib

    md5 = hashlib.md5
    norm = ts.normalize_for_fingerprint

    def gram_hashes(doc, text):
        words = norm(text or "").split()
        # JVM split("") yields [''] (size 1 < gram_width): both forms
        # drop docs shorter than gram_width words (empty range here)
        for i in range(len(words) - gram_width + 1):
            yield doc, i + 1, md5(
                " ".join(words[i:i + gram_width]).encode()).digest()

    h = map_rows(df.select(id_col, text_col), gram_hashes,
                 "doc_id bigint not null, pos bigint not null, "
                 "gh binary not null")
    # no sort: the postings list is exploded immediately and every
    # downstream agg / the driver compare is order-insensitive
    post = (h.groupBy("gh")
             .agg(F.count("*").alias("df"),
                  F.collect_list(F.struct("doc_id", "pos")).alias("docs"))
             .filter((F.col("df") >= 2) & (F.col("df") <= df_cap)))
    a = post.select("gh", F.explode("docs").alias("a"))
    pairs = (a.alias("x").join(a.alias("y"), "gh")
             .filter(F.col("x.a.doc_id") < F.col("y.a.doc_id"))
             .select(F.col("x.a.doc_id").alias("doc1"),
                     F.col("x.a.pos").alias("p1"),
                     F.col("y.a.doc_id").alias("doc2"),
                     F.col("y.a.pos").alias("p2")))
    win = Window.partitionBy("doc1", "doc2",
                             F.col("p1") - F.col("p2")).orderBy("p1")
    isl = pairs.withColumn("grp", F.col("p1") - F.row_number().over(win))
    return (isl.groupBy("doc1", "doc2", (F.col("p1") - F.col("p2")), "grp")
            .agg(F.min("p1").alias("start1"), F.min("p2").alias("start2"),
                 F.count("*").alias("n_grams"),
                 (F.count("*") + gram_width - 1).alias("span_words"))
            .filter(F.col("n_grams") >= min_grams)
            .select("doc1", "doc2", "start1", "start2",
                    "n_grams", "span_words"))


def remove_duplicate_spans(df: DataFrame, id_col: str, text_col: str,
                           gram_width: int = 5, df_cap: int = 16,
                           min_grams: int = 2) -> DataFrame:
    """The REMOVAL half of Lee-et-al. span dedup: for every span
    detected by ``duplicate_spans``, delete the copy in the HIGHER-id
    document (doc2) — the deterministic keep-first rule — and rebuild
    the surviving word stream. Overlapping spans union their covered
    positions. Returns one row per document (normalized word stream):
    (doc_id, n_words, n_removed, n_kept, kept_md5).

    Scale shape: the covered-position set is a narrow (doc_id, pos)
    explode of the span table (spans are rare by construction — df_cap
    bounds the index), one distinct + one left join against the word
    stream, one per-doc agg; the fat text never joins anything."""
    spans = duplicate_spans(df, id_col, text_col, gram_width=gram_width,
                            df_cap=df_cap, min_grams=min_grams)
    covered = (spans.select(
        F.col("doc2").alias("doc_id"),
        F.explode(F.expr("sequence(start2, start2 + span_words - 1)"))
         .alias("pos"))
        .distinct()
        .withColumn("cov", F.lit(1)))
    words = (df.select(F.col(id_col).alias("doc_id"),
                       F.split(normalized_col(text_col), " ")
                        .alias("words"))
             .select("doc_id",
                     F.posexplode("words").alias("pos0", "word"))
             .select("doc_id", (F.col("pos0") + 1).alias("pos"), "word"))
    marked = words.join(covered, ["doc_id", "pos"], "left")
    kept_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.when(F.col("cov").isNull(),
                       F.struct("pos", "word")))),
            lambda s: s["word"]), " ")
    return (marked.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_words"),
                 F.sum(F.coalesce("cov", F.lit(0))).cast("bigint")
                  .alias("n_removed"),
                 F.md5(kept_text).alias("kept_md5"))
            .select("doc_id", "n_words", "n_removed",
                    (F.col("n_words") - F.col("n_removed"))
                    .cast("bigint").alias("n_kept"), "kept_md5"))
