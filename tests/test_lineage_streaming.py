"""Lineage/resume semantics (injected mid-job interruption) and the
Structured Streaming wrapper."""

import os

import pyspark.sql.functions as F

from my_ocr_spark.operators.lineage import (
    completed_buckets, lineage_rows, read_lineage_manifests,
    write_with_lineage,
)


def test_lineage_rows_cover_all_docs(spark, docs_df):
    rows = lineage_rows(docs_df).collect()
    assert sum(r["doc_count"] for r in rows) == docs_df.count()
    assert all(r["byte_count"] > 0 for r in rows)


def test_lineage_checksum_detects_mutation(spark, docs_df):
    one = docs_df.coalesce(1)
    base = lineage_rows(one).collect()[0]
    mutated = one.withColumn(
        "text", F.when(F.col("url").endswith("/p/1"),
                       F.concat(F.col("text"), F.lit("!")))
                 .otherwise(F.col("text")))
    after = lineage_rows(mutated).collect()[0]
    assert base["checksum"] != after["checksum"]
    assert base["doc_count"] == after["doc_count"]


def test_write_with_lineage_resume(spark, docs_df, tmp_path):
    out = str(tmp_path / "sink")
    df = docs_df.select("url", "warc_ts", "text", "lang")
    # full run
    r1 = write_with_lineage(df, out, n_buckets=4)
    assert sorted(r1["written"]) == [0, 1, 2, 3] and r1["skipped"] == []
    total = spark.read.parquet(out).count()
    assert total == df.count()
    # simulate mid-job kill: delete two bucket manifests (data may be
    # partial or stale — resume must rewrite exactly those buckets)
    for b in (1, 3):
        os.remove(os.path.join(out, "_lineage", f"bucket={b}.json"))
    assert completed_buckets(out) == {0, 2}
    r2 = write_with_lineage(df, out, n_buckets=4)
    assert sorted(r2["written"]) == [1, 3] and sorted(r2["skipped"]) == [0, 2]
    # idempotent: same rows, same manifests
    assert spark.read.parquet(out).count() == df.count()
    manifests = {m["bucket"]: m for m in read_lineage_manifests(out)}
    assert set(manifests) == {0, 1, 2, 3}
    assert sum(m["doc_count"] for m in manifests.values()) == df.count()
    # every manifest, resumed or not, describes its bucket's data on disk
    back = {r["_bucket"]: {"bucket": r["_bucket"], "doc_count": r["n"],
                           "byte_count": r["bytes"], "checksum": r["fold"]}
            for r in spark.read.parquet(out).groupBy("_bucket").agg(
                F.count("*").alias("n"),
                F.sum(F.octet_length("text")).alias("bytes"),
                F.expr("bit_xor(xxhash64(url, text))").alias("fold"))
            .collect()}
    assert manifests == back
    # third run: everything skipped
    r3 = write_with_lineage(df, out, n_buckets=4)
    assert r3["written"] == []


def test_write_with_lineage_leaves_session_conf(spark, tmp_path):
    """Dynamic partition overwrite is a writer option: a session-wide
    setting would make every later overwrite-by-partition write of the
    session keep stale partitions."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        df = spark.createDataFrame([("u1", "a"), ("u2", "b")],
                                   "url string, text string")
        write_with_lineage(df, str(tmp_path / "sink"), n_buckets=2)
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, before)


def test_write_with_lineage_cost_flat_in_buckets(spark, docs_df, tmp_path):
    """The commit runs the same Spark jobs at 2 and at 16 buckets, and
    adds no persisted RDD in either of two sequential corpora. Only
    additions count: RDDs other tests of this session left persisted
    are not its own, and the context cleaner may drop them mid-test."""
    sc = spark.sparkContext
    df = docs_df.select("url", "text")

    def cached():
        return set(sc._jsc.getPersistentRDDs().keys())
    others = cached()

    def run(corpus, n_buckets, tag):
        group = f"lineage-cost-{tag}"
        sc.setJobGroup(group, group)
        try:
            stats = write_with_lineage(corpus, str(tmp_path / tag),
                                       n_buckets=n_buckets)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert stats["written"] == list(range(n_buckets))
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert not (cached() - others), tag
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs_2 = run(df, 2, "a2")
    jobs_16 = run(df, 16, "a16")
    assert jobs_2 == jobs_16 > 0
    assert run(df.filter(F.col("url").endswith("1")), 16, "b16") == jobs_16


def test_streaming_extract_matches_batch(spark, docs_df, tmp_path):
    from my_ocr_spark.streaming import streaming_extract
    from my_ocr_spark.operators.extract import extract_docs

    src = str(tmp_path / "stream_src")
    docs_df.write.parquet(src)
    sdf = streaming_extract(spark, src, max_files_per_trigger=2)
    assert sdf.isStreaming
    q = (sdf.writeStream.format("memory").queryName("ext_stream")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["url"] + "|" + str(r["warc_ts"]): r["text"]
           for r in spark.sql("select url, warc_ts, text "
                              "from ext_stream").collect()}
    want = {r["url"] + "|" + str(r["warc_ts"]): r["text"]
            for r in extract_docs(docs_df).select("url", "warc_ts",
                                                  "text").collect()}
    assert got == want  # streaming output byte-identical to batch


def test_windowed_event_agg_batch_mode(spark):
    import datetime as dt
    from my_ocr_spark.streaming import windowed_event_agg

    rows = [(dt.datetime(2024, 1, 1, h, m), "click", 1.0)
            for h in (0, 1) for m in (5, 55)]
    df = spark.createDataFrame(rows, ["ts", "event_type", "value"])
    out = windowed_event_agg(df).collect()
    assert {(r["window_start"].hour, r["n"]) for r in out} == {(0, 2), (1, 2)}


def test_session_window_stream_matches_batch(spark, tmp_path):
    """session_event_agg under readStream/availableNow produces the same
    closed sessions as the batch run of the same expression (and the
    batch expression is oracle-verified by session_window_native)."""
    import datetime as dt

    from my_ocr_spark.streaming import session_event_agg

    base = dt.datetime(2024, 1, 1)
    closer = base + dt.timedelta(days=1)  # pushes the watermark forward
    rows = []
    for u in range(5):
        # two sessions per user: a burst, a >=30min gap, another burst
        for m in (0, 5, 10):
            rows.append((u, base + dt.timedelta(minutes=m + u), 1.0))
        for m in (90, 95):
            rows.append((u, base + dt.timedelta(minutes=m + u), 1.0))
        rows.append((u, closer, 1.0))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    src = str(tmp_path / "sess_src")
    df.write.parquet(src)

    batch = {(r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
             for r in session_event_agg(df, watermark="0 seconds").collect()}
    closed = {k: v for k, v in batch.items() if k[1] < closer}
    assert len(batch) == 15 and len(closed) == 10  # 3 sessions x 5 users
    assert set(closed.values()) == {2, 3}

    stream = (spark.readStream.schema(df.schema).parquet(src))
    q = (session_event_agg(stream, watermark="0 seconds")
         .writeStream.format("memory").queryName("sess_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
           for r in spark.sql("select * from sess_stream").collect()}
    # append mode emits exactly the sessions whose end precedes the final
    # watermark (the day-later closer burst stays open and unemitted) —
    # and those match the batch computation exactly
    assert got == closed
