"""CLI entrypoints — the analog of the reference's tools/ scripts
(``tools/test.py``, ``tools/det_test_imgs.py`` etc.), spark-submit-ready:

    spark-submit --py-files my_ocr_spark.zip -m my_ocr_spark extract ...
    python -m my_ocr_spark extract --input docs.parquet --output out/
    python -m my_ocr_spark blocks  --input docs.parquet --output out/
    python -m my_ocr_spark dedup   --input docs.parquet --output out/
    python -m my_ocr_spark curate  --input docs.parquet --output out/

The extract sink is deterministic (sortWithinPartitions by url — Spark
relations are unordered, SURVEY.md §4.3) and lineage-committed
(resumable; see operators/lineage.py).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="my_ocr_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    def common(p):
        p.add_argument("--input", required=True,
                       help="parquet path with (url, warc_ts, html, text, lang)")
        p.add_argument("--output", required=True)
        p.add_argument("--master", default=None)
        p.add_argument("--buckets", type=int, default=16)

    for name in ("extract", "blocks", "dedup", "vis", "curate"):
        common(sub.add_parser(name))
    sub.choices["extract"].add_argument("--no-resume", action="store_true")
    sub.choices["vis"].add_argument("--n", type=int, default=10)
    sub.choices["vis"].add_argument("--mode", choices=("text", "html"),
                                    default="text")

    args = ap.parse_args(argv)

    from my_ocr_spark.session import get_spark
    from my_ocr_spark.sources.catalog import read_table

    spark = get_spark(app_name=f"my_ocr_spark-{args.cmd}",
                      master=args.master)
    docs = read_table(spark, args.input)

    if args.cmd == "extract":
        from my_ocr_spark.operators.extract import (extract_docs,
                                                    latest_snapshot)
        from my_ocr_spark.operators.lineage import write_with_lineage

        out = (extract_docs(latest_snapshot(docs))
               .sortWithinPartitions("url"))
        stats = write_with_lineage(out, args.output, key_col="url",
                                   payload_col="text",
                                   n_buckets=args.buckets,
                                   resume=not args.no_resume)
        print(json.dumps({"cmd": "extract", **stats}))
    elif args.cmd == "blocks":
        from my_ocr_spark.operators.extract import explode_blocks

        explode_blocks(docs).write.mode("overwrite").parquet(args.output)
        print(json.dumps({"cmd": "blocks", "output": args.output}))
    elif args.cmd == "dedup":
        from my_ocr_spark.operators.dedup import exact_dup_groups

        (exact_dup_groups(docs, "url", "text")
         .write.mode("overwrite").parquet(args.output))
        print(json.dumps({"cmd": "dedup", "output": args.output}))
    elif args.cmd == "curate":
        # the end-to-end curation DAG over a REAL page table: extract →
        # script detect → exact dedup (canonical = min url) → quality
        # gate → keep decision. Same stages as corpus_curation_pipeline,
        # over the CLI input instead of the synthesized fixture.
        from pyspark.sql import Window, functions as F

        from my_ocr_spark.operators.dedup import normalized_col
        from my_ocr_spark.operators.extract import (extract_docs,
                                                    latest_snapshot)

        ex = extract_docs(latest_snapshot(docs)).select(
            "url", "text", "parse_ok")
        feat = ex.select(
            "url", "text", "parse_ok",
            F.md5(normalized_col("text")).alias("fp"),
            F.size(F.split("text", " ")).cast("bigint").alias("n_words"))
        wfp = Window.partitionBy("fp")
        dd = feat.select(
            "url", "text", "n_words",
            F.count("*").over(wfp).cast("bigint").alias("dup_n"),
            (F.col("url") == F.min("url").over(wfp)).alias("is_canonical"),
            "parse_ok")
        out = dd.withColumn(
            "keep", F.col("parse_ok") & F.col("is_canonical")
            & (F.col("n_words") >= 30))
        (out.sortWithinPartitions("url").write.mode("overwrite")
            .parquet(args.output))
        # counts from the written files: counting `out` would re-run
        # the whole extract → dedup pipeline once per action
        n = (spark.read.schema(out.schema).parquet(args.output)
             .agg(F.count("*").alias("n_docs"),
                  F.count_if("keep").alias("n_kept")).collect()[0])
        print(json.dumps({"cmd": "curate", "output": args.output,
                          "n_docs": n["n_docs"], "n_kept": n["n_kept"]}))
    elif args.cmd == "vis":
        # debug rendering (visualize.py / det_test_imgs.py analog):
        # bounded sample, one annotated rendering per document
        from my_ocr_spark.functions.vis import vis_sample

        sep = ("\n" + "=" * 78 + "\n") if args.mode == "text" else "\n"
        rendered = vis_sample(docs, n=args.n, mode=args.mode)
        with open(args.output, "w", encoding="utf-8") as f:
            f.write(sep.join(
                (f"{r['url']}\n{r['rendering']}" if args.mode == "text"
                 else r["rendering"]) for r in rendered))
        print(json.dumps({"cmd": "vis", "output": args.output,
                          "n_docs": len(rendered)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
