"""my_ocr_spark — a from-scratch PySpark-native main-content extraction engine.

Re-expresses the capabilities of the reference (liangxiaoyun/my-ocr, an
MMOCR v0.2.0 fork — see SURVEY.md) as idiomatic Spark:

* ``kernel/``    — pure-Python (stdlib+numpy only) deterministic extraction
                   kernels: HTML DOM parse, block scoring, boilerplate strip,
                   XY-cut layout analysis, reading-order line stitching,
                   text statistics. Shared by the pandas UDFs, the fixture
                   generator, and the pytest oracles → byte-identical output.
* ``operators/`` — Spark DataFrame operators: extraction, dedup (exact /
                   minhash-LSH / simhash / n-gram Jaccard), similarity search,
                   geometric matching (IoU theta-join, hmean), line stitch,
                   OCR metrics, snapshot dedup.
* ``sources/``   — loaders/parsers mirroring the reference's Loader/Parser
                   registry (SURVEY.md §2.1) on spark.read.
* ``plans/``     — named queries backing __spark_entry__.queries().
* ``streaming/`` — Structured Streaming wrapper over the same transforms.
"""

__version__ = "0.1.0"
