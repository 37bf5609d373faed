"""Per-partition lineage + idempotent resumable writes (north_rule).

The reference's analog is checkpoint/resume of training runs
(``mmocr/apis/train.py:157-160``) and the error-tolerant scan
(``mmocr/datasets/base_dataset.py:128-149``). Here:

* ``lineage_rows(df)`` — one row per Spark partition:
  (partition_id, doc_count, byte_count, checksum). checksum is an
  order-insensitive XOR-fold of xxhash64(url, text) so it's stable under
  intra-partition reordering.
* ``write_with_lineage`` — one write of the data partitioned by a
  deterministic bucket column, then a _lineage/ manifest per bucket
  computed by one aggregate over the files read back from disk. A resumed
  job calls ``completed_buckets`` and writes only the missing buckets,
  overwriting their directories (idempotent overwrite-by-partition — the
  parquet-manifest emulation of Iceberg snapshot commit; with Iceberg jars
  present the same API maps to format("iceberg") + snapshot metadata).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

BUCKET_COL = "_bucket"


def with_bucket(df: DataFrame, key_col: str = "url",
                n_buckets: int = 64) -> DataFrame:
    """Deterministic bucket id from the document key — the unit of commit
    and resume. Bucketing by hash(url) also co-locates snapshots of the
    same url for downstream dedup."""
    return df.withColumn(BUCKET_COL,
                         F.pmod(F.xxhash64(key_col), F.lit(n_buckets))
                          .cast("int"))


def _fold(key_col: str, payload_col: str) -> list:
    """(doc_count, byte_count, checksum) aggregates. The checksum is a
    bit_xor fold of xxhash64(key, payload): commutative, so it is stable
    under reordering, and any dropped/duplicated/mutated row flips it."""
    return [F.count("*").alias("doc_count"),
            F.sum(F.octet_length(payload_col)).alias("byte_count"),
            F.bit_xor(F.xxhash64(key_col, payload_col)).alias("checksum")]


def lineage_rows(df: DataFrame, key_col: str = "url",
                 payload_col: str = "text") -> DataFrame:
    """(partition_id, doc_count, byte_count, checksum) per partition."""
    return (df.groupBy(F.spark_partition_id().alias("partition_id"))
              .agg(*_fold(key_col, payload_col)))


def completed_buckets(out_dir: str) -> set[int]:
    """Buckets whose manifest was committed by a previous (partial) run."""
    mdir = os.path.join(out_dir, "_lineage")
    if not os.path.isdir(mdir):
        return set()
    done = set()
    for name in os.listdir(mdir):
        if name.startswith("bucket=") and name.endswith(".json"):
            done.add(int(name[len("bucket="):-len(".json")]))
    return done


def write_with_lineage(df: DataFrame, out_dir: str, key_col: str = "url",
                       payload_col: str = "text", n_buckets: int = 16,
                       resume: bool = True) -> dict:
    """Idempotent bucket-partitioned write with per-bucket lineage commit.

    Returns {written: [...], skipped: [...]}. The to-do buckets are written
    in one dynamic-overwrite ``partitionBy(_bucket)`` write (re-running a
    bucket replaces it exactly, other buckets' directories stay). Their
    manifests (doc_count, byte_count, checksum) come from one aggregate
    over the files just written, read back from disk, and are committed
    LAST — a bucket without a manifest is treated as uncommitted and
    rewritten on resume. This is the directory-manifest emulation of an
    Iceberg snapshot commit (SURVEY.md §7.3.3)."""
    done = completed_buckets(out_dir) if resume else set()
    todo = sorted(set(range(n_buckets)) - done)
    mdir = os.path.join(out_dir, "_lineage")
    os.makedirs(mdir, exist_ok=True)
    if not todo:
        return {"written": [], "skipped": sorted(done)}
    b = with_bucket(df, key_col, n_buckets)
    if done:
        b = b.filter(F.col(BUCKET_COL).isin(todo))
    # the writer option, not the session conf: a session-wide dynamic
    # mode would leave stale partitions behind in every later
    # overwrite-by-partition write of the session
    (b.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(BUCKET_COL)
      .parquet(out_dir))
    stats = {r[BUCKET_COL]: r.asDict() for r in
             df.sparkSession.read.schema(b.schema).parquet(out_dir)
             .filter(F.col(BUCKET_COL).isin(todo))
             .groupBy(BUCKET_COL).agg(*_fold(key_col, payload_col))
             .collect()}
    for bucket in todo:
        s = stats.get(bucket, {})  # a bucket with no rows has no files
        manifest = {"bucket": bucket,
                    **{k: int(s.get(k) or 0)
                       for k in ("doc_count", "byte_count", "checksum")}}
        tmp = os.path.join(mdir, f".bucket={bucket}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        # atomic commit point
        os.replace(tmp, os.path.join(mdir, f"bucket={bucket}.json"))
    return {"written": todo, "skipped": sorted(done)}


def read_lineage_manifests(out_dir: str) -> list[dict]:
    mdir = os.path.join(out_dir, "_lineage")
    out = []
    for b in sorted(completed_buckets(out_dir)):
        with open(os.path.join(mdir, f"bucket={b}.json")) as f:
            out.append(json.load(f))
    return out
