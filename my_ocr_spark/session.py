"""SparkSession factory with scale-oriented defaults, and the Python
stage helpers every operator builds on.

Tuned for the north_rule's execution profile: Arrow-batched Python stages
over fat binary ``html`` rows, with each input batch bounded by a fixed
byte budget (``ARROW_MAX_BYTES_PER_BATCH``), AQE for runtime re-planning /
skew mitigation, and a shuffle partition count sized to local cores here
but overridable for a real cluster via normal spark-submit confs. Local
sessions whose package was loaded from a directory also start their
Python workers through ``worker_daemon``, so workers import the installed
pyspark instead of ``$SPARK_HOME``'s source-only ``pyspark.zip``.

A Python stage takes one of three forms, each named after its ``fn``
in the plan with output typed from the Spark schema: ``map_rows``
(``fn`` sees one row's values and yields output tuples; one
``mapInArrow`` over ``spread_small_scan(df)``), ``map_batches`` (``fn``
sees one Arrow batch's columns as numpy arrays and returns the output
columns; one ``mapInArrow`` over ``df`` as partitioned) and
``map_groups`` (``fn`` sees one group's columns as numpy arrays, in a
chosen within-group order, and returns the output columns; rows
hash-partition on the key and sort within each partition, and one
``mapInArrow`` streams over the groups, holding a group that spans
batches until it ends).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The one Arrow batch policy: every batch handed to a Python stage
# closes at the first row past this many bytes. Pages range from ~1 KB
# to multi-MB, so any row count suits one corpus and is wrong for the
# next (thin pages want ~4k rows a batch, fat ones ~32); the byte
# budget gives ~4.6k-row batches of 0.9 KB pages and 42-row batches of
# 100 KB pages with no per-corpus setting. 4 MiB: the fat-page sweep
# found 2-8 MB batches within 5% of each other, thin pages are past
# the per-batch fixed cost that cost 4x at small batches, and a
# worker's input stays a few MB where Spark's own 64 MiB default let
# one fat-page batch reach 20 MB. Spark's 10000-row cap still bounds
# batches of narrow rows.
ARROW_MAX_BYTES_PER_BATCH = 4 << 20


def get_spark(app_name: str = "my_ocr_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """NOTE on precedence: builder ``.config``/``.master`` OVERRIDE
    submit-time ``--conf``/``--master`` (PySpark applies builder options
    on top of the submit SparkConf), so these local-sandbox defaults
    would hijack a spark-submit job. A cluster job must either pass
    ``master=`` explicitly / set SPARK_GRAFT_MASTER, or build its own
    SparkSession — the package itself never requires this factory."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    master = (master or os.environ.get("SPARK_GRAFT_MASTER")
              or f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(cpus)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing + skew-join splitting — the
        # engine's answer to host-level skew (SURVEY.md §4 item 1).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # The coalescer merges post-shuffle partitions below
        # minPartitionSize (default 1 MB) — sized by COMPRESSED shuffle
        # bytes. A fat-column shuffle feeding a CPU-bound Python stage
        # compresses to ~0.6 MB/partition here, so the default floor
        # halved extraction parallelism (flagship 2.2 s vs 1.2-1.7 s,
        # pdf_reading_order 1.75 s vs 1.1-1.6 s, A/B'd both directions).
        # 64k keeps coalescing for genuinely tiny partitions while never
        # binding at corpus scale, where partitions are 100s of MB.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(ARROW_MAX_BYTES_PER_BATCH))
        # read-side split size: at 100 TB this governs task count; 128 MB
        # default is fine, set explicitly for visibility.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # the correctness harness collects full results to hash them;
        # at sf1.0 a single join result passes 1 GiB serialized, so the
        # 1g default kills the collect (found live). A cluster job
        # never collects like this — the knob serves the local gate.
        .config("spark.driver.maxResultSize",
                os.environ.get("SPARK_GRAFT_MAX_RESULT", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master.split("[")[0] == "local" and os.path.isfile(__file__):
        # Python workers import the installed pyspark, not $SPARK_HOME's
        # source-only pyspark.zip (worker_daemon.py; it keeps the zip
        # unless the two are the same release). Measured on a 4-core
        # host: every task's importlib.invalidate_caches() re-read the
        # archives' central directories for 0.15-0.26 s, now 0.1 ms;
        # importing pyspark.daemon takes 1.3 s from the zip, 0.3 s
        # installed; an identity mapInArrow of 4.2 MB took 0.71 s, now
        # 0.03 s. The daemon imports this package before the first
        # task, so only a package loaded from a directory qualifies
        # (one in a --py-files zip reaches workers at task time), and
        # that directory's parent goes on the workers' PYTHONPATH
        # whatever the working directory.
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        b = (b.config("spark.python.daemon.module",
                      "my_ocr_spark.worker_daemon")
             .config("spark.executorEnv.PYTHONPATH", root))
    # e.g. "-XX:ParallelGCThreads=4" — the scaling bench pins GC threads
    # so the saturated full-width level doesn't pay GC-vs-task contention
    java_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS")
    if java_opts:
        b = b.config("spark.driver.extraJavaOptions", java_opts)
    return b.getOrCreate()


def spread_small_scan(df):
    """Cost-modeled small-input adaptation for python-heavy stages.

    A small parquet table scans as 1-4 input splits (file bytes /
    ``spark.sql.files.maxPartitionBytes``), so a per-document pandas
    stage downstream runs on 1-4 of the session's cores — measured:
    the sf1.0 documents table (2 splits) ran every dedup signature pass
    at 2/32 parallelism. Repartition ONLY when the scan is narrower
    than the session parallelism: at corpus scale (splits >> cores)
    this is a no-op, so the fat text column never pays a shuffle where
    the scan is already wide — the same broadcast-threshold-style cost
    model as operators/graph.py's driver path (CLAUDE.md invariant 4).

    A plan holding an exchange (or one AQE wraps to add one) is returned
    unchanged: the exchange sets its width, and counting its partitions
    would run it (AQE materializes a broadcast); spread the scan before
    such a join instead. Otherwise the count is read from the physical
    plan's RDD, driver-side, without a job."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan" or \
            "Exchange" in plan.toString():
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if qe.toRdd().getNumPartitions() < target:
        return df.repartition(target)
    return df


def _schemas(schema):
    """A ``StructType`` or DDL string (parsed with
    ``StructType.fromDDL``) → (Spark schema, its Arrow form)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return schema, to_arrow_schema(schema)


def _python_stage(df, fn, schema, to_batch):
    """What ``map_rows`` and ``map_batches`` share: output is typed
    from the schema's Arrow form, and the stage is one ``mapInArrow``
    carrying ``fn.__name__`` so the plan names it. ``to_batch(batch,
    arrow_schema)`` turns one input ``RecordBatch`` into one output
    ``RecordBatch``."""
    schema, arrow_schema = _schemas(schema)

    def run(batches):
        for batch in batches:
            yield to_batch(batch, arrow_schema)

    run.__name__ = fn.__name__
    return df.mapInArrow(run, schema=schema)


def _column_batch(fn, out, arrow_schema):
    """``fn``'s returned columns as one ``RecordBatch``: each column is
    typed with ``pa.array(col, type=field.type)``; a wrong column count
    raises and ragged columns fail in ``RecordBatch.from_arrays``."""
    import pyarrow as pa

    if len(out) != len(arrow_schema):
        raise ValueError(f"{fn.__name__} returned {len(out)} columns;"
                         f" the schema has {len(arrow_schema)}")
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(out, arrow_schema)],
        schema=arrow_schema)


def map_rows(df, fn, schema):
    """The one per-row Python stage: ``fn(*row)`` gets each input row's
    Python values in ``df.columns`` order and yields output tuples in
    ``schema`` order — one for a 1:1 map, any number for an explode.

    Runs over ``spread_small_scan(df)``: one Python call per row is
    worth every core. Input columns leave Arrow once per batch
    (``to_pylist``), and the output tuples convert straight into one
    Arrow struct array — no pandas frame and no Python-side transpose;
    a tuple of the wrong arity fails the batch. Per-task setup (memo
    dicts, index grids) belongs in ``fn``'s closure: it is unpickled
    once per task."""
    import pyarrow as pa

    def rows(batch, arrow_schema):
        cols = [c.to_pylist() for c in batch.columns]
        out = [o for row in zip(*cols) for o in fn(*row)]
        return pa.RecordBatch.from_struct_array(
            pa.array(out, type=pa.struct(list(arrow_schema))))

    return _python_stage(spread_small_scan(df), fn, schema, rows)


def map_batches(df, fn, schema):
    """The one batch-level Python stage: ``fn(*cols)`` gets one Arrow
    batch's input columns in ``df.columns`` order as numpy arrays
    (``to_numpy(zero_copy_only=False)``: strings and arrays arrive as
    object arrays, an integer column holding nulls as float64 with NaN)
    and returns a tuple of output columns in ``schema`` order, of any
    common length. Each column is typed with ``pa.array(col,
    type=field.type)``; a wrong column count or a length mismatch fails
    the batch. For whole-batch numpy transforms: one Python call per
    batch, no per-row interpretation and no pandas frame. Batches are
    never empty (an empty partition sends none).

    Runs over ``df`` as partitioned. A numpy transform costs little per
    row, so widening a narrow scan with a shuffle pays only for a heavy
    kernel, and such a caller passes ``spread_small_scan(df)`` itself
    (same-session A/B at sf0.1, local[4]: the spread made
    point2line_distance_field 0.94 -> 1.86 s and embedding_ann_lsh
    1.08 -> 1.43 s)."""
    def columns(batch, arrow_schema):
        cols = [c.to_numpy(zero_copy_only=False) for c in batch.columns]
        return _column_batch(fn, fn(*cols), arrow_schema)

    return _python_stage(df, fn, schema, columns)


def map_groups(df, key, fn, schema, order=()):
    """The one grouped Python stage: ``fn(*cols)`` gets one group's
    columns in ``df.columns`` order as numpy arrays and returns output
    columns, both as in ``map_batches`` (a group may emit no rows). A
    group is the rows sharing ``key`` (a column name or a list); the
    nulls of a key, also of one part of a composite key, form one group.
    Rows arrive sorted by ``order``: names (ascending) or ``(name,
    "ascending" | "descending")`` pairs, nulls last either way.

    Groups are small (one image's boxes, one page's words), so a Python
    call per group would drown in per-call overhead; instead rows
    hash-partition on ``key``, each partition sorts on ``key`` +
    ``order``, and one ``mapInArrow`` named after ``fn`` streams over
    it. Each batch is cut where the key changes, compared in Arrow (a
    null bigint never becomes NaN there); its last group may go on in
    the next batch, so it is held until the key changes or the stream
    ends. Every group's output is checked on its own, and a batch's
    groups leave as one output batch."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    keys = [key] if isinstance(key, str) else list(key)

    def sort_col(o):
        name, direction = (o, "ascending") if isinstance(o, str) else o
        c = F.col(name)
        return {"ascending": c.asc_nulls_last,
                "descending": c.desc_nulls_last}[direction]()

    schema, arrow_schema = _schemas(schema)

    def numpy_cols(batches):
        table = pa.Table.from_batches(batches)
        return [c.to_numpy(zero_copy_only=False) for c in table.columns]

    def run(batches):
        held = []  # the open group's rows, one slice per batch
        for batch in batches:
            # the held group's last row leads the batch: bounds[1] is
            # where that group ends in it, and bounds[0] is -1
            lead = [held[-1].slice(held[-1].num_rows - 1)] if held else []
            bounds = _group_bounds(pa.Table.from_batches(lead + [batch]),
                                   keys) - len(lead)
            outs = []
            if held:
                held.append(batch.slice(0, bounds[1]))
                if len(bounds) == 2:
                    continue
                outs.append(fn(*numpy_cols(held)))
                bounds = bounds[1:]
            cols = numpy_cols([batch])
            outs += [fn(*(c[lo:hi] for c in cols))
                     for lo, hi in zip(bounds[:-2], bounds[1:-1])]
            held = [batch.slice(bounds[-2])]
            if outs:
                yield _joined_batch(fn, outs, arrow_schema)
        if held:
            yield _joined_batch(fn, [fn(*numpy_cols(held))], arrow_schema)

    run.__name__ = fn.__name__
    return (df.repartition(*keys)
            .sortWithinPartitions(*map(sort_col, keys + list(order)))
            .mapInArrow(run, schema=schema))


def _group_bounds(table, keys):
    """Group offsets of a table sorted on ``keys``, 0 to ``num_rows``;
    two nulls are one value, a null and a value differ."""
    import numpy as np
    import pyarrow.compute as pc

    n = table.num_rows
    change = np.zeros(n - 1, dtype=bool)
    for k in keys:
        a, b = table.column(k).slice(1), table.column(k).slice(0, n - 1)
        diff = pc.or_(pc.fill_null(pc.not_equal(a, b), False),
                      pc.not_equal(pc.is_null(a), pc.is_null(b)))
        change |= diff.to_numpy()
    return np.concatenate(([0], np.flatnonzero(change) + 1, [n]))


def _joined_batch(fn, outs, arrow_schema):
    """Several groups' returned columns as one ``RecordBatch``. Each
    group is checked on its own (joined, one group's ragged columns
    could even out another's); then each column's pieces are joined
    once, numpy arrays with ``np.concatenate`` and anything else as one
    list, so the Arrow conversion runs per batch, not per group."""
    import numpy as np

    for out in outs:
        lens = [len(c) for c in out]
        if len(out) != len(arrow_schema) or len(set(lens)) > 1:
            raise ValueError(f"{fn.__name__} returned columns of lengths"
                             f" {lens}; the schema has {len(arrow_schema)}"
                             " columns, all the same length")
    cols = []
    for pieces in zip(*outs):
        pieces = [p for p in pieces if len(p)]
        cols.append(np.concatenate(pieces)
                    if pieces and all(isinstance(p, np.ndarray)
                                      for p in pieces)
                    else [v for p in pieces for v in p])
    return _column_batch(fn, cols, arrow_schema)
