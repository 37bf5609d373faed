"""Plan-quality gates: lock in the performance claims the docstrings make.
If a refactor introduces a shuffle into the extraction stage, drops a
broadcast, or breaks filter pushdown, these fail before any benchmark
notices."""

import re

import pytest


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _node_names(plan: str) -> list[str]:
    """The operator name heading each plan-node line, with the tree
    drawing (``+-``, ``:``) and codegen marker (``*(1)``) stripped — so
    a name that only appears in a node's arguments (``ReusedExchange
    [..], Exchange hashpartitioning``) is never counted as a node."""
    return re.findall(r"^[ \t:+\-|]*(?:\*\(\d+\) )?(\w+)", plan,
                      re.MULTILINE)


def _n_exchanges(plan: str) -> int:
    """Count shuffle/broadcast Exchange nodes; ReusedExchange nodes
    re-read an exchange counted elsewhere and are skipped."""
    return sum(n in ("Exchange", "BroadcastExchange")
               for n in _node_names(plan))


def _n_python_maps(plan: str) -> int:
    """Count per-batch Python map nodes of either kind (map_rows,
    map_batches and map_groups stages plan as MapInArrow, a hand-rolled
    mapInPandas loop as MapInPandas)."""
    return sum(n in ("MapInPandas", "MapInArrow")
               for n in _node_names(plan))


def _n_grouped_maps(plan: str) -> int:
    """Count grouped and cogrouped Python map nodes of any kind
    (FlatMapGroupsInArrow, FlatMapGroupsInPandas,
    FlatMapCoGroupsInPandas, ...)."""
    return sum(re.fullmatch(r"FlatMap(?:Co)?GroupsIn\w+", n) is not None
               for n in _node_names(plan))


def test_n_exchanges_skips_reused_exchange():
    """Spark prints the reused exchange's description inside the
    ReusedExchange line; only the real Exchange node counts."""
    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- SortMergeJoin [k#1L], [k#2L], Inner",
        "   :- *(1) Sort [k#1L ASC NULLS FIRST], false, 0",
        "   :  +- Exchange hashpartitioning(k#1L, 4), ENSURE_REQUIREMENTS,"
        " [plan_id=10]",
        "   :     +- Scan parquet [k#1L]",
        "   +- *(2) Sort [k#2L ASC NULLS FIRST], false, 0",
        "      +- ReusedExchange [k#2L], Exchange hashpartitioning(k#1L,"
        " 4), ENSURE_REQUIREMENTS, [plan_id=10]",
    ])
    assert _node_names(plan) == [
        "AdaptiveSparkPlan", "SortMergeJoin", "Sort", "Exchange", "Scan",
        "Sort", "ReusedExchange"]
    assert _n_exchanges(plan) == 1


def test_n_grouped_maps_counts_every_grouped_form():
    """An Arrow grouped map or a pandas cogroup counts like a pandas
    grouped map; a name inside a node's arguments does not."""
    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- Union",
        "   :- FlatMapGroupsInArrow [_bucket#4L], f(a#1L)#3, [a#5L]",
        "   :  +- Scan ExistingRDD[a#1L]",
        "   +- FlatMapCoGroupsInPandas [k#1L], [k#2L], g(k#1L)#6, [k#7L]",
        "      :- Project [FlatMapGroupsInPandas#8L]",
        "      +- Scan ExistingRDD[k#2L]",
    ])
    assert _n_grouped_maps(plan) == 2


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.001"


def test_pricing_summary_single_agg_exchange(spark, sf_dir):
    from my_ocr_spark.plans.relational import pricing_summary
    plan = _physical_plan(pricing_summary(spark, sf_dir))
    # partial+final aggregate: exactly one exchange (the final groupBy)
    assert _n_exchanges(plan) == 1, plan
    assert "HashAggregate" in plan


def test_top_revenue_dims_broadcast(spark, sf_dir):
    from my_ocr_spark.plans.analytics import top_revenue_nation
    plan = _physical_plan(top_revenue_nation(spark, sf_dir))
    # customer and nation joins must be broadcast, not shuffled
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    from my_ocr_spark.plans.relational import malformed_line_filter
    plan = _physical_plan(malformed_line_filter(spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(n_chars",
                     plan), plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    from my_ocr_spark.plans.relational import scan_projection_rename
    plan = _physical_plan(scan_projection_rename(spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_orderkey", "l_linenumber", "l_quantity",
                    "l_returnflag"}, cols


def test_extraction_stage_is_narrow(spark, docs_df):
    from my_ocr_spark.operators.extract import extract_docs
    plan = _physical_plan(extract_docs(docs_df))
    assert "Exchange" not in plan, plan


def test_extraction_prunes_html_from_output(spark, sf_dir):
    """The fat html column must die inside the extraction stage: nothing
    downstream of extract_docs may reference it."""
    from my_ocr_spark.plans.flagship import flagship_extract
    out = flagship_extract(spark, sf_dir)
    assert "html" not in out.columns
    assert out.schema["text"].dataType.typeName() == "string"


def test_threshold_sweep_uses_broadcast(spark, sf_dir):
    from my_ocr_spark.plans.relational import threshold_sweep_argmax
    plan = _physical_plan(threshold_sweep_argmax(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_global_hmean_builds_lazily(spark, sf_dir, monkeypatch):
    """Query construction must trigger ZERO Spark actions (the round-1
    version ran three .count() jobs at build time). Spy on every eager
    DataFrame entry point during construction."""
    import pyspark.sql.dataframe as D
    eager_calls = []
    for name in ("count", "collect", "toPandas", "head", "take"):
        orig = getattr(D.DataFrame, name)

        def spy(self, *a, _n=name, _o=orig, **kw):
            eager_calls.append(_n)
            return _o(self, *a, **kw)

        monkeypatch.setattr(D.DataFrame, name, spy)
    from my_ocr_spark.plans.geometry import global_hmean
    df = global_hmean(spark, sf_dir)
    assert eager_calls == [], eager_calls
    assert df.columns == ["hits", "n_gt", "n_pred", "precision_v",
                          "recall_v"]


def test_global_hmean_safe_on_empty_input(spark):
    """Guarded division: empty gt/pred → NULL precision/recall, not a
    ZeroDivisionError (advice r1)."""
    from pyspark.sql import functions as F
    empty = (spark.range(0)
             .select(F.col("id").alias("x").cast("double")))
    hits = empty.agg(F.count("*").alias("hits"))
    n_gt = empty.agg(F.count("*").alias("n_gt"))
    n_pred = empty.agg(F.count("*").alias("n_pred"))
    one = hits.crossJoin(n_gt).crossJoin(n_pred)
    row = one.select(
        (F.col("hits").cast("double")
         / F.when(F.col("n_pred") != 0, F.col("n_pred")))
        .alias("precision_v")).collect()[0]
    assert row.precision_v is None


def test_session_has_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert spark.conf.get(
        "spark.sql.execution.arrow.pyspark.enabled") == "true"


def test_ngram_jaccard_postings_consumers(spark, sf_dir):
    """The postings-index rewrite's contract: at most 3 shingle-gen
    occurrences (pairs + the two sizes joins; the self-join form had 8),
    and the postings cache collapses them to one cached materialization
    for corpus-scale runs."""
    from my_ocr_spark.operators.dedup import ngram_jaccard_pairs
    from my_ocr_spark.plans.registry import QUERIES, t
    import my_ocr_spark.plans.textpipe  # noqa: F401
    plan = _physical_plan(QUERIES["ngram_jaccard_dups"](spark, sf_dir))
    assert _n_python_maps(plan) <= 3, plan
    docs = t(spark, sf_dir, "documents")
    cached = ngram_jaccard_pairs(docs, "doc_id", "text", n=4,
                                 threshold=0.2)
    cplan = _physical_plan(cached)
    assert "InMemoryRelation" in cplan or "TableCacheQueryStage" in cplan \
        or "InMemoryTableScan" in cplan, cplan


def test_asof_join_single_shuffle_no_join_node(spark, sf_dir):
    """asof_join is union-and-carry: no join operator at all, one
    exchange for the window partitioning (plus AQE bookkeeping), no
    per-key pair blow-up."""
    from my_ocr_spark.plans.relational import asof_join_snapshot
    plan = _physical_plan(asof_join_snapshot(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_rollup_is_single_pass_expand(spark, sf_dir):
    """GROUP BY ROLLUP plans as one Expand + aggregate, not one scan per
    level."""
    from my_ocr_spark.plans.analytics import hypertable_rollup
    plan = _physical_plan(hypertable_rollup(spark, sf_dir))
    assert "Expand" in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_reading_order_single_shuffle_streaming_map(spark, sf_dir):
    """pdf_reading_order: one hash exchange on the group key feeding
    map_groups' streaming MapInArrow — no grouped-map
    (FlatMapGroupsIn*) launcher."""
    from my_ocr_spark.plans.analytics import pdf_reading_order
    plan = _physical_plan(pdf_reading_order(spark, sf_dir))
    assert _n_grouped_maps(plan) == 0, plan
    assert _n_python_maps(plan) == 1, plan



# Registry queries whose grouped Python stage is built by map_groups,
# each with the name of its stage's fn: one per map_groups call site in
# the package.
_GROUPED_STAGES = {
    "drrg_local_knn": "local_knn",
    "merge_disks_greedy": "merge_image_disks",
    "min_connect_path_order": "path_order",
    "pdf_reading_order": "page_text",
    "poly_nms_greedy": "greedy_nms",
    "semantic_dedup_keep": "cell_pairs",
    "sequence_pack_greedy": "pack_shard",
}


@pytest.mark.parametrize("name", sorted(_GROUPED_STAGES))
def test_reading_order_carry_is_batch_size_invariant(spark, sf_dir, name):
    """map_groups holds a group that straddles an Arrow batch boundary
    until it ends. A 3-row cap puts nearly every group across a
    boundary, so each grouped query's rows must match the same query at
    the session's own batch size."""
    import __spark_entry__ as E

    query = E.queries()[name]

    def run():
        df = query(spark, sf_dir).toPandas()
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    want = run()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = run()
    finally:
        spark.conf.set(key, old)
    assert len(want) > 0
    assert got.equals(want)

def test_minhash_verify_stage_is_jvm_side(spark, sf_dir):
    """minhash_then_verify: the pair-verify stage must be a JVM
    array_intersect over precomputed hash arrays — no Python UDF and no
    full-text column across the candidate join."""
    from my_ocr_spark.operators.dedup import minhash_then_verify
    from my_ocr_spark.plans.registry import t as _t
    df = _t(spark, sf_dir, "documents")
    plan = _physical_plan(minhash_then_verify(df, "doc_id", "text"))
    assert "array_intersect" in plan, plan
    # Python stages only FEED the joins (band rows / hash sets); the
    # verify itself is codegen — no grouped-map or row-at-a-time UDF
    assert _n_grouped_maps(plan) == 0, plan
    assert "BatchEvalPython" not in plan, plan


def test_pixel_kernel_queries_are_narrow(spark, sf_dir):
    """The three per-row pixel/shape oracle queries (Fourier roundtrip,
    hole filling, skeletonize) must stay a single narrow Python map
    stage over the scan — no exchange, no join: per-mask work never needs
    other rows."""
    from my_ocr_spark.plans.geometry import (
        centralize_normals, db_decode_boundaries, fill_holes_mask,
        fourier_descriptor_roundtrip, skeletonize_masks,
        textsnake_center_decode,
    )
    for q in (fourier_descriptor_roundtrip, fill_holes_mask,
              skeletonize_masks, textsnake_center_decode,
              centralize_normals, db_decode_boundaries):
        plan = _physical_plan(q(spark, sf_dir))
        # the ONLY allowed exchange is spread_small_scan's round-robin
        # widen of a small test fixture (a cost-modeled no-op at corpus
        # scale where the scan is already wide); any hash/range exchange
        # would mean grouping semantics crept into per-mask work
        n_ex = _n_exchanges(plan)
        assert n_ex == plan.count("Exchange RoundRobinPartitioning"), \
            (q.__name__, plan)
        assert n_ex <= 1, (q.__name__, plan)
        assert "Join" not in plan, (q.__name__, plan)
        assert _n_python_maps(plan) == 1, (q.__name__, plan)


def test_gopher_filters_single_narrow_pass(spark, sf_dir):
    """gopher_counts is per-doc math: the plan must be ONE narrow
    Arrow-batched stage over the scan — no gram explode, no join, no
    aggregation exchange (the pre-r7 form exploded ~3x gram rows
    through interpreted HOFs, 6 aggregations and 2 joins, and needed a
    checkpoint to avoid re-running the word derivation 3x). The only
    allowed exchange is spread_small_scan's round-robin widen of a
    small fixture."""
    from my_ocr_spark.plans.textpipe import gopher_repetition_filters
    plan = _physical_plan(gopher_repetition_filters(spark, sf_dir))
    assert _n_python_maps(plan) == 1, plan
    assert "Join" not in plan, plan
    n_ex = _n_exchanges(plan)
    assert n_ex == plan.count("Exchange RoundRobinPartitioning"), plan
    assert n_ex <= 1, plan


def test_curation_mix_report_single_extraction(spark, sf_dir):
    """curation_mix_report materializes the extracted table once: the
    executed plan must read the checkpoint (no parquet re-scan, no
    second extraction MapInPandas per join branch)."""
    from my_ocr_spark.plans.analytics import curation_mix_report
    plan = _physical_plan(curation_mix_report(spark, sf_dir))
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("Scan parquet") == 0, plan


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """decontaminate_ngrams must broadcast the benchmark gram set (eval
    sets are MBs, corpora are TBs — a shuffle of the corpus gram stream
    for this join would be the 100 TB bottleneck)."""
    from my_ocr_spark.plans.textpipe import decontaminate_ngrams
    plan = _physical_plan(decontaminate_ngrams(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_round7_spread_and_filter_pushdown_gates(spark, sf_dir):
    """Round-7 fault classes, pinned: (1) the converters / clip-join /
    levenshtein queries run heavy per-row work (interpreted HOFs, O(n^2)
    edit distance, the clip kernel) that must sit ABOVE the cost-modeled
    round-robin spread — an unspread 1-3-split fixture scan serialized
    them onto 1-3 of 32 cores; (2) Catalyst must not have re-substituted
    an expensive parse chain (regexp_extract / from_json) into a filter
    pushed below the exchange into the scan's DataFilters (totaltext
    measured 12.5 s with the whole synthesis+regex chain re-running
    pre-exchange)."""
    from my_ocr_spark.plans import converters as C
    from my_ocr_spark.plans.geometry import poly_iou_match_2d
    from my_ocr_spark.plans.textpipe import ocr_word_acc_metrics

    for q in (C.icdar_convert_coco, C.ctw1500_convert_coco,
              C.totaltext_convert_coco, C.textocr_convert_labels,
              C.synthtext_convert_boundary, poly_iou_match_2d,
              ocr_word_acc_metrics):
        plan = _physical_plan(q(spark, sf_dir))
        assert "Exchange RoundRobinPartitioning" in plan, \
            (q.__name__, plan)
        for line in plan.splitlines():
            if "Scan parquet" in line or "FileScan" in line:
                assert "regexp_extract" not in line, (q.__name__, line)
                assert "from_json" not in line, (q.__name__, line)


def test_rebuilt_plans_run_no_jobs(spark, sf_dir, count_jobs):
    """Building a query again reads every table with the schema its
    first build inferred, so it starts no Spark job before an action
    (each schema-less parquet read would start one). minhash_then_verify
    spreads its hash-set input with spread_small_scan around a broadcast
    semi-join; reading that plan's width must not run the broadcast."""
    from my_ocr_spark.plans.analytics import top_revenue_nation
    from my_ocr_spark.plans.relational import interval_range_join
    from my_ocr_spark.plans.textpipe import minhash_then_verify_q
    for query in (top_revenue_nation, interval_range_join,
                  minhash_then_verify_q):
        query(spark, sf_dir)
        _, jobs = count_jobs(lambda: query(spark, sf_dir))
        assert jobs == 0, query.__name__


# Registry queries whose Python stage is built by map_batches or map_rows
# where a hand-rolled mapInPandas loop used to be, each with the name of
# its stage's fn. Found by scanning every registry query's plan (and the
# plans its build runs) for these MapInArrow names.
_CONVERTED_STAGES = {
    "char_precision_recall_agg": ["char_tp"],
    "embedding_ann_ivf": ["nearest_cell", "probe_cells"],
    "embedding_ann_lsh": ["hyperplane_buckets"],
    "embedding_cosine_topk": ["cosine_scores"],
    "min_area_rect_size": ["min_area_rect"],
    "minhash_lsh_candidates": ["minhash_bands"],
    "minhash_then_verify": ["minhash_bands"],
    "point2line_distance_field": ["point2line"],
    "poly_iou_match_2d": ["quad_iou"],
    "polygon_shrink_inset": ["shrink_inset"],
    "semantic_dedup_keep": ["nearest_cell"],
    "warp_crop_checksum": ["warp_crop"],
}


def _built_plans(spark, sf_dir, names) -> dict[str, str]:
    """Each named registry query's executed plan, plus the plans of the
    SQL executions its build itself ran: semantic_dedup_keep runs its
    cell assignment inside an eager localCheckpoint, so that stage
    never reaches the returned plan."""
    import __spark_entry__ as E

    queries = E.queries()
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_id() -> int:
        bus.waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() \
            if n else -1

    def built(name) -> str:
        first = last_id() + 1
        plans = [_physical_plan(queries[name](spark, sf_dir))]
        for i in range(first, last_id() + 1):
            e = store.execution(i)
            if e.isDefined():
                plans.append(e.get().physicalPlanDescription())
        return "\n".join(plans)

    key = "spark.sql.ui.explainMode"
    old = spark.conf.get(key)
    spark.conf.set(key, "simple")  # the executed plan's own format
    try:
        return {name: built(name) for name in names}
    finally:
        spark.conf.set(key, old)


def test_python_stages_plan_as_named_map_in_arrow(spark, sf_dir):
    """Every converted stage plans as a MapInArrow named after its fn,
    and no MapInPandas is left in those queries."""
    plans = _built_plans(spark, sf_dir, _CONVERTED_STAGES)
    for name, fns in _CONVERTED_STAGES.items():
        assert "MapInPandas" not in _node_names(plans[name]), \
            (name, plans[name])
        for fn in fns:
            assert f"MapInArrow {fn}(" in plans[name], (name, fn)


def test_grouped_stages_stream_through_map_in_arrow(spark, sf_dir):
    """Every map_groups query plans its stage as one streaming MapInArrow
    named after its fn, with no grouped-map launcher left
    (FlatMap(Co)GroupsIn*). The cogrouped IoU matcher keeps its
    buckets, and their count tracks the session's parallelism, so a
    1000-executor cluster is not capped at a constant."""
    from my_ocr_spark.plans.relational import iou_theta_join_match

    plans = _built_plans(spark, sf_dir, _GROUPED_STAGES)
    for name, fn in _GROUPED_STAGES.items():
        assert f"MapInArrow {fn}(" in plans[name], (name, fn, plans[name])
        assert _n_grouped_maps(plans[name]) == 0, (name, plans[name])
    plan = _physical_plan(iou_theta_join_match(spark, sf_dir))
    buckets = {int(b) for b in re.findall(r"pmod\(\w+#\d+L?, (\d+)\)",
                                          plan)}
    assert len(buckets) == 1, plan
    assert buckets.pop() >= 8 * spark.sparkContext.defaultParallelism
