"""Physical-plan assertions: the optimizations the 100 TB design relies on
must actually appear in the executed plans (pushdown, pruning, broadcast,
whole-stage codegen, no accidental Python in JVM-able paths)."""

import pytest
from pyspark.sql import functions as F

from calamari_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _plan(df, execute: bool = False) -> str:
    if execute:
        df.count()  # let AQE finalize so codegen stages are visible
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_push_to_parquet(spark):
    li = load_table(spark, "lineitem", SF)
    q = li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan.replace("\n", " ")
    # column pruning: the read schema carries only the two needed columns
    assert "l_comment" not in plan.split("ReadSchema")[1][:400]


def test_small_dims_broadcast_in_star_join(spark):
    from calamari_spark.plans.relational import q5_nation_revenue

    plan = _plan(q5_nation_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_aggregation_has_partial_pass_and_vectorized_scan(spark):
    from calamari_spark.plans.relational import q1_pricing_summary

    plan = _plan(q1_pricing_summary(spark, SF))
    assert plan.count("HashAggregate") >= 2  # map-side partial + final
    assert "partial_sum" in plan  # the map-side combine really is partial
    assert "Batched: true" in plan  # vectorized parquet reader


def test_text_pipeline_queries_have_no_python_nodes(spark):
    """Every text/dedup plan must stay JVM-side (the scale invariant)."""
    from calamari_spark.plans.dedup import q_minhash_lsh_pairs, q_simhash
    from calamari_spark.plans.textplans import (
        q_exact_dedup,
        q_quality_score,
        q_regularize_extended,
        q_strip_regularize,
    )

    for q in (q_strip_regularize, q_regularize_extended, q_quality_score,
              q_exact_dedup, q_simhash, q_minhash_lsh_pairs):
        plan = _plan(q(spark, SF))
        assert "BatchEvalPython" not in plan, q.__name__
        assert "ArrowEvalPython" not in plan, q.__name__


def test_fold_assign_has_no_global_window(spark):
    """Fold assignment is a pure per-row hash map: no Window node and no
    single-partition exchange before the aggregate (the round-1 row_number
    variant funneled every row through one task)."""
    from calamari_spark.plans.relational import q_fold_assign

    plan = _plan(q_fold_assign(spark, SF))
    assert "Window" not in plan
    assert "SinglePartition" not in plan.split("Sort")[0]


def test_ann_query_broadcasts_query_set(spark):
    from calamari_spark.plans.annplans import q_ann_cosine_topk, q_ann_ivf_topk

    assert "BroadcastNestedLoopJoin" in _plan(q_ann_cosine_topk(spark, SF)) or \
           "BroadcastHashJoin" in _plan(q_ann_cosine_topk(spark, SF))
    ivf_plan = _plan(q_ann_ivf_topk(spark, SF))
    assert "Broadcast" in ivf_plan
    # IVF cell assignment is a pure per-row map: the hash shuffles in the
    # whole query are (a) the fan_out spread of the corpus rows BEFORE the
    # expensive cell-assignment cosines (a single-file scan otherwise runs
    # the kernel on one core) and (b) the final per-query top-k
    # (partitioned by query_id, pre-reduced by WindowGroupLimit). The
    # round-1 plan shuffled an 8x-exploded corpus through a per-vector
    # window.
    hash_exchanges = [
        ln for ln in ivf_plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 2, hash_exchanges
    assert any("query_id" in ln for ln in hash_exchanges), hash_exchanges
    assert any("vec_id" in ln for ln in hash_exchanges), hash_exchanges
    assert "WindowGroupLimit" in ivf_plan  # partial top-k before the shuffle


def test_partition_pruning_on_date_partitioned_table(spark, tmp_path):
    """A dt-partitioned layout (the 100 TB events-table shape) must prune
    non-matching partitions at planning time — the scan reads 1 of 5
    directories, not all of them."""
    from pyspark.sql import functions as F

    ev = spark.range(0, 5_000).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("2024-01-0"), (F.col("id") % 5 + 1).cast("string")).alias("dt"),
        (F.col("id") % 7).cast("double").alias("value"),
    )
    path = str(tmp_path / "events_parted")
    ev.write.partitionBy("dt").parquet(path)
    q = spark.read.parquet(path).filter(F.col("dt") == "2024-01-03")
    plan = _plan(q)
    flat = plan.replace("\n", " ")
    assert "PartitionFilters" in flat and "2024-01-03" in flat
    # the scan's selected partition count is 1/5 of the table
    files_read = q.select(F.input_file_name()).distinct().count()
    all_files = spark.read.parquet(path).select(F.input_file_name()).distinct().count()
    assert files_read <= all_files / 5 + 1
    assert q.count() == 1_000


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """DPP: a filter on the dimension side prunes the partitioned fact's
    scan at RUNTIME — the fact reads only the dt partitions the filtered
    dim selects (the join-driven analog of static partition pruning)."""
    from pyspark.sql import functions as F

    fact = spark.range(0, 20_000).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("2024-01-0"), (F.col("id") % 5 + 1).cast("string")).alias("dt"),
        (F.col("id") % 7).cast("double").alias("value"),
    )
    path = str(tmp_path / "fact")
    fact.write.partitionBy("dt").parquet(path)
    dim = spark.createDataFrame(
        [(f"2024-01-0{i}", f"day{i}") for i in range(1, 6)], "dt string, label string"
    )
    q = (
        spark.read.parquet(path)
        .join(dim.filter(F.col("label") == "day2"), "dt")
        .agg(F.sum("value").alias("s"))
    )
    plan = _plan(q).replace("\n", " ")
    assert "dynamicpruning" in plan.lower(), "DPP subquery missing from the fact scan"
    q.collect()


def test_bucketed_join_needs_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key join WITHOUT any Exchange — the
    co-located layout that removes the extraction pipeline's biggest
    shuffle at 100 TB (Iceberg bucket(N, key) analog)."""
    from pyspark.sql import functions as F

    from calamari_spark.sources.bucketed import write_bucketed

    docs = spark.range(0, 10_000).select(
        F.concat(F.lit("m"), F.col("id")).alias("media_ref"),
        (F.col("id") % 97).alias("x"),
    )
    media = spark.range(0, 10_000).select(
        F.concat(F.lit("m"), F.col("id")).alias("media_ref"),
        (F.col("id") % 13).alias("y"),
    )
    write_bucketed(docs, "t_docs_b", str(tmp_path / "docs"), "media_ref")
    write_bucketed(media, "t_media_b", str(tmp_path / "media"), "media_ref")
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("t_docs_b").join(spark.table("t_media_b"), "media_ref")
            plan = _plan(joined)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan  # bucketing replaced the shuffle
            assert joined.count() == 10_000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_docs_b")
        spark.sql("DROP TABLE IF EXISTS t_media_b")


# every plan whose per-line kernel runs in extraction.line_stage -> its module
LINE_STAGE_PLANS = {
    "recognize_media": "extraction",
    "x_extract_docs": "extraction",
    "x_extract_cer": "extraction",
    "x_fold_eval": "extraction",
    "x_media_text": "extraction",
    "x_media_text_beam": "extraction",
    "x_media_text_tokenpass": "extraction",
    "x_media_text_wbs": "extraction",
    "x_media_text_wordlm": "extraction",
    "x_media_text_wordlm_bigram": "extraction",
    "x_recognize_positions": "extraction",
    "x_ctc_loss": "mediaplans",
    "x_image_stats": "mediaplans",
}


@pytest.mark.parametrize("name", sorted(LINE_STAGE_PLANS))
def test_extraction_ocr_stage_partition_count(spark, name):
    """Every per-line OCR stage is the one line_stage: its exchange is a
    hash repartition on media_ref carrying the explicit parallelism
    (defaultParallelism * 2), immune to AQE byte-based coalescing, and it
    is the plan's only Python node."""
    import importlib
    import re

    from calamari_spark.plans import extraction as X

    if name == "recognize_media":
        df = X.recognize_media(X._media_lines(spark, SF, "doc_id", "offset", "png"))
    else:
        module = importlib.import_module(f"calamari_spark.plans.{LINE_STAGE_PLANS[name]}")
        df = getattr(module, name)(spark, SF)
    plan = _plan(df)
    expected = spark.sparkContext.defaultParallelism * 2
    assert re.search(rf"hashpartitioning\(media_ref#\d+, {expected}\)", plan), plan
    assert plan.count("MapInPandas") == 1


def test_gopher_rules_is_pure_map(spark):
    """Quality rules are per-row expressions: no Python nodes, and the only
    exchange is the display sort — at 10^12 docs the stage is scan-bound."""
    from calamari_spark.plans.pipelineplans import q_gopher_rules

    plan = _plan(q_gopher_rules(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 1  # rangepartitioning for the orderBy


def test_exact_substring_has_no_pair_join(spark):
    """ExactSubstr aggregates per window key and probes back: the window
    table meets only the AGGREGATED shared-key table (r6: one flagged
    LeftOuter join feeding a single per-doc aggregation — replacing the r5
    left-semi + two separate groupBy passes), never ITSELF — an inner
    equi-join of the window table against itself on win would be the
    quadratic-skew shape the operator exists to avoid."""
    from calamari_spark.plans.dedup import q_exact_substring

    plan = _plan(q_exact_substring(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # exactly one join on the window key, and it is the outer flag probe
    # against the grouped (distinct-key) side — not an inner pair join
    win_joins = [
        seg for seg in plan.splitlines() if "Join" in seg and "win" in seg
    ]
    assert len(win_joins) == 1 and "LeftOuter" in win_joins[0], win_joins


def test_url_dedup_group_join_is_partial_agged(spark):
    """The canonical-key groupBy must partial-aggregate map-side (the only
    corpus-scaled exchange), and canonicalization itself stays JVM-side."""
    from calamari_spark.plans.pipelineplans import q_url_dedup

    plan = _plan(q_url_dedup(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan or plan.count("HashAggregate") >= 2
