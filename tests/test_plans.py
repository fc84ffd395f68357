"""Physical-plan assertions: lock in the scale properties the architecture
relies on (filter pushdown to parquet, column pruning, broadcast joins).
These are the '.explain and iterate' checks SURVEY §4 calls for."""

import io
import contextlib

from pyspark.sql import functions as F

from oaxaca_blinder_rs_spark.functions.linalg import gram_agg_exprs


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_gram_agg_pushdown_and_pruning(spark, sf_dir):
    """The flagship decomposition aggregation must (a) push the group filter
    into the parquet scan and (b) read only the 3 referenced columns."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    design = (
        li.dropna(subset=["l_extendedprice", "l_returnflag", "l_quantity"])
        .withColumn("__ob_intercept__", F.lit(1.0))
        .filter(F.col("l_returnflag").isin(["A", "R"]))
    )
    agg = design.groupBy("l_returnflag").agg(
        *gram_agg_exprs(["__ob_intercept__", "l_quantity"], "l_extendedprice")
    )
    plan = _plan(agg)
    assert "PushedFilters: [In(l_returnflag, [A,R])" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_quantity" in read_schema and "l_extendedprice" in read_schema
    # pruning: unreferenced wide columns never reach the scan
    assert "l_shipdate" not in read_schema and "l_partkey" not in read_schema


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    """regional_revenue: all dimension tables broadcast; the fact table must
    not be exchanged for the joins."""
    import __spark_entry__ as e

    df = e.queries()["regional_revenue"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "BroadcastExchange" in plan


def test_budget_prefix_scan_is_distributed(spark, sf_dir):
    """The greedy allocation's running total must window per range-partition
    cell — never a global (SinglePartition) sort. The scan primitive exposes
    its pre-checkpoint physical plan for exactly this assertion; the
    budget_allocation oracle row pins the values."""
    from oaxaca_blinder_rs_spark.operators.scan import ordered_prev_cumsum

    df = spark.range(0, 2000, 1, 8).select(
        F.col("id"), (F.col("id") % 13).cast("double").alias("v")
    )
    out = ordered_prev_cumsum(df, [F.col("v").desc(), F.col("id").asc()], F.col("v"), "cum")
    plan = out._scan_plan
    assert "Window" in plan and "__scan_pid" in plan
    assert "SinglePartition" not in plan


def test_lsh_dedup_is_bucketed_not_cartesian(spark, sf_dir):
    """embedding_cosine_dups_lsh must join candidates on the (table, bucket)
    key — a hash/sort-merge equi-join — never a cartesian/nested-loop
    product. (The O(n^2) baseline embedding_cosine_dups IS a nested-loop by
    design; the LSH path exists so the default scales.)"""
    import __spark_entry__ as e

    df = e.queries()["embedding_cosine_dups_lsh"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    join_lines = [l for l in plan.splitlines() if "Join" in l and "BroadcastNestedLoop" not in l]
    assert any("SortMergeJoin" in l or "ShuffledHashJoin" in l or "BroadcastHashJoin" in l
               for l in join_lines), plan


def test_text_filters_are_map_only(spark, sf_dir):
    """pii_stats / token_count_bpe are per-row regexp expressions: the plan
    must be a single scan -> project with NO shuffle and only (doc_id, text)
    read from parquet."""
    from oaxaca_blinder_rs_spark.operators import textops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(textops.pii_stats(docs))
    assert "Exchange" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read_schema and "n_chars" not in read_schema


def test_repetition_stats_two_keyed_shuffles(spark, sf_dir):
    """repetition_stats = explode -> (doc,gram) count -> doc rollup: exactly
    two hash-partitioned exchanges, both on uniform high-cardinality keys,
    never a single-partition funnel."""
    from oaxaca_blinder_rs_spark.operators import textops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    import re

    plan = _plan(textops.repetition_stats(docs))
    # two keyed shuffles; a single-split input may add ONE round-robin
    # spread exchange before the carve (r14 input-skew guard) — never more,
    # and never a single-partition funnel
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    n_rr = plan.count("RoundRobinPartitioning")
    assert n_ex - n_rr == 2 and n_rr <= 1
    assert "hashpartitioning" in plan
    assert "SinglePartition" not in plan


def test_cross_corpus_dedup_equi_joins_only(spark, sf_dir):
    """The decontamination path must join on md5/band keys — no cartesian or
    nested-loop product anywhere in the plan."""
    from oaxaca_blinder_rs_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    plan = _plan(corpus.cross_corpus_dedup(new, ref))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_token_shards_scan_is_distributed(spark, sf_dir):
    """The shard packer's prefix sum must come from the range-partitioned
    scan primitive (partition-local windows), not a global ordered window."""
    from oaxaca_blinder_rs_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = corpus.pack_token_shards(docs, budget=500)
    plan = getattr(out, "_scan_plan", "")
    # the select() wrapper loses the attribute; recompute on the scan output
    if not plan:
        from oaxaca_blinder_rs_spark.operators import scan, textops

        base = docs.select(
            F.col("doc_id"), textops.token_count(F.col("text")).cast("long").alias("n")
        )
        stepped = scan.ordered_prev_cumsum(base, [F.col("doc_id").asc()], F.col("n"), "off")
        plan = stepped._scan_plan
    assert "__scan_pid" in plan
    assert "SinglePartition" not in plan


def test_asof_join_plans_without_nested_loop(spark, sf_dir):
    """The as-of join is a union + window — no join operator at all, and
    the window partitions on the by-key (never SinglePartition)."""
    from datetime import datetime

    from oaxaca_blinder_rs_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u", datetime(2024, 1, 1))], "eid long, u string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u", datetime(2024, 1, 1), 1.0)], "u string, ts timestamp, v double"
    )
    plan = _plan(asof_join(left, right, "ts", "u"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_range_join_plans_as_equi_join(spark, sf_dir):
    """The bucketed range join must plan as a hash/sort-merge equi-join on
    (key, bucket) — the nested-loop plan it exists to avoid."""
    from oaxaca_blinder_rs_spark.operators.rangejoin import range_join

    points = spark.range(0, 1000).select(
        F.col("id").alias("pid"), (F.col("id") % 7).alias("k"),
        (F.col("id") % 97).cast("double").alias("x"),
    )
    intervals = spark.range(0, 200).select(
        F.col("id").alias("iid"), (F.col("id") % 7).alias("k"),
        (F.col("id") % 80).cast("double").alias("lo"),
        ((F.col("id") % 80) + 10).cast("double").alias("hi"),
    )
    plan = _plan(range_join(points, intervals, "x", "lo", "hi", by="k", bucket_width=10.0))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_range_join_left_is_hash_join_no_nested_loop(spark, sf_dir):
    """range_join how='left' (round-5 rewrite): ONE outer hash/sort-merge
    equi-join on (keys, bucket) with the containment as a join filter —
    no BroadcastNestedLoopJoin, no CartesianProduct, and no second
    anti-join pass over the points."""
    from oaxaca_blinder_rs_spark.operators.rangejoin import range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    points = ev.select("user_id", "ts")
    iv = ev.groupBy("user_id").agg(
        F.min("ts").alias("w_lo"), F.max("ts").alias("w_hi")
    )
    out = range_join(points, iv, "ts", "w_lo", "w_hi", by="user_id",
                     bucket_width=3600.0, how="left")
    plan = _plan(out)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # exactly one outer equi-join node, no anti-join second branch
    join_nodes = [l.split("(")[0].strip().lstrip("+-: ") for l in plan.splitlines()
                  if ("HashJoin" in l or "SortMergeJoin" in l or "NestedLoop" in l)]
    join_nodes = [j for j in join_nodes if j]
    assert len(join_nodes) == 1 and (
        "HashJoin" in join_nodes[0] or "SortMergeJoin" in join_nodes[0]
    ), join_nodes
    assert "LeftAnti" not in plan and "Union" not in plan


def test_adaptive_logprob_filter_no_per_group_window(spark, sf_dir):
    """The per-language threshold comes from a scalar percentile aggregate
    broadcast back — never a per-group window sort (which would funnel a
    whole language through one task at scale)."""
    from oaxaca_blinder_rs_spark.operators.textops import adaptive_logprob_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(adaptive_logprob_filter(docs, frac=0.5))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_chunk_documents_is_map_only(spark, sf_dir):
    """chunk_documents is split -> sequence -> slice -> posexplode: one
    scan -> generate -> project, NO shuffle, and only (doc_id, text) read
    from parquet — per-document work stays on its partition, so the stage
    scales linearly with the corpus at any partition count."""
    from oaxaca_blinder_rs_spark.operators.corpus import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(chunk_documents(docs, chunk_size=64, overlap=16))
    assert "Exchange" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read_schema and "meta" not in read_schema


def test_priority_sample_is_take_ordered(spark, sf_dir):
    """priority_sample's selection must compile to TakeOrderedAndProject —
    per-partition top-k plus a k-row merge on the driver — never a global
    Sort: the property that makes exact-k weighted sampling viable at
    corpus scale."""
    from pyspark.sql import functions as F

    from oaxaca_blinder_rs_spark.operators.sampling import priority_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "w", F.col("n_chars").cast("double")
    )
    plan = _plan(priority_sample(docs, 50, "w", "doc_id"))
    assert "TakeOrderedAndProject" in plan
    assert "\n(2) Sort" not in plan and "GlobalSort" not in plan


def test_span_dedup_is_keyed_shuffles_only(spark, sf_dir):
    """span_dedup must stay keyed-shuffle shaped at any corpus size: no
    window operator, no cartesian/nested-loop join (the block-stats join is
    an equi-join on the span text), and the scan reads only (doc_id, text)."""
    from oaxaca_blinder_rs_spark.operators.dedup import span_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(span_dedup(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read_schema and "lang" not in read_schema


def test_drift_report_single_agg_no_window(spark, sf_dir):
    """drift_report is ONE long-form aggregation over (dim, bucket, snap)
    with partial (map-side) aggregation, plus a broadcast of per-dim
    totals: no window operator, no sort, no nested loop. The two snapshot
    scans are the only row-count-sized work."""
    from oaxaca_blinder_rs_spark.operators.profiling import drift_report

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = ev.filter(F.col("ts") < "2024-01-16")
    b = ev.filter(F.col("ts") >= "2024-01-16")
    plan = _plan(drift_report(a, b, cat_cols=["event_type"], num_cols=["value"]))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # partial aggregation must appear before the exchange (map-side combine)
    assert "partial_" in plan.lower() or "HashAggregate" in plan
    # ONE scan per snapshot in the long-form subtree: every dim's bucket
    # struct is built in a single generate projection (a union-of-
    # projections shape would scan once PER DIM), and the totals branch
    # must reuse the counts exchange at runtime rather than re-executing
    # the scans — AQE stage reuse, visible only in the executed plan
    df = drift_report(a, b, cat_cols=["event_type"], num_cols=["value"])
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed
    # 4 scan nodes = 2 counts subtrees x 2 snapshots (the one remaining
    # Union is the a/b snapshot union); a union-of-projections long form
    # would add one scan PER DIM and double this
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 4


def test_hive_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """The storage layer's partition-pruning claim, end to end: a
    date-partitioned write read back with a date filter must plan with
    PartitionFilters carrying the predicate and scan only that
    partition's files — at 100 TB this is the difference between reading
    one day and reading the table."""
    src = str(tmp_path / "events_by_day")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "day", F.to_date("ts")
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(src)
    back = spark.read.parquet(src).filter(F.col("day") == "2024-01-05")
    plan = _plan(back)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "2024-01-05" in pf[0]
    # file-level proof: the scan touches exactly one partition directory
    files = back.select(F.input_file_name()).distinct().collect()
    assert files and all("day=2024-01-05" in r[0] for r in files)
    # and the values really are one day's worth
    n_day = ev.filter(F.col("day") == "2024-01-05").count()
    assert back.count() == n_day > 0


def test_semantic_dedup_pair_join_is_cluster_keyed(spark, sf_dir):
    """semantic_dedup's pair stage must equi-join on the CLUSTER key (hash /
    sort-merge / broadcast-hash with the id inequality as a residual
    condition), never a cartesian or pure nested-loop product — clustering
    is the blocking structure that keeps candidate volume at
    sum-of-cluster-squares instead of n^2."""
    import __spark_entry__ as e

    df = e.queries()["semantic_dedup"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    join_lines = [l for l in plan.splitlines() if "Join" in l and "BroadcastNestedLoop" not in l]
    assert any("SortMergeJoin" in l or "ShuffledHashJoin" in l or "BroadcastHashJoin" in l
               for l in join_lines), plan


def test_quality_percentile_filter_broadcasts_thresholds(spark, sf_dir):
    """The stratified gate's |groups|-row thresholds frame must broadcast;
    the corpus side must not be exchanged for the join (map-side filter)."""
    from oaxaca_blinder_rs_spark.operators.corpus import quality_percentile_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = quality_percentile_filter(docs, by_col="source", score_col="n_chars", keep_top=0.5)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the corpus never shuffles for the gate


def test_deterministic_shuffle_is_range_partitioned(spark, sf_dir):
    """The epoch shuffle must be ONE range repartition + in-partition sorts —
    never a global single-partition sort."""
    from oaxaca_blinder_rs_spark.operators.corpus import deterministic_shuffle

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(deterministic_shuffle(docs, seed=1, num_partitions=8))
    assert "rangepartitioning" in plan.lower()
    assert "SinglePartition" not in plan


def test_contamination_spans_no_cartesian(spark, sf_dir):
    """Cross-corpus span decontamination: the window-digest match must be an
    equi-(semi-)join — no cartesian, no nested loop — and the raw window
    TEXT must not be a join key (digests only)."""
    from oaxaca_blinder_rs_spark.operators.dedup import contamination_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ref = docs.where(F.col("doc_id") % 7 == 0)
    plan = _plan(contamination_spans(docs, ref, window_tokens=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan


def test_boilerplate_removal_no_global_window(spark, sf_dir):
    """Line-level boilerplate removal: reassembly is a doc-keyed groupBy —
    no unpartitioned (SinglePartition) window anywhere in the plan."""
    from oaxaca_blinder_rs_spark.operators.textops import remove_boilerplate_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(remove_boilerplate_lines(docs, min_docs=3))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_offset_tables_start_no_python_rdd(spark):
    """The per-partition offsets of grouped_dense_rank and attach_row_ids
    enter the plan as a literal array or an Arrow LocalRelation, never as a
    pickled Python RDD (an ``ExistingRDD`` scan, which starts Python
    workers in every job that reads it)."""
    from oaxaca_blinder_rs_spark.operators.scan import grouped_dense_rank
    from oaxaca_blinder_rs_spark.sources.csv import attach_row_ids

    base = spark.range(0, 400, 1, 4).select(
        F.col("id"), F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("g")
    )
    ranked = grouped_dense_rank(base, "g", "id", "rk")
    assert "Window" in ranked._scan_plan and "ExistingRDD" not in ranked._scan_plan
    assert sorted(r["rk"] for r in ranked.filter(F.col("g") == "a").collect()) == list(range(134))
    ids = attach_row_ids(base)
    assert "ExistingRDD" not in ids._jdf.queryExecution().executedPlan().toString()
    assert sorted(r["__ob_row_id__"] for r in ids.collect()) == list(range(400))
