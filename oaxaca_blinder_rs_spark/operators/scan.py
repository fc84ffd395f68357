"""Distributed ordered-scan primitives.

A ``Window.orderBy(...)`` with no partition key funnels every row through a
single task — fine at fixture scale, a stall at cluster scale. The greedy
allocation operators (engine_ops.optimize, budget.allocate_budget, the
efficient-frontier schedule) all need one global ordered running total, so
that scan is expressed here once, parallel at any size:

1. range-partition on the ordering (partition p's rows all precede
   partition p+1's; ties never span a boundary),
2. one tiny aggregation of per-partition sums -> exclusive offsets on the
   driver (numPartitions rows),
3. index the offsets as a literal array by partition id and finish with a
   partition-LOCAL window.

The ranged frame is persisted across the two jobs (range bounds are sampled
per physical plan, so both must read one materialization) and the result is
checkpointed before the cache is dropped — cost over the naive window is
one numPartitions-row collect plus one cached pass.

Reference behavior pinned: oaxaca_blinder/src/analysis.rs greedy payment
loop (sequential over sorted rows); same running totals, distributed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "ordered_prev_cumsum",
    "release",
    "grouped_prev_cumsum",
    "grouped_prev_cumsum_multi",
    "grouped_dense_rank",
]


def ordered_prev_cumsum(
    df: DataFrame,
    order: list[Column],
    value: Column,
    out_col: str,
) -> DataFrame:
    """Exclusive running total of ``value`` under a global ordering.

    Row r gets sum(value) over all rows strictly before r in ``order``
    (ties resolved by the caller's tiebreaker columns, exactly as a global
    ``rowsBetween(unboundedPreceding, -1)`` window would) — without ever
    collapsing the data to one partition. The grand total of ``value`` is
    attached as ``._scan_total``; ``release`` drops the checkpoint.
    """
    spark = df.sparkSession
    nparts = max(spark.sparkContext.defaultParallelism, 1)
    # repartitionByRange samples its bounds per physical plan, so the offsets
    # job and the final scan MUST share one materialization — persist pins the
    # partitioning; the result is checkpointed before the cache is released.
    ranged = (
        df.repartitionByRange(nparts, *order)
        .withColumn("__scan_pid", F.spark_partition_id())
        .withColumn("__scan_v", value.cast("double"))
        .persist()
    )
    try:
        # <= nparts rows: ordered on the driver and indexed by partition id
        # as a literal array, so the offsets cost no sort job and no table
        sums = dict(
            ranged.groupBy("__scan_pid").agg(F.sum("__scan_v").alias("__s")).collect()
        )
        if not sums:
            out = df.withColumn(out_col, F.lit(0.0))
            out._scan_total = 0.0
            return out
        offsets, running = [], 0.0
        for pid in range(max(nparts, max(sums) + 1)):
            offsets.append(running)
            running += float(sums.get(pid) or 0.0)
        w = (
            Window.partitionBy("__scan_pid")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offset = F.element_at(F.array(*[F.lit(o) for o in offsets]), F.col("__scan_pid") + 1)
        result = ranged.withColumn(
            out_col, offset + F.coalesce(F.sum("__scan_v").over(w), F.lit(0.0))
        ).drop("__scan_pid", "__scan_v")
        out = _checkpoint_with_plan(result)
        out._scan_total = running
        return out
    finally:
        ranged.unpersist()


def release(scanned: DataFrame) -> None:
    """Drop the blocks a scan result's local checkpoint pins. The frame (and
    anything derived from it) must not be read afterwards. A result that was
    never checkpointed (empty input) pins nothing."""
    plan = scanned._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def _checkpoint_with_plan(result: DataFrame) -> DataFrame:
    """Eagerly checkpoint, attaching the pre-checkpoint physical plan as
    ``._scan_plan`` so tests can assert the scan never used a
    SinglePartition exchange (the checkpointed frame's own plan is just a
    scan of materialized blocks)."""
    out = result.localCheckpoint(eager=True)
    try:
        out._scan_plan = result._jdf.queryExecution().executedPlan().toString()
    except Exception:
        out._scan_plan = ""
    return out


def grouped_prev_cumsum(
    df: DataFrame,
    group: str,
    order: list[Column],
    value: Column,
    out_col: str,
) -> DataFrame:
    """Exclusive running total of ``value`` under ``order`` WITHIN each
    ``group`` — ``sum(value) over (partition by group order by ...
    rowsBetween(unboundedPreceding, -1))`` without serializing any single
    group through one task.

    A window partitioned only by the group column gives each group to one
    task; with a skewed key (one web domain holding half the corpus) that
    task dominates the stage. Instead: range-partition on (group, *order)
    so a big group SPANS partitions, aggregate one (group, partition) sum
    cell per pair, fold the cells into per-(group, partition) exclusive
    offsets on the driver (|groups-that-span| x P rows, tiny), and finish
    with a window local to the (group, partition) cell.

    Totals accumulate in int64 (``value`` is cast to long) — exact for
    token counts; use ordered_prev_cumsum for float values. Rows with a
    null group form their own group (eqNullSafe join), matching
    ``Window.partitionBy`` semantics. Result is eagerly checkpointed, the
    grouped_dense_rank convention.
    """
    return grouped_prev_cumsum_multi(df, group, order, [(value, out_col)])


def grouped_prev_cumsum_multi(
    df: DataFrame,
    group: str,
    order: list[Column],
    values: list[tuple[Column, str]],
) -> DataFrame:
    """N exclusive running totals under ONE ordering in ONE ranged pass —
    the shared machinery behind ``grouped_prev_cumsum``. r14 OPT (guide
    §2.4): callers needing several cumulative sums over the same order
    (roc_points' >=-threshold positive AND negative tallies,
    vocab_coverage's cumulative count and exclusive rank) previously
    chained scans, paying the repartitionByRange + offsets collect +
    checkpoint cycle once PER VALUE; one pass computes all of them with
    identical per-value arithmetic (same range partitioning, same per-cell
    int64 sums, same window), so each output column is bit-identical to
    its chained equivalent.
    """
    spark = df.sparkSession
    nparts = max(spark.sparkContext.defaultParallelism, 1)
    ranged = df.repartitionByRange(
        nparts, F.col(group).asc(), *order
    ).withColumn("__scan_pid", F.spark_partition_id())
    for i, (value, _) in enumerate(values):
        ranged = ranged.withColumn(f"__scan_v{i}", value.cast("long"))
    ranged = ranged.persist()
    try:
        cells = (
            ranged.groupBy(group, "__scan_pid")
            .agg(*[F.sum(f"__scan_v{i}").alias(f"__s{i}") for i in range(len(values))])
            .collect()
        )
        if not cells:
            out = df
            for _, out_col in values:
                out = out.withColumn(out_col, F.lit(0).cast("long"))
            return out
        by_group: dict = {}
        for r in cells:
            by_group.setdefault(r[group], []).append(
                (int(r["__scan_pid"]), [int(r[f"__s{i}"] or 0) for i in range(len(values))])
            )
        offs = []
        for g, lst in by_group.items():
            running = [0] * len(values)
            for pid, sums in sorted(lst):
                offs.append((g, pid, *running))
                running = [a + b for a, b in zip(running, sums)]
        gtype = dict(df.dtypes)[group]
        off_cols = ", ".join(f"__scan_off{i} long" for i in range(len(values)))
        off_df = spark.createDataFrame(
            offs, f"`__scan_g` {gtype}, __scan_pid int, {off_cols}"
        )
        w = (
            Window.partitionBy(group, "__scan_pid")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        cond = F.col(group).eqNullSafe(F.col("__scan_g")) & (
            ranged["__scan_pid"] == off_df["__scan_pid"]
        )
        result = ranged.join(F.broadcast(off_df), cond).drop(off_df["__scan_pid"])
        drop = ["__scan_pid", "__scan_g"]
        for i, (_, out_col) in enumerate(values):
            result = result.withColumn(
                out_col,
                F.col(f"__scan_off{i}")
                + F.coalesce(F.sum(f"__scan_v{i}").over(w), F.lit(0).cast("long")),
            )
            drop += [f"__scan_off{i}", f"__scan_v{i}"]
        result = result.drop(*drop)
        return _checkpoint_with_plan(result)
    finally:
        ranged.unpersist()


def grouped_dense_rank(
    df: DataFrame,
    group: str,
    order_col: str,
    out_col: str,
) -> DataFrame:
    """0-based dense rank of ``order_col`` inside each ``group``.

    A window partitioned only by the group column serializes each group
    through one task (the Oaxaca group column has 2 values). Instead:
    range-partition on (group, order), count each (group, partition) cell,
    turn the counts into per-group offsets, and rank with a window local to
    the (group, partition) cell — P*|groups| uniform units of work. The
    result is eagerly checkpointed before the ranged cache is released so
    downstream actions cannot observe a re-sampled partitioning.
    """
    spark = df.sparkSession
    nparts = max(spark.sparkContext.defaultParallelism, 1)
    ranged = (
        df.repartitionByRange(nparts, F.col(group).asc(), F.col(order_col).asc())
        .withColumn("__scan_pid", F.spark_partition_id())
        .persist()
    )
    try:
        cells = ranged.groupBy(group, "__scan_pid").agg(F.count(F.lit(1)).alias("__c")).collect()
        if not cells:
            return df.withColumn(out_col, F.lit(0).cast("long"))
        by_group: dict = {}
        for r in cells:
            by_group.setdefault(r[group], []).append((int(r["__scan_pid"]), int(r["__c"])))
        offs = []
        for g, lst in by_group.items():
            running = 0
            for pid, c in sorted(lst):
                offs.append((g, pid, running))
                running += c
        gtype = dict(df.dtypes)[group]
        off_df = spark.createDataFrame(
            offs, f"`__scan_g` {gtype}, __scan_pid int, __scan_off long"
        )
        w = Window.partitionBy(group, "__scan_pid").orderBy(F.col(order_col).asc())
        # null-safe group match: a plain equi-join would silently drop rows
        # whose group value is null (the old per-group window ranked them)
        cond = F.col(group).eqNullSafe(F.col("__scan_g")) & (
            ranged["__scan_pid"] == off_df["__scan_pid"]
        )
        result = (
            ranged.join(F.broadcast(off_df), cond)
            .drop(off_df["__scan_pid"])
            .withColumn(out_col, F.col("__scan_off") + F.row_number().over(w) - 1)
            .drop("__scan_pid", "__scan_off", "__scan_g")
        )
        return _checkpoint_with_plan(result)
    finally:
        ranged.unpersist()
