"""Partition offsets, row ids and driver-built tables.

A ``Window.orderBy(...)`` with no partition key, or one partitioned only by
a low-cardinality group, funnels rows through a single task. Every scan
here instead works on a frame whose layout is pinned (persisted, locally
checkpointed, or a deterministic source scan) and calls one helper,
``partition_offsets``: one aggregation of a sum cell per (optional group
key, partition id), the exclusive offsets folded on the driver in
partition order, and the offsets attached without a Python-list table.
Its callers:

- ``ordered_prev_cumsum``: global exclusive running total (the reference's
  sequential payment loop, oaxaca_blinder/src/analysis.rs): the greedy
  schedule of engine_ops.optimize and efficient_frontier above
  ``engine_ops.COLLECT_LIMIT`` in-scope rows (below it they order and sum
  one collect on the driver), budget.allocate_budget, corpus packing
  offsets and score ranks, and textops vocabulary ids;
- ``grouped_prev_cumsum{,_multi}``: running totals within each group;
- ``grouped_dense_rank``: dense per-group positions (the exact bootstrap);
- ``sources/csv.attach_row_ids``: dense ids in input order.

Each finishes with a window local to its (group, partition) cell, so the
work is P x |groups| uniform units at any size. ``quantile_builder``'s
distributed engine takes the folded offsets alone (``partition_cells``)
and ranks each side's rows inside its row passes. ``with_row_id`` is the one
fallback row identity and ``local_table`` the one way a table built on the
driver enters the JVM. ``pinned`` is the one way a multi-pass estimator
checkpoints its frames and drops them when it is done.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "partition_cells",
    "partition_offsets",
    "ordered_prev_cumsum",
    "release",
    "pinned",
    "grouped_prev_cumsum",
    "grouped_prev_cumsum_multi",
    "grouped_dense_rank",
    "with_row_id",
    "local_table",
]


def local_table(spark, columns: dict[str, tuple[str, list]]) -> DataFrame:
    """A small driver-built table (``name -> (Spark SQL type, values)``,
    e.g. ``"long"``, ``"string"``, ``"array<double>"``; the values a list,
    a NumPy array or a pyarrow array) as a JVM LocalRelation. ``createDataFrame`` on a Python list yields a pickled
    Python RDD, which starts Python worker tasks in every job that reads
    it; an Arrow table is decoded in the JVM alone."""
    import pyarrow as pa

    ddl = ", ".join(f"`{name}` {t}" for name, (t, _) in columns.items())
    return spark.createDataFrame(pa.table({name: vals for name, (_, vals) in columns.items()}), ddl)


def with_row_id(df: DataFrame, id_col: str | None, name: str) -> DataFrame:
    """``name`` = ``id_col`` cast to long, or ``monotonically_increasing_id()``
    without one. The fallback depends on the input's partitioning: ids, and
    whatever they seed or break ties on, can change when it does, so pass
    ``id_col`` for reproducible results."""
    return df.withColumn(name, F.col(id_col).cast("long") if id_col else F.monotonically_increasing_id())


def partition_cells(
    pinned: DataFrame, pid: str, values: dict[str, Column], group: str | None = None
) -> tuple[dict, dict, dict]:
    """The driver half of ``partition_offsets``: each ``values`` column
    summed per (``group``, ``pid``) cell in one aggregation, and folded per
    group in ``pid`` order. Returns ``{(group, pid): [exclusive sums]}``, each
    group's grand totals (keyed ``None`` when there is no group) and the
    Spark SQL type of each sum."""
    names = list(values)
    cells = pinned.groupBy(*([group] if group else []), pid).agg(
        *[F.sum(c).alias(n) for n, c in values.items()]
    )
    types = {f.name: f.dataType.simpleString() for f in cells.schema.fields}
    zero = [0.0 if types[n] == "double" else 0 for n in names]
    by_group: dict = {}
    for r in cells.collect():
        by_group.setdefault(r[group] if group else None, []).append(r)
    offsets, totals = {}, {}
    for g, rows in by_group.items():
        running = zero
        for r in sorted(rows, key=lambda r: r[pid]):
            offsets[(g, r[pid])] = running
            running = [a + (r[n] or z) for a, n, z in zip(running, names, zero)]
        totals[g] = running
    return offsets, totals, types


def partition_offsets(
    pinned: DataFrame, pid: str, values: dict[str, Column], group: str | None = None
) -> tuple[DataFrame, dict]:
    """Attach each row's exclusive partition offsets.

    ``pinned`` must present the same rows in the same layout every time it
    is read, and ``pid`` numbers its partitions in scan order. Each
    ``values`` column is summed per (``group``, ``pid``) cell in one
    aggregation; the driver folds the cells of each group, in ``pid``
    order, into the sum over that group's earlier partitions, attached as
    the column named by the ``values`` key (a null group is a group of its
    own). Without a group the offsets are a literal array indexed by
    ``pid``; with one, a broadcast ``local_table`` join. Also returns each
    group's grand totals, keyed ``None`` when there is no group."""
    names = list(values)
    offsets, totals, types = partition_cells(pinned, pid, values, group)
    zero = [0.0 if types[n] == "double" else 0 for n in names]
    if group is None:
        at = {p: off for (_, p), off in offsets.items()}

        def lookup(i: int) -> Column:
            lits = [F.lit(at.get(p, zero)[i]) for p in range(max(at, default=-1) + 1)]
            return F.element_at(F.array(*lits), F.col(pid).cast("int") + 1) if lits else F.lit(zero[i])

        return pinned.withColumns({n: lookup(i).cast(types[n]) for i, n in enumerate(names)}), totals
    table = local_table(pinned.sparkSession, {
        "__off_g": (types[group], [g for g, _ in offsets]),
        "__off_pid": (types[pid], [p for _, p in offsets]),
        **{n: (types[n], [off[i] for off in offsets.values()]) for i, n in enumerate(names)},
    })
    cond = F.col(group).eqNullSafe(table["__off_g"]) & (F.col(pid) == table["__off_pid"])
    return pinned.join(F.broadcast(table), cond).drop("__off_g", "__off_pid"), totals


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
    collapsing the data to one partition: range-partition on the ordering
    (partition p's rows all precede partition p+1's; ties never span a
    boundary), offset each partition by the sums before it and finish with
    a partition-local window. The grand total of ``value`` is attached as
    ``._scan_total``; ``release`` drops the checkpoint.
    """
    nparts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
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
        offset, totals = partition_offsets(ranged, "__scan_pid", {"__scan_off": F.col("__scan_v")})
        w = (
            Window.partitionBy("__scan_pid")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        result = offset.withColumn(
            out_col, F.col("__scan_off") + F.coalesce(F.sum("__scan_v").over(w), F.lit(0.0))
        ).drop("__scan_pid", "__scan_v", "__scan_off")
        out = _checkpoint_with_plan(result)
        out._scan_total = totals.get(None, [0.0])[0]
        return out
    finally:
        ranged.unpersist()


def release(scanned: DataFrame) -> None:
    """Drop the blocks a local checkpoint pins. The frame (and anything
    derived from it) must not be read afterwards. A frame that is not a
    checkpoint pins nothing."""
    plan = scanned._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


@contextmanager
def pinned():
    """Yield ``pin``: ``pin(frame)`` eagerly checkpoints ``frame`` locally and
    returns the checkpoint. Every checkpoint pinned in the block is released
    when it exits, so nothing read afterwards may derive from one, except
    the checkpoints handed over by ``pin.keep(*frames)``: it returns the
    function that releases them, for the result that returns them to own.
    An iteration passes the checkpoints the new one supersedes as
    ``replaces``; they are released as soon as it is materialized."""
    frames: dict[int, DataFrame] = {}  # by identity

    def pin(frame: DataFrame, *replaces: DataFrame) -> DataFrame:
        out = frame.localCheckpoint()
        frames[id(out)] = out
        for old in replaces:
            release(frames.pop(id(old), old))
        return out

    def keep(*kept: DataFrame):
        for frame in kept:
            frames.pop(id(frame), None)
        return lambda: [release(frame) for frame in kept]

    pin.keep = keep
    try:
        yield pin
    finally:
        for frame in frames.values():
            release(frame)


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
    so a big group SPANS partitions, offset each (group, partition) cell by
    the group's earlier partitions, and finish with a window local to the
    cell.

    Totals accumulate in int64 (``value`` is cast to long) — exact for
    token counts; use ordered_prev_cumsum for float values. Rows with a
    null group form their own group, matching ``Window.partitionBy``
    semantics. Result is eagerly checkpointed.
    """
    return grouped_prev_cumsum_multi(df, group, order, [(value, out_col)])


def grouped_prev_cumsum_multi(
    df: DataFrame,
    group: str,
    order: list[Column],
    values: list[tuple[Column, str]],
) -> DataFrame:
    """N exclusive running totals under ONE ordering in ONE ranged pass —
    the shared machinery behind ``grouped_prev_cumsum``. Each output column
    equals the single-value scan's: same range partitioning, same per-cell
    int64 sums, same window.
    """
    nparts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    ranged = df.repartitionByRange(
        nparts, F.col(group).asc(), *order
    ).withColumn("__scan_pid", F.spark_partition_id())
    for i, (value, _) in enumerate(values):
        ranged = ranged.withColumn(f"__scan_v{i}", value.cast("long"))
    ranged = ranged.persist()
    try:
        result, _ = partition_offsets(
            ranged, "__scan_pid", {f"__scan_off{i}": F.col(f"__scan_v{i}") for i in range(len(values))}, group
        )
        w = (
            Window.partitionBy(group, "__scan_pid")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        drop = ["__scan_pid"]
        for i, (_, out_col) in enumerate(values):
            result = result.withColumn(
                out_col,
                F.col(f"__scan_off{i}")
                + F.coalesce(F.sum(f"__scan_v{i}").over(w), F.lit(0).cast("long")),
            )
            drop += [f"__scan_off{i}", f"__scan_v{i}"]
        return _checkpoint_with_plan(result.drop(*drop))
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
    range-partition on (group, order), offset each (group, partition) cell
    by the group's row count in earlier partitions, and rank with a window
    local to the cell — P*|groups| uniform units of work. The result is
    eagerly checkpointed before the ranged cache is released so downstream
    actions cannot observe a re-sampled partitioning.
    """
    nparts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    ranged = (
        df.repartitionByRange(nparts, F.col(group).asc(), F.col(order_col).asc())
        .withColumn("__scan_pid", F.spark_partition_id())
        .persist()
    )
    try:
        result, _ = partition_offsets(ranged, "__scan_pid", {"__scan_off": F.lit(1)}, group)
        w = Window.partitionBy(group, "__scan_pid").orderBy(F.col(order_col).asc())
        result = result.withColumn(
            out_col, F.col("__scan_off") + F.row_number().over(w) - 1
        ).drop("__scan_pid", "__scan_off")
        return _checkpoint_with_plan(result)
    finally:
        ranged.unpersist()
