"""Bootstrap inference (SURVEY M11) — the flagship Spark-native redesign.

The reference loops B times over rayon threads, materially resampling frames
(/root/reference/oaxaca_blinder/src/builder.rs:816-847). On Spark that would
be B jobs. Instead we add a *replicate dimension* to the data and compute ALL
B replicates' sufficient statistics in ONE aggregation:

    df -> explode rep=0..B-1 -> deterministic per-(row, rep) resample count
       -> groupBy(rep, group).agg(Gram exprs weighted by count)
       -> B x 2 tiny rows collected -> B driver-side k x k solves.

Two resampling methods:

- ``poisson`` (default, scale path): each row appears Poisson(1) times per
  replicate. No join, no sort; the exploded rows flow straight into partial
  (map-side) aggregation, so the only shuffle is B x 2 x O(k^2) doubles.
  Statistically standard for huge-n bootstraps.
- ``exact``: exact-n-with-replacement per group, matching the reference's
  ``sample_n_literal(height, true, ...)`` semantics (builder.rs:822-828).
  Implemented as a deterministic multinomial: B*n index picks generated from
  a hash, aggregated to per-(row, rep) counts, joined back on a within-group
  row index. One window + one shuffle join — use when B*n is moderate or
  reference-parity semantics matter.

All randomness is a pure function of (seed, rep, row_id): reruns hash-match
(SURVEY §7.1 determinism-first). The guarantee is conditional on a stable
row id: pass ``id_col`` (a durable key column) for cross-run / cross-cluster
determinism. Without it the row id falls back to
``monotonically_increasing_id``, which depends on input partitioning — a
rerun in the SAME session on the SAME cached plan hash-matches, but a rerun
under a different partitioning (different cluster size, different file
splits) may draw a different-but-equally-valid resample.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .scan import grouped_dense_rank
from ..functions.linalg import GroupStats, gram_agg_exprs, stats_from_row

__all__ = [
    "bootstrap_stats",
    "bootstrap_group_stats",
    "bootstrap_group_stats_fast",
    "poisson_count_expr",
    "poisson_replicate_count",
    "poisson_counts_np",
    "hash_uniform",
]

_U_DENOM = float(1 << 40)


def hash_uniform(*cols: Column) -> Column:
    """Deterministic U[0,1) from arbitrary columns via xxhash64."""
    return (F.pmod(F.xxhash64(*cols), F.lit(1 << 40)).cast("double") + F.lit(0.5)) / F.lit(_U_DENOM)


def poisson_count_expr(u: Column, max_k: int = 12) -> Column:
    """Poisson(1) count via inverse-CDF on a uniform — pure Catalyst CASE.

    P(K > 12) < 1e-13; the tail is capped at max_k.
    """
    cdf = 0.0
    pmf = math.exp(-1.0)
    expr = None
    for k in range(max_k):
        cdf += pmf
        cond = u < F.lit(cdf)
        expr = F.when(cond, F.lit(k)) if expr is None else expr.when(cond, F.lit(k))
        pmf /= k + 1
    return expr.otherwise(F.lit(max_k))


def poisson_replicate_count(row_id: Column, rep: Column, seed: int) -> Column:
    """How many times row ``row_id`` appears in Catalyst Poisson replicate
    ``rep`` (``bootstrap_group_stats(method='poisson')``), as a double. A
    pure function of (row id, rep, seed): it does not depend on the row's
    values."""
    return poisson_count_expr(hash_uniform(row_id, rep, F.lit(seed))).cast("double")


def bootstrap_stats(estimates: list[float], point_estimate: float) -> tuple[float, float, tuple[float, float]]:
    """Driver-side SE / p-value / percentile CI, mirroring inference.rs:4-34.

    SE = sd (n-1 denominator); p = min(1, 2*min(frac>=0, frac<=0));
    CI = sorted[floor(0.025 B)], sorted[min(floor(0.975 B), B-1)].
    """
    if not estimates:
        return (math.nan, math.nan, (math.nan, math.nan))
    n = float(len(estimates))
    mean = sum(estimates) / n
    if len(estimates) > 1:
        std_err = math.sqrt(sum((v - mean) ** 2 for v in estimates) / (n - 1.0))
    else:
        std_err = math.nan
    prop_pos = sum(1 for v in estimates if v >= 0.0) / n
    prop_neg = sum(1 for v in estimates if v <= 0.0) / n
    p_value = min(2.0 * min(prop_pos, prop_neg), 1.0)
    s = sorted(estimates)
    lower_idx = int(math.floor(0.025 * n))
    upper_idx = min(int(math.floor(0.975 * n)), len(estimates) - 1)
    return (std_err, p_value, (s[lower_idx], s[upper_idx]))


def bootstrap_group_stats(
    df: DataFrame,
    xcols: list[str],
    ycol: str,
    group: str,
    reps: int,
    seed: int,
    wcol: str | None = None,
    id_col: str = "__ob_row_id__",
    method: str = "poisson",
    group_sizes: dict[str, int] | None = None,
) -> dict[int, dict[str, GroupStats]]:
    """All B replicates' per-group sufficient statistics in one Spark job."""
    if method == "poisson":
        boot = df.withColumn("__rep", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))))
        boot = boot.withColumn("__cnt", poisson_replicate_count(F.col(id_col), F.col("__rep"), seed))
    elif method == "exact":
        if not group_sizes:
            group_sizes = {r[0]: r[1] for r in df.groupBy(group).count().collect()}
        spark = df.sparkSession
        picks = None
        for gval, n_g in group_sizes.items():
            p = (
                spark.range(reps * n_g)
                .select(
                    F.lit(gval).alias(group),
                    (F.col("id") / n_g).cast("long").alias("__rep"),
                    F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(str(gval))), F.lit(n_g)).alias("__pick"),
                )
            )
            picks = p if picks is None else picks.unionByName(p)
        counts = picks.groupBy(group, "__rep", "__pick").agg(
            F.count(F.lit(1)).cast("double").alias("__cnt")
        )
        base = grouped_dense_rank(df, group, id_col, "__gidx")
        boot = base.join(
            counts,
            on=[base[group] == counts[group], base["__gidx"] == counts["__pick"]],
        ).drop(counts[group]).drop("__pick", "__gidx")
    else:
        raise ValueError(f"unknown bootstrap method: {method}")

    if wcol is not None:
        boot = boot.withColumn("__bw", F.col("__cnt") * F.col(wcol))
    else:
        boot = boot.withColumn("__bw", F.col("__cnt"))
    boot = boot.filter(F.col("__cnt") > 0)

    aggs = gram_agg_exprs(xcols, ycol, wcol="__bw", count_expr=F.col("__cnt"))
    rows = boot.groupBy("__rep", group).agg(*aggs).collect()
    out: dict[int, dict[str, GroupStats]] = {}
    for r in rows:
        out.setdefault(int(r["__rep"]), {})[r[group]] = stats_from_row(r, xcols, has_y=True)
    return out


# ---------------------------------------------------------------------------
# Fast path: vectorized per-partition GEMM via mapInPandas
# ---------------------------------------------------------------------------

_SM_C1 = 0x9E3779B97F4A7C15
_SM_C2 = 0xBF58476D1CE4E5B9
_SM_C3 = 0x94D049BB133111EB


def _splitmix64(x):
    """Vectorized splitmix64 over a uint64 ndarray (wrapping arithmetic)."""
    import numpy as np

    z = (x + np.uint64(_SM_C1)).astype(np.uint64)
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(_SM_C2)).astype(np.uint64)
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(_SM_C3)).astype(np.uint64)
    return z ^ (z >> np.uint64(31))


def _poisson_cdf12():
    import numpy as np

    pmf = [math.exp(-1.0)]
    for kk in range(1, 12):
        pmf.append(pmf[-1] / kk)
    return np.cumsum(np.array(pmf))


def poisson_counts_np(rid, rep_ids, seed: int):
    """Deterministic (n x R) Poisson(1) count matrix — the splitmix64 stream.

    u[i, b] = splitmix64(rid_i ^ splitmix64(rep_b ^ seed)) / 2^64, inverted
    through the Poisson(1) CDF. Exactly the stream of
    ``bootstrap_group_stats_fast(method='poisson')``, so any engine built on
    this helper resamples identically regardless of partitioning. Negative
    rep ids (the rep = -1 point-estimate convention) get unit counts.
    """
    import numpy as np

    rep_ids = np.asarray(rep_ids, dtype=np.int64)
    rid = np.asarray(rid).astype(np.uint64)
    rep_keys = _splitmix64(rep_ids.astype(np.uint64) ^ np.uint64(seed))
    h = _splitmix64(rid[:, None] ^ rep_keys[None, :])
    u = h.astype(np.float64) / 18446744073709551616.0
    C = (
        np.searchsorted(_poisson_cdf12(), u.ravel(), side="right")
        .reshape(len(rid), len(rep_ids))
        .astype(np.float64)
    )
    C[:, rep_ids < 0] = 1.0
    return C


def bootstrap_group_stats_fast(
    df: DataFrame,
    xcols: list[str],
    ycol: str,
    group: str,
    reps: int,
    seed: int,
    wcol: str | None = None,
    id_col: str = "__ob_row_id__",
    rep_block: int = 128,
    include_identity: bool = False,
    method: str = "poisson",
    group_sizes: dict[str, int] | None = None,
) -> dict[int, dict[str, GroupStats]]:
    """Bootstrap via one mapInPandas GEMM pass + driver reduce.

    Scale design: each partition builds the per-row product features
    P (n_p x L) ONCE, forms the (n_p x B) deterministic count matrix, and
    reduces with a single BLAS GEMM P'·(C*w) — O(n·B·L) flops but in BLAS,
    not per-row codegen. Only (partitions x B x groups) stat vectors leave
    the executors; nothing scales with n on the driver. Counts are a pure
    function of (seed, row identity, rep), so results are independent of
    partitioning — reruns reproduce exactly.

    ``method`` selects how C is generated:

    - ``poisson``: counts from splitmix64(row_id, rep, seed) via inverse-CDF,
      entirely partition-local (no extra shuffle). The 100 TB default.
    - ``exact``: exact-n-with-replacement per group, reference-parity
      semantics (builder.rs:822-828). The SAME xxhash64 pick stream as
      ``bootstrap_group_stats(method='exact')`` is aggregated to per-row
      ``(rep, count)`` arrays and left-joined onto the data by within-group
      row index, then scattered into C inside the GEMM task. Costs one
      range(B·n) aggregation + one shuffle join — exactly the price of
      global exact-n semantics — but the Gram reduction stays BLAS instead
      of ~L Catalyst expressions over B·n exploded rows.

    ``include_identity=True`` additionally emits rep = -1 with unit counts —
    the POINT-estimate sufficient statistics — so a full decomposition with
    bootstrap needs exactly ONE pass over the data (plus, for ``exact``, a
    per-group count job to size the pick streams).
    """
    import numpy as np
    import pandas as pd

    k = len(xcols)
    tri = [(i, j) for i in range(k) for j in range(i, k)]
    L = len(tri) + 2 * k + 3  # xx, xsum, xy, yty, ysum, wsum
    B = reps
    use_exact = method == "exact"
    if method not in ("poisson", "exact"):
        raise ValueError(f"unknown fast bootstrap method: {method}")

    cols = [group, id_col, ycol] + xcols + ([wcol] if wcol else [])
    proj = df.select(*cols)
    if use_exact:
        if not group_sizes:
            group_sizes = {r[0]: r[1] for r in proj.groupBy(group).count().collect()}
        spark = df.sparkSession
        picks = None
        for gval, n_g in group_sizes.items():
            p = (
                spark.range(reps * int(n_g))
                .select(
                    F.lit(gval).alias("__g"),
                    (F.col("id") / int(n_g)).cast("long").alias("__rep"),
                    F.pmod(
                        F.xxhash64(F.col("id"), F.lit(seed), F.lit(str(gval))), F.lit(int(n_g))
                    ).alias("__pick"),
                )
            )
            picks = p if picks is None else picks.unionByName(p)
        pick_counts = (
            picks.groupBy("__g", "__pick", "__rep")
            .agg(F.count(F.lit(1)).cast("double").alias("__c"))
            .groupBy("__g", "__pick")
            .agg(F.sort_array(F.collect_list(F.struct("__rep", "__c"))).alias("__rc"))
            .select(
                "__g",
                "__pick",
                F.col("__rc.__rep").alias("__rl"),
                F.col("__rc.__c").alias("__cl"),
            )
        )
        base = grouped_dense_rank(proj, group, id_col, "__gidx")
        proj = (
            base.join(
                pick_counts,
                on=[base[group] == pick_counts["__g"], base["__gidx"] == pick_counts["__pick"]],
                how="left",
            )
            .drop("__g", "__pick", "__gidx")
        )
    out_schema = "rep long, grp string, stats array<double>"

    def compute(iterator):
        by_group: dict[str, list] = {}
        for pdf in iterator:
            for gval, sub in pdf.groupby(group, sort=False):
                by_group.setdefault(gval, []).append(sub)
        rows_out = []
        for gval, parts in by_group.items():
            sub = pd.concat(parts, ignore_index=True)
            n_g = len(sub)
            X = sub[xcols].to_numpy(dtype=np.float64)
            y = sub[ycol].to_numpy(dtype=np.float64)
            w = sub[wcol].to_numpy(dtype=np.float64) if wcol else np.ones(n_g)
            rid = sub[id_col].to_numpy(dtype=np.int64).astype(np.uint64)
            # per-row product features, weighted later by count*w
            P = np.empty((n_g, L), dtype=np.float64)
            c0 = 0
            for (i, j) in tri:
                P[:, c0] = X[:, i] * X[:, j]
                c0 += 1
            P[:, c0: c0 + k] = X
            c0 += k
            P[:, c0: c0 + k] = X * y[:, None]
            c0 += k
            P[:, c0] = y * y
            P[:, c0 + 1] = y
            P[:, c0 + 2] = 1.0
            G = np.empty((L, B), dtype=np.float64)
            ncnt = np.empty(B, dtype=np.float64)
            if include_identity:
                g_id = P.T @ w
                rows_out.append((-1, gval, np.append(g_id, float(n_g)).tolist()))
            if use_exact:
                # flatten this partition's per-row (rep, count) arrays once
                lens = np.array(
                    [0 if a is None else len(a) for a in sub["__rl"]], dtype=np.int64
                )
                row_flat = np.repeat(np.arange(n_g), lens)
                nz = [np.asarray(a, dtype=np.int64) for a in sub["__rl"] if a is not None and len(a)]
                rep_flat = np.concatenate(nz) if nz else np.empty(0, dtype=np.int64)
                cz = [np.asarray(a, dtype=np.float64) for a in sub["__cl"] if a is not None and len(a)]
                cnt_flat = np.concatenate(cz) if cz else np.empty(0, dtype=np.float64)
            for b0 in range(0, B, rep_block):
                b1 = min(b0 + rep_block, B)
                nb = b1 - b0
                if use_exact:
                    C = np.zeros((n_g, nb), dtype=np.float64)
                    m = (rep_flat >= b0) & (rep_flat < b1)
                    C[row_flat[m], rep_flat[m] - b0] = cnt_flat[m]
                else:
                    C = poisson_counts_np(rid, np.arange(b0, b1), seed)
                ncnt[b0:b1] = C.sum(axis=0)
                G[:, b0:b1] = P.T @ (C * w[:, None])
            for b in range(B):
                rows_out.append((b, gval, np.append(G[:, b], ncnt[b]).tolist()))
        yield pd.DataFrame(rows_out, columns=["rep", "grp", "stats"])

    pdf_all = proj.mapInPandas(compute, schema=out_schema).toPandas()

    # driver reduce: element-wise sum of partial stat vectors per (rep, group)
    acc: dict[tuple[int, str], np.ndarray] = {}
    for rep, gval, stats in zip(pdf_all["rep"], pdf_all["grp"], pdf_all["stats"]):
        key = (int(rep), gval)
        arr = np.asarray(stats, dtype=np.float64)
        if key in acc:
            acc[key] += arr
        else:
            acc[key] = arr.copy()

    out: dict[int, dict[str, GroupStats]] = {}
    ntri = len(tri)
    for (rep, gval), v in acc.items():
        xtx = np.zeros((k, k))
        for idx, (i, j) in enumerate(tri):
            xtx[i, j] = xtx[j, i] = v[idx]
        xsum = v[ntri: ntri + k]
        xy = v[ntri + k: ntri + 2 * k]
        yty = v[ntri + 2 * k]
        ysum = v[ntri + 2 * k + 1]
        wsum = v[ntri + 2 * k + 2]
        n = int(round(v[ntri + 2 * k + 3]))
        out.setdefault(rep, {})[gval] = GroupStats(
            names=list(xcols), n=n, wsum=wsum, xtx=xtx, xty=xy, xsum=xsum, yty=yty, ysum=ysum
        )
    return out
