"""Deduplication operators (net-new scale surface; BASELINE.json north star).

- exact_duplicates: hash-groupBy on a canonical fingerprint. One shuffle on
  the hash; at 100 TB this is the cheapest possible formulation (the md5 is
  computed map-side, only (hash, id) pairs shuffle).
- minhash_lsh_candidates: shingle -> minhash signature -> LSH band buckets ->
  bucket self-join. All hashing is md5-based so results are reproducible and
  oracle-checkable. Bands shuffle on (band_idx, band_key): near-duplicates
  collide, everything else distributes uniformly — no skew beyond true dup
  clusters.
- simhash64: 64-bit SimHash from token md5s, Hamming-bucketed.
- ngram_jaccard: exact Jaccard over token n-grams for candidate pairs
  (explode + join + group count — the standard verify step after LSH).
- embedding_cosine_dups: near-dup detection on an embedding column.

All operators avoid Python UDFs; the hot path is higher-order array functions
and hash built-ins inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "exact_duplicates",
    "dedup_keep_best",
    "shingles",
    "minhash_signature",
    "minhash_table",
    "minhash_bands",
    "minhash_lsh_candidates",
    "dedup_state",
    "incremental_dedup",
    "simhash64",
    "simhash_table",
    "simhash_candidates",
    "ngram_jaccard",
    "edit_distance_pairs",
    "embedding_cosine_dups",
    "embedding_cosine_dups_lsh",
    "dup_clusters",
    "size_pruned_pairs",
    "prefix_filtered_pairs",
    "span_dedup",
    "dup_substring_spans",
    "remove_dup_substrings",
    "contamination_spans",
    "remove_contaminated_spans",
]


def _spread_carve_input(df: DataFrame) -> DataFrame:
    """r14 OPT (guide §2.5 input skew): a single-split input serializes a
    heavy map-side carve (token split + per-window hashing) onto one core
    before any exchange spreads it. Round-robin repartition to the default
    parallelism when the input has fewer splits than min(parallelism, 8).
    Partitioning only — every consumer below is a keyed aggregation/join or
    a one-row-per-doc projection, so results are layout-invariant. The
    `.rdd` partition probe is free on raw scans (the contract callers);
    known-spread derived pipelines should skip the call (the f452e73
    `spread=` convention)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min(par, 8):
        df = df.repartition(par)
    return df


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (content_hash, dup_count, doc_ids)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("dup_count") > 1)
    )


def dedup_keep_best(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_col: str | None = None,
) -> DataFrame:
    """Exact dedup keeping the BEST duplicate, not an arbitrary one.

    prepare_corpus keeps the lowest id per content group (a stable,
    history-friendly default); real pipelines often want to keep the
    highest-QUALITY copy instead — e.g. the crawl snapshot with the least
    boilerplate. ``score_col`` ranks the group (higher wins; ties break to
    the lowest id so the result stays deterministic); None falls back to
    textops.quality_score computed on the fly.

    Returns the input rows of the winners only (schema unchanged — the
    removal-face convention, composes like blocklist_filter).

    Scale shape: ONE groupBy on md5(text) using max_by over a (score,
    -id) struct — map-side partial max, no window, no sort; the winners
    join back broadcast-free on (hash, id) equi-keys. At 100 TB this is
    the same shuffle exact_duplicates already pays, plus a co-keyed join.
    """
    from . import textops as _textops_mod  # lazy: dedup must import light

    score = (
        F.col(score_col).cast("double")
        if score_col is not None
        else F.round(_textops_mod.quality_score(F.col(text_col)), 6)
    )
    keyed = df.withColumn("__h", F.md5(F.coalesce(F.col(text_col), F.lit(""))))
    # min_by over (-score, id) == "max score, ties to LOWEST id", with the id
    # compared in its NATIVE type: casting a string id to long would null the
    # tie-break silently and make the winner partition-dependent.
    winners = (
        keyed.select(
            "__h",
            F.struct(
                (-F.coalesce(score, F.lit(float("-inf")))).alias("neg_s"),
                F.col(id_col).alias("i"),
            ).alias("__rank"),
            F.col(id_col).alias("__best_id"),
        )
        .groupBy("__h")
        .agg(F.min_by("__best_id", F.col("__rank")).alias("__best_id"))
    )
    winners = winners.select(
        F.col("__h").alias("__wh"), F.col("__best_id")
    )
    return (
        keyed.join(
            winners,
            (keyed["__h"] == winners["__wh"])
            & (keyed[id_col] == winners["__best_id"]),
            "left_semi",
        )
        .drop("__h")
    )


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-shingles as an array of strings (lowercased, whitespace tokens).

    Invariant: the result is NEVER empty — a document shorter than k words
    (including empty or null text) yields the one-element array of its
    joined tokens. This is what keeps the exploded table forms
    (minhash_table / simhash_table) lossless: explode always emits at least
    one row per document, so short/empty docs participate in LSH banding
    and cross-corpus candidates exactly like the Column forms
    (test_dedup.py::test_table_forms_keep_short_docs).
    """
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def _min_hash(sh: Column, perm: int) -> Column:
    """One minhash value: lexicographic min of md5(perm || shingle).

    md5-string min is deterministic and identical in DuckDB — the whole
    signature is oracle-checkable SQL.
    """
    return F.array_min(F.transform(sh, lambda s: F.md5(F.concat(F.lit(f"p{perm}:"), s))))


def minhash_signature(text: Column, num_perm: int = 16, k: int = 3) -> Column:
    sh = shingles(text, k)
    return F.array(*[_min_hash(sh, p) for p in range(num_perm)])


def minhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    k: int = 3,
    out_col: str = "sig",
    spread: bool = True,
) -> DataFrame:
    """(id, sig) MinHash signatures for a whole corpus — the scalable face
    of minhash_signature.

    The Column form evaluates num_perm array transforms + mins per row,
    which drops off whole-stage codegen (measured ~50 s for 5000 docs at
    num_perm=16). This shape explodes the distinct shingles ONCE and takes
    num_perm flat min(md5) aggregates in one groupBy — vectorized JVM
    end-to-end, identical values (same md5 inputs, and min over strings is
    the same lexicographic order as array_min). ~20x faster corpus-wide.
    """
    # r14 OPT (guide §2.5 input skew): a single-split input serializes the
    # shingle carve + 16 md5s/shingle onto one core before the groupBy
    # spreads it. Partitioning only — min(md5) per id is layout-invariant.
    # Callers that already spread their frame pass spread=False: the
    # .rdd partition probe is free on raw scans but triggers AQE stage
    # materialization on derived frames (measured 3 extra jobs on a joined
    # input), so the probe must not run on known-spread pipelines.
    if spread:
        par = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < min(par, 8):
            df = df.repartition(par)
    ex = df.select(F.col(id_col), F.explode(shingles(F.col(text_col), k)).alias("__s"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"p{p}:"), F.col("__s")))).alias(f"__m{p}")
        for p in range(num_perm)
    ]
    agg = ex.groupBy(id_col).agg(*aggs)
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"__m{p}") for p in range(num_perm)]).alias(out_col),
    )


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    k: int = 3,
    spread: bool = True,
) -> DataFrame:
    """(id, band_idx, band_key) rows — the LSH banding shared by the
    within-corpus candidate join and the cross-corpus dedup join. Two frames
    banded with identical parameters collide on the same keys."""
    rows_per_band = num_perm // bands
    with_sig = minhash_table(
        df, text_col=text_col, id_col=id_col, num_perm=num_perm, k=k,
        out_col="__sig", spread=spread,
    )
    band_cols = []
    for b in range(bands):
        band = F.concat_ws("|", *[F.col("__sig")[b * rows_per_band + r] for r in range(rows_per_band)])
        band_cols.append(F.struct(F.lit(b).alias("band_idx"), F.md5(band).alias("band_key")))
    return with_sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("__band")
    ).select(id_col, F.col("__band.band_idx").alias("band_idx"), F.col("__band.band_key").alias("band_key"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    k: int = 3,
    spread: bool = True,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) colliding in >=1 LSH band."""
    banded = minhash_bands(df, text_col=text_col, id_col=id_col, num_perm=num_perm, bands=bands, k=k, spread=spread)
    # r14 OPT (guide §5 reuse): materialize the banded table before the
    # self-join — both join sides otherwise re-run the full MinHash pass
    # (shingle explode + num_perm min-md5 aggregates over the corpus; no
    # plan-level ReusedExchange fires for the two sides). The banded table
    # is `bands` rows of 32-char keys per document — the small dedup state,
    # exactly what a 100 TB pipeline persists anyway (see dedup_state).
    banded = banded.localCheckpoint()
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            on=[
                F.col("l.band_idx") == F.col("r.band_idx"),
                F.col("l.band_key") == F.col("r.band_key"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    return pairs


def dedup_state(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    k: int = 3,
) -> DataFrame:
    """Persistable dedup state of a corpus: one row per document —
    ``(id, fp, sig)`` where ``fp`` is the md5 exact fingerprint and
    ``sig`` the ``num_perm``-component MinHash signature. This is the ONE
    expensive text pass (shingle explode + per-permutation md5 mins); LSH
    band keys are pure projections of ``sig`` and are derived on demand,
    so the state a daily ingestion pipeline writes to parquet is this
    table and nothing else. See ``incremental_dedup`` for the consumer
    and the append recipe.

    Scale shape (100 TB): the state is ~50 bytes of hashes per document
    regardless of text size; build it once per corpus, append per-batch.
    For the exact stage's equi-join, persist it bucketed by ``fp``
    (``DataFrameWriter.bucketBy``) so each ingest prunes to colliding buckets.
    Engine parity: fp and every sig component are md5 strings — the whole
    table replays bit-identically in DuckDB (the contract oracle does)."""
    sig = minhash_table(df, text_col=text_col, id_col=id_col, num_perm=num_perm, k=k, out_col="sig")
    fp = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("fp"))
    return fp.join(sig, id_col)


def _band_keys_from_sig(
    state: DataFrame, id_col: str, num_perm: int, bands: int
) -> DataFrame:
    """(id, band_idx, band_key) derived from a ``dedup_state`` sig column —
    the identical banding minhash_bands computes from text (same concat_ws
    + md5), as a pure projection with no text access."""
    rows_per_band = num_perm // bands
    band_cols = []
    for b in range(bands):
        band = F.concat_ws(
            "|", *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
        )
        band_cols.append(
            F.struct(F.lit(b).alias("band_idx"), F.md5(band).alias("band_key"))
        )
    return state.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("__band")
    ).select(
        id_col,
        F.col("__band.band_idx").alias("band_idx"),
        F.col("__band.band_key").alias("band_key"),
    )


def incremental_dedup(
    batch: DataFrame,
    state: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    k: int = 3,
    sig_threshold: float = 0.9,
) -> DataFrame:
    """Dedup a NEW batch against the PERSISTED state of an existing corpus
    without recomputing (or even reading) the corpus text — the daily
    ingestion face ``ingest_increment`` runs with ``cross_corpus_dedup``
    replaced by a state lookup. Returns ``(id, matched_ref_id, stage)``
    for every batch document duplicating a state document; callers drop
    them (``batch.join(result, id, 'left_anti')``) and append the
    survivors' own state rows:

        state   = dedup_state(corpus)                       # once, persisted
        matches = incremental_dedup(todays_batch, state)
        kept    = todays_batch.join(matches.select(id), id, 'left_anti')
        state   = state.unionByName(dedup_state(kept))      # tomorrow's state

    Stages, exact preferred over near, matched_ref_id = min matching state
    id (deterministic, oracle-comparable — the cross_corpus_dedup
    convention):

    - 'exact': batch md5 fingerprint equi-joins ``state.fp``.
    - 'near': batch band keys join the state's derived band keys, then
      candidates verify by SIGNATURE AGREEMENT — dup iff at least
      ``ceil(sig_threshold * num_perm)`` of the ``num_perm`` components
      match (>= 15/16 at the defaults). With no corpus text available the
      estimated Jaccard (component agreement is an unbiased estimator of
      Jaccard) replaces cross_corpus_dedup's exact n-gram verify; at the
      0.9 design threshold 15/16 agreement is a strictly conservative
      verify on top of the band collision. The decision is an integer
      compare — no float boundary rides the contract hash.

    Bridge-chain semantics (PINNED, the r12 caveat): matching is batch
    -> state ONLY. If state holds A, and the batch holds B ~ A and
    C ~ B with C !~ A, then B is dropped but C is KEPT — a batch
    document never matches another batch document here (run the
    within-batch dedup first, as ingest_increment does, and note even
    the full-rebuild comparison keeps such chains equivalent only up to
    the documented bridge divergence). The suite pins both directions.

    Scale shape (100 TB): per-ingest text work is batch-sized (the
    batch's own state pass); the corpus contributes one fp equi-join and
    one banded hash join over ~50-byte state rows — the corpus text is
    never scanned. ``num_perm``/``bands``/``k`` must match the values the
    state was built with (band keys are positional slices of sig)."""
    import math

    need = math.ceil(sig_threshold * num_perm)
    bstate = dedup_state(batch, text_col=text_col, id_col=id_col, num_perm=num_perm, k=k)
    # r14 OPT (guide §5 reuse): materialize the batch state once — it feeds
    # THREE consumers (the exact fp equi-join, the derived band keys and the
    # near-stage signature join) and `exact` is consumed twice (output union
    # + the near anti-join); left lazy, each consumer re-runs the batch's
    # shingle explode + 16 min-md5 aggregates (~4-5 full batch text passes
    # measured at sf0.1). The batch state is the ~50-byte-per-doc table the
    # docstring promises as "the ONE expensive text pass" — materializing it
    # makes that literally true.
    bstate = bstate.localCheckpoint()
    sstate = state.select(
        F.col(id_col).alias("__rid"), F.col("fp").alias("__rfp"), F.col("sig").alias("__rsig")
    )
    exact = (
        bstate.join(sstate, bstate["fp"] == sstate["__rfp"])
        .groupBy(id_col)
        .agg(F.min("__rid").alias("matched_ref_id"))
        .withColumn("stage", F.lit("exact"))
    )
    # exact matches are a tiny table consumed twice (result union + the
    # near-stage anti-join) — pin it rather than re-running the fp join
    exact = exact.localCheckpoint()
    nb = _band_keys_from_sig(bstate, id_col, num_perm, bands)
    rb = _band_keys_from_sig(
        sstate.select(F.col("__rid").alias(id_col), F.col("__rsig").alias("sig")),
        id_col, num_perm, bands,
    ).select(F.col(id_col).alias("__rid"), "band_idx", "band_key")
    cand = nb.join(rb, ["band_idx", "band_key"]).select(id_col, "__rid").distinct()
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig"), F.col("__rsig"), lambda a, b: a == b),
            lambda v: v,
        )
    )
    near = (
        cand.join(bstate.select(id_col, "sig"), id_col)
        .join(sstate.select("__rid", "__rsig"), "__rid")
        .where(agree >= F.lit(need))
        .groupBy(id_col)
        .agg(F.min("__rid").alias("matched_ref_id"))
        .withColumn("stage", F.lit("near"))
    )
    return exact.unionByName(near.join(exact.select(id_col), id_col, "left_anti"))


def simhash64(text: Column, k: int = 2) -> Column:
    """64-bit SimHash over word k-shingles.

    Per bit b: sum of +-1 votes from each shingle's xxhash64 bit b; bit set
    when the vote is positive. Expressed with aggregate() over the shingle
    array — stays in codegen.
    """
    sh = shingles(text, k)
    hashes = F.transform(sh, lambda s: F.xxhash64(s))
    bits = []
    for b in range(64):
        vote = F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1)),
        )
        bits.append(F.when(vote > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")) * F.lit(2 ** b).cast("long") if b < 63 else F.when(vote > 0, F.lit(-(2 ** 63)).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
    out_col: str = "simhash",
) -> DataFrame:
    """(id, simhash) for a whole corpus — the scalable face of simhash64.

    The Column form runs 64 nested `aggregate()` higher-order functions per
    row, which falls off whole-stage codegen onto the interpreted-lambda
    path (measured ~50x slower corpus-wide). This shape stays vectorized
    JVM end-to-end: explode the distinct shingles, xxhash64 each (codegen),
    then ONE groupBy(id) with 64 flat conditional-sum vote aggregates and
    a final bit-reassembly projection. Identical values to simhash64 (same
    shingles, same hashes, same vote rule) — asserted in the suite.
    """
    sh = shingles(F.col(text_col), k)
    # r14 OPT (guide §2.5 input skew): spread a single-split input before
    # the carve+hash map side (integer vote sums are layout-invariant)
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min(par, 8):
        df = df.repartition(par)
    hashed = df.select(
        F.col(id_col), F.explode(sh).alias("__s")
    ).select(id_col, F.xxhash64("__s").alias("__h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"__v{b}")
        for b in range(64)
    ]
    agg = hashed.groupBy(id_col).agg(*votes)
    bits = []
    for b in range(64):
        v = F.col(f"__v{b}")
        if b < 63:
            bits.append(F.when(v > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long")))
        else:
            bits.append(F.when(v > 0, F.lit(-(2 ** 63)).cast("long")).otherwise(F.lit(0).cast("long")))
    total = bits[0]
    for bcol in bits[1:]:
        total = total + bcol
    return agg.select(F.col(id_col), total.alias(out_col))


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    k: int = 2,
    sig_col: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance:
    (id_a, id_b, hamming) with hamming <= max_hamming.

    Classic bit-band blocking (the web-dedup construction): split the 64-bit
    signature into ``max_hamming + 1`` equal bands — by pigeonhole, any pair
    within the Hamming budget agrees EXACTLY on at least one band — join on
    (band_idx, band_value), then verify ``bit_count(xor)`` on the candidate
    set only. Shuffle key is the band value (uniform: signature bits are
    hash votes); everything stays codegen. Band extraction uses arithmetic
    shift + mask, well-defined for the sign-bit band.

    Pass ``sig_col`` to reuse precomputed signatures (skips re-hashing).
    """
    n_bands = int(max_hamming) + 1
    width = 64 // n_bands
    if sig_col:
        base = df.select(F.col(id_col), F.col(sig_col).alias("__sig"))
    else:
        # corpus-wide signature computation goes through the vectorized
        # explode+groupBy table, not the interpreted 64-HOF column form
        base = simhash_table(df, text_col=text_col, id_col=id_col, k=k, out_col="__sig")
    mask = (1 << width) - 1
    banded = base.select(
        id_col,
        "__sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("__sig"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("__band"),
    ).select(
        id_col,
        "__sig",
        F.col("__band.band_idx").alias("band_idx"),
        F.col("__band.band_val").alias("band_val"),
    )
    # r14 OPT (guide §5 reuse): both self-join sides previously re-ran the
    # whole simhash_table subtree (shingle explode + 64 vote aggregates over
    # the corpus — differently-aliased subtrees share no exchange); pin the
    # banded table once.
    banded = banded.localCheckpoint()
    left = banded.alias("l")
    right = banded.alias("r")
    ham = F.bit_count(F.col("l.__sig").bitwiseXOR(F.col("r.__sig")))
    return (
        left.join(
            right,
            on=[
                F.col("l.band_idx") == F.col("r.band_idx"),
                F.col("l.band_val") == F.col("r.band_val"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= int(max_hamming))
        .distinct()
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    Join the shingle sets onto (id_a, id_b) and compute |A∩B|/|A∪B| with
    array intersections — two broadcast-able joins when pairs are few, or
    shuffle joins on id at scale.
    """
    # r14 OPT (guide §5 reuse + §2.5): the shingle-set table feeds BOTH pair
    # joins — left lazy, each side re-carved the corpus (single-task on a
    # one-split scan); spread, carve once, pin.
    sh = (
        _spread_carve_input(df)
        .select(F.col(id_col), shingles(F.col(text_col), k).alias("__sh"))
        .localCheckpoint()
    )
    out = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sh", "__sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sh", "__sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
                / F.size(F.array_union("__sh_a", "__sh_b")).cast("double")
            ).alias("jaccard"),
        )
    )
    return out


def edit_distance_pairs(
    df: DataFrame,
    pairs: DataFrame,
    max_dist: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Levenshtein edit-distance verify for candidate pairs — the
    character-level companion to ``ngram_jaccard``'s set-level verify.
    Jaccard is blind to ORDER (a shuffled paragraph keeps its shingle set);
    edit distance is the metric that certifies "same text up to k character
    edits", the contract OCR/transcription near-dup pipelines need.

    ``pairs`` is any (id_a, id_b) candidate frame — at scale that is
    ``minhash_lsh_candidates`` / ``simhash_candidates`` output (banded,
    never all-pairs); tests may feed small explicit pair sets.

    Returns (id_a, id_b, len_a, len_b, dist, sim) with
    ``sim = 1 - dist / max(len_a, len_b, 1)`` — only pairs with
    ``dist <= max_dist`` when a bound is given. NULL text counts as empty
    (the corpus-wide coalesce convention).

    Scale shape: two keyed joins carry the texts onto the pair list (the
    ngram_jaccard plan), then per pair:

    - a FREE length prune first — ``|len_a - len_b| > max_dist`` implies
      ``dist > max_dist`` (each unmatched character costs one edit), so the
      quadratic DP never runs on length-mismatched candidates;
    - the bounded DP via Spark's three-arg ``levenshtein(a, b, threshold)``
      (banded Ukkonen evaluation, O(len * max_dist) instead of
      O(len_a * len_b); returns -1 past the bound, which the filter drops).

    Everything is whole-stage codegen; no Python in the loop.
    """
    if max_dist is not None and int(max_dist) < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    txt = df.select(
        F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias("__t")
    )
    joined = (
        pairs.join(txt.withColumnRenamed(id_col, "id_a").withColumnRenamed("__t", "__ta"), "id_a")
        .join(txt.withColumnRenamed(id_col, "id_b").withColumnRenamed("__t", "__tb"), "id_b")
        .withColumn("len_a", F.length("__ta"))
        .withColumn("len_b", F.length("__tb"))
    )
    if max_dist is not None:
        bound = int(max_dist)
        joined = joined.filter(
            F.abs(F.col("len_a") - F.col("len_b")) <= F.lit(bound)
        ).withColumn("dist", F.levenshtein("__ta", "__tb", bound))
        joined = joined.filter(F.col("dist") >= 0)
    else:
        joined = joined.withColumn("dist", F.levenshtein("__ta", "__tb"))
    return joined.select(
        "id_a",
        "id_b",
        "len_a",
        "len_b",
        "dist",
        (
            1.0
            - F.col("dist").cast("double")
            / F.greatest(F.col("len_a"), F.col("len_b"), F.lit(1)).cast("double")
        ).alias("sim"),
    )


def embedding_cosine_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity >= threshold.

    Brute-force O(n^2) self-join — the exactness baseline; the default scale
    path is `embedding_cosine_dups_lsh` below (bucketed candidates only).

    The pair join plans as a BroadcastNestedLoopJoin whose output
    partitioning is the STREAMED side's: a single-split parquet input would
    run every pairwise cosine in one task (measured 24.5 s on one core of 32
    at sf0.1, guide §2.5 "input skew"), so the streamed side is spread to
    the session's default parallelism first. Pure partitioning — each pair's
    cosine expression (and hence the rounded output) is unchanged.
    """
    from .similarity import cosine_sim_expr, with_norm

    par = df.sparkSession.sparkContext.defaultParallelism
    a = with_norm(df, vec_col, id_col).repartition(par).select(
        F.col(id_col).alias("id_a"), F.col("__vec").alias("__va"), F.col("__norm").alias("__na")
    )
    b = with_norm(df, vec_col, id_col).select(
        F.col(id_col).alias("id_b"), F.col("__vec").alias("__vb"), F.col("__norm").alias("__nb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_sim_expr("__va", "__vb", "__na", "__nb").alias("cosine"))
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def embedding_cosine_dups_lsh(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    bits: int = 6,
    num_tables: int = 6,
    quantize_scale: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold over LSH candidates only —
    the 100 TB default for embedding dedup.

    Physical plan: exact-int64 sign-LSH banding (`similarity.int_banded`,
    one row per (vector, table)), shuffle BOTH sides on the (table, bucket)
    key, per-bucket id_a < id_b candidate join, distinct pair, exact cosine,
    threshold filter. Candidate volume is sum over buckets of |bucket|^2
    instead of n^2, and every stage is deterministic integer arithmetic, so
    an independent SQL engine reproduces the pair set bit-for-bit (the
    driver-verified contract row). Recall is tunable via num_tables/bits —
    misses are pairs that agree on no table, increasingly unlikely as
    cosine -> 1 (sign-flip probability per plane falls like acos(cos)/pi).
    """
    from .similarity import cosine_sim_expr, int_banded

    # r14 OPT (guide §5 reuse): both self-join sides previously re-ran the
    # full banding (norms + quantization + num_tables int64 plane dots over
    # every vector — no exchange reuse fires across differently-aliased
    # subtrees); band ONCE, pin it, and rename columns for the b side.
    banded = int_banded(
        df, "id_a", dim, vec_col, id_col, bits, num_tables, quantize_scale
    ).localCheckpoint()
    a = banded.alias("l")
    b = (
        banded.withColumnRenamed("id_a", "id_b")
        .withColumnRenamed("__v_id_a", "__v_id_b")
        .withColumnRenamed("__n_id_a", "__n_id_b")
        .alias("r")
    )
    pairs = a.join(
        b,
        [
            F.col("l.t") == F.col("r.t"),
            F.col("l.b") == F.col("r.b"),
            F.col("id_a") < F.col("id_b"),
        ],
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            cosine_sim_expr("__v_id_a", "__v_id_b", "__n_id_a", "__n_id_b").alias("cosine"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def dup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iters: int = 50) -> DataFrame:
    """Resolve duplicate pairs into clusters: (doc_id, cluster_id).

    The end step of every dedup pipeline — candidate pairs (from exact
    hashes, MinHash-LSH or cosine buckets) form a graph whose connected
    components are the duplicate clusters; keep cluster_id == doc_id as the
    representative and drop the rest. Components are found by alternating
    min-label propagation: each sweep is one join + one groupBy-min keyed on
    node id (uniform shuffle, no single-task stage), converging in
    O(component diameter) sweeps — duplicate clusters are shallow, so this
    is a handful of sweeps even at corpus scale. Labels checkpoint per sweep
    to keep plans flat; convergence = a sweep that lowers no label.
    """
    a, b = F.col(id_a).cast("long").alias("a"), F.col(id_b).cast("long").alias("b")
    # materialize ONE direction before the self-union: Spark does not share
    # common subtrees across union branches, so an expensive lazy `pairs`
    # (e.g. the 1M-candidate Jaccard verify feeding prepare_corpus) would
    # otherwise be evaluated TWICE — profiled as ~half the sf0.1
    # corpus_prepare wall time (r9)
    half = pairs.select(a, b).localCheckpoint()
    edges = half.unionByName(half.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    edges = edges.localCheckpoint()
    if edges.isEmpty():
        # no duplicate pairs: every doc is its own representative — skip
        # the sweep machinery (two checkpoints + a propagation job of pure
        # overhead on an empty graph)
        return edges.sparkSession.createDataFrame([], "doc_id long, cluster_id long")
    labels = edges.select(F.col("a").alias("id")).distinct().withColumn("lab", F.col("id"))
    labels = labels.localCheckpoint()
    for _ in range(max_iters):
        prop = (
            edges.join(labels.withColumnRenamed("id", "a"), "a")
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("lab").alias("nlab"))
        )
        joined = labels.join(prop, "id", "left").select(
            "id",
            F.least(F.col("lab"), F.coalesce("nlab", "lab")).alias("lab"),
            (F.coalesce("nlab", "lab") < F.col("lab")).cast("long").alias("__low"),
        )
        joined = joined.localCheckpoint()
        changed = int(joined.agg(F.sum("__low")).collect()[0][0] or 0)
        labels = joined.drop("__low")
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), F.col("lab").alias("cluster_id"))


def size_pruned_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """All (id_a < id_b) pairs that can possibly reach ``threshold`` n-gram
    Jaccard: J(A,B) >= t forces min(|A|,|B|) >= t*max(|A|,|B|), so pairs
    whose distinct-shingle counts differ by more than 1/t are dropped
    before any exact intersect (lossless; ~8x fewer pairs on the contract
    documents). Quadratic in candidate count — for corpus scale use
    minhash_lsh_candidates instead; this is the exact-verification shape.
    """
    sizes = docs.select(
        F.col(id_col), F.size(shingles(F.col(text_col), k)).alias("__ns")
    )
    # the id x id nested-loop join inherits the STREAMED side's partitioning;
    # a single-split input would emit every pair from one task (guide §2.5),
    # so spread the left ids first — partitioning only, same pair set
    par = docs.sparkSession.sparkContext.defaultParallelism
    ids = docs.select(F.col(id_col).alias("id_a")).repartition(par)
    allp = ids.crossJoin(docs.select(F.col(id_col).alias("id_b"))).filter(
        F.col("id_a") < F.col("id_b")
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__ns").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__ns").alias("__nb"))
    return (
        allp.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(
            F.least("__na", "__nb").cast("double")
            >= float(threshold) * F.greatest("__na", "__nb")
        )
        .select("id_a", "id_b")
    )


def prefix_filtered_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.9,
    margin: float = 0.01,
) -> DataFrame:
    """All (id_a < id_b) pairs that can possibly reach ``threshold`` n-gram
    Jaccard, via AllPairs-style prefix filtering (Bayardo/Ma/Srikant WWW'07;
    Xiao et al. PPJoin WWW'08) — the LOSSLESS scale replacement for
    ``size_pruned_pairs``'s quadratic id x id enumeration.

    Guarantee: J(A,B) >= t implies |A∩B| >= ceil(t*|A|) (J >= t gives
    c >= t(|A|+|B|)/(1+t) and |B| >= c, so c >= t*|A|; integrality rounds
    up), so if B shared NO shingle with A's (|A| - ceil(t*|A|) + 1)-prefix
    under a fixed global shingle order, the intersection would fit inside
    A's suffix of size ceil(t*|A|) - 1 < c — contradiction. Hence joining
    each doc's prefix shingles (rarest-first global frequency order, id
    tie-break) against the full inverted index finds every qualifying pair.
    ``margin`` loosens t for the prefix length only (the caller's verify
    step re-checks the exact rounded threshold; a 6-dp rounded contract
    accepts raw Jaccard down to t - 5e-7, so any margin > that bound keeps
    the candidate set a superset).

    The returned pair set then carries the IDENTICAL size-ratio prune as
    ``size_pruned_pairs`` (exact ``threshold``), so swapping the two
    operators upstream of the same exact-Jaccard verify yields the same
    final pair set while candidate volume drops from O(n^2) to the inverted
    prefix index's collisions.
    """
    t_f = max(0.0, float(threshold) - float(margin))
    # r14 OPT (guide §2.5): spread a single-split corpus before the carve —
    # the checkpoint below otherwise materializes the whole shingle table
    # through one task
    sh = _spread_carve_input(docs).select(
        F.col(id_col).alias("__id"), shingles(F.col(text_col), k).alias("__sh")
    )
    tok = sh.select(
        "__id", F.size("__sh").alias("__n"), F.explode("__sh").alias("__tok")
    )
    # r14 OPT (guide §5 reuse + §7.2 duplicated subtrees): materialize the
    # shingle-occurrence table ONCE. `tok` feeds THREE consumers (the global
    # frequency table, the ranked prefix side and the full inverted index);
    # left lazy, each consumer re-carves the corpus shingles, and the two
    # index-join sides additionally re-collect the subtree as broadcast
    # builds (profiled: two ~23 s "time to collect" BroadcastExchanges at
    # sf0.1). Materializing also pins ONE evaluation of the shingle
    # expression per input row — the collapsed post-explode projection
    # (`size(__sh)` next to `explode(__sh)`) was observed re-evaluating the
    # whole carve per OUTPUT row in some executions (~10 CPU-minutes for
    # 232k rows). tok is the table the operator shuffles twice anyway, so
    # the checkpoint adds no asymptotic cost at corpus scale.
    tok = tok.localCheckpoint()
    freq = tok.groupBy("__tok").agg(F.count(F.lit(1)).alias("__f"))
    from pyspark.sql import Window

    w = Window.partitionBy("__id").orderBy("__f", "__tok")
    ranked = tok.join(freq, "__tok").withColumn("__r", F.row_number().over(w))
    prefix = ranked.filter(
        F.col("__r") <= F.col("__n") - F.ceil(F.lit(t_f) * F.col("__n")) + 1
    ).select("__id", "__tok", "__n")
    full = tok.select(
        F.col("__id").alias("__id_o"), "__tok", F.col("__n").alias("__n_o")
    )
    cand = (
        prefix.join(full, "__tok")
        .filter(F.col("__id") != F.col("__id_o"))
        .select(
            F.least("__id", "__id_o").alias("id_a"),
            F.greatest("__id", "__id_o").alias("id_b"),
            F.least("__n", "__n_o").alias("__nmin"),
            F.greatest("__n", "__n_o").alias("__nmax"),
        )
        .filter(
            F.col("__nmin").cast("double") >= float(threshold) * F.col("__nmax")
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return cand


def span_dedup(
    docs: DataFrame,
    block_tokens: int = 8,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level exact span dedup: split each document into consecutive
    non-overlapping ``block_tokens``-token blocks, drop every block whose
    exact text occurs in >= ``min_df`` distinct documents EXCEPT its first
    occurrence (global (doc_id, pos) order), and reassemble the survivors in
    document order. This is the keep-one exact-span dedup stage of a
    pre-training pipeline (C4 keeps one copy of a duplicated span;
    RefinedWeb/Dolma run the same shape per paragraph) — the within-document
    sibling of whole-document ``exact_duplicates`` and the exact-text
    counterpart of the MinHash near-dup path (reference dedup contract:
    engine/src/dedup.rs analogue is whole-doc only; this stage is net-new).

    Returns (doc_id, clean_text, n_blocks, n_dropped) — one row per input
    document (a fully-duplicated document survives with clean_text = '').

    Scale shape: tokens/blocks are carved map-side in codegen (split +
    slice + posexplode, the chunk_documents machinery); block statistics
    are ONE keyed groupBy on the block text (partial-agg map-side; the key
    is the span string itself, NOT a 64-bit hash — at corpus scale (~1e12
    blocks) birthday collisions on 64-bit keys would silently merge
    distinct spans and delete innocent text); the keep decision is a keyed
    shuffle join back on the same key (no broadcast: the stats table is
    corpus-sized); reassembly is ONE groupBy on doc_id. No windows, no
    driver loops, no quadratic stage — three keyed shuffles total, each
    combinable map-side.
    """
    if block_tokens < 1:
        raise ValueError("block_tokens must be >= 1")
    b = int(block_tokens)
    # NULL text would make `pieces` NULL and posexplode would emit no rows —
    # the doc then falls out of the blocks->stats join and vanishes from the
    # output, breaking the one-row-per-document contract (r7 advisory).
    # Treat NULL as the empty document instead.
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    n_blocks = F.greatest(
        ((F.size(toks) + (b - 1)) / b).cast("int"), F.lit(1)
    )
    pieces = F.transform(
        F.sequence(F.lit(0), n_blocks - 1),
        lambda i: F.array_join(F.slice(toks, i * b + 1, b), " "),
    )
    blocks = docs.select(F.col(id_col), F.posexplode(pieces).alias("pos", "block"))
    stats = blocks.groupBy("block").agg(
        F.countDistinct(id_col).alias("__span_df"),
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias(
            "__first"
        ),
    )
    tagged = blocks.join(stats, "block").withColumn(
        "__keep",
        (F.col("__span_df") < int(min_df))
        | (
            (F.col(id_col) == F.col("__first.d"))
            & (F.col("pos") == F.col("__first.p"))
        ),
    )
    kept_struct = F.when(F.col("__keep"), F.struct("pos", "block"))
    return tagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["block"]
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum((~F.col("__keep")).cast("bigint")).alias("n_dropped"),
    )


def dup_substring_spans(
    docs: DataFrame,
    window_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_key: str = "digest",
) -> DataFrame:
    """Exact duplicate-substring detection at stride 1 — the
    suffix-array-style dedup of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better"), re-expressed for Spark: a
    substring of >= ``window_tokens`` whitespace tokens that occurs
    anywhere else in the corpus is detected at EVERY position (not just
    block-aligned ones — the within-block sibling ``span_dedup`` misses
    duplicates that straddle block boundaries or sit at a shifted offset).

    Every length-``window_tokens`` token window (stride 1) is keyed by its
    md5 digest (``window_key='digest'``, the default): 128 bits is
    birthday-safe at corpus scale (~1e12 windows -> collision probability
    ~(1e12)^2 / 2^129 ~ 3e-15), unlike the 64-bit keys span_dedup's
    exactness argument rightly rejects, and the digest is computed
    map-side so the stats shuffle carries 32-char keys instead of the raw
    L-token window text (~3-5x fewer shuffle bytes at the default window).
    ``window_key='text'`` keys by the exact span string instead — the
    verify option; both modes produce identical output. The globally FIRST
    occurrence of each window ((doc_id, start) order) survives; every
    other occurrence is a duplicated window, and per document the
    overlapping/adjacent duplicated windows merge into maximal spans —
    exactly the regions an exact-substring dedup pass would cut while
    keeping one copy corpus-wide.

    Returns (doc_id, span_start, span_end, n_windows): token offsets
    [span_start, span_end) of each maximal duplicated region, plus how
    many duplicated windows merged into it. Documents shorter than the
    window, and documents whose every window is globally first, emit no
    rows.

    Scale shape: windows are carved AND digest-keyed map-side in codegen
    (transform+posexplode+md5 — the raw window text never shuffles);
    first-occurrence stats are ONE keyed groupBy on the window key
    (partial-agg map-side) joined back on the same key (no broadcast —
    the stats table is corpus-sized); interval merging is a per-document
    window pass (keys = documents, uniformly small — never a single-task
    global window). Stride 1 costs ~window_tokens x the blocks of
    span_dedup in exploded rows — the price of offset-invariant
    detection; both stages shuffle on bounded keys and nothing is
    quadratic.
    """
    if window_tokens < 1:
        raise ValueError("window_tokens must be >= 1")
    if window_key not in ("digest", "text"):
        raise ValueError(f"window_key must be 'digest' or 'text', got {window_key!r}")
    L = int(window_tokens)
    from pyspark.sql import Window

    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    nwin = F.size(toks) - L + 1
    span = lambda i: F.array_join(F.slice(toks, i + 1, L), " ")  # noqa: E731
    # unhex(md5) -> 16 raw bytes, not the 32-char hex string: digests are
    # incompressible, so halving the key width halves its shuffle weight
    keyed = span if window_key == "text" else (lambda i: F.unhex(F.md5(span(i))))
    wins = F.when(
        nwin >= 1,
        F.transform(F.sequence(F.lit(0), nwin - 1), keyed),
    ).otherwise(F.array().cast("array<string>"))
    w = _spread_carve_input(docs).select(
        F.col(id_col), F.posexplode(wins).alias("start", "__win")
    )
    # r14 OPT (guide §2.4 remove shuffles outright): the first-occurrence
    # rule was a groupBy(__win) + join back on __win — TWO exchanges of the
    # exploded window table and TWO executions of the window-carving
    # explode (the two subtrees differ, so no exchange reuse fires). A
    # min-struct window over partitionBy(__win) computes the identical
    # per-key first occurrence with ONE exchange and ONE carve; the key set
    # is corpus-sized and uniform (window digests), never a single-task
    # global window. Same (doc_id, start) duplicate rows, same output.
    bywin = Window.partitionBy("__win")
    dups = (
        w.withColumn(
            "__first",
            F.min(F.struct(F.col(id_col).alias("d"), F.col("start").alias("p"))).over(
                bywin
            ),
        )
        .filter(
            (F.col(id_col) != F.col("__first.d"))
            | (F.col("start") != F.col("__first.p"))
        )
        .select(F.col(id_col), F.col("start"))
    )
    return _merge_windows_to_spans(dups, id_col, L)


def _merge_windows_to_spans(hits: DataFrame, id_col: str, L: int) -> DataFrame:
    """(id, start) window-hit rows -> maximal merged token spans:
    (id, span_start, span_end, n_windows). Shared by the self-corpus dedup
    face (dup_substring_spans) and the cross-corpus decontamination face
    (contamination_spans). Per-document window pass — keys are documents,
    uniformly small, never a single-task global window."""
    from pyspark.sql import Window

    dups = hits.select(
        F.col(id_col),
        F.col("start").cast("long").alias("start"),
        (F.col("start") + int(L)).cast("long").alias("stop"),
    )
    byid = Window.partitionBy(id_col).orderBy("start")
    brk = F.when(
        F.col("start") > F.coalesce(F.lag("stop").over(byid), F.lit(-1)), 1
    ).otherwise(0)
    grouped = dups.withColumn("__brk", brk).withColumn(
        "__grp", F.sum("__brk").over(byid)
    )
    return grouped.groupBy(id_col, "__grp").agg(
        F.min("start").alias("span_start"),
        F.max("stop").alias("span_end"),
        F.count(F.lit(1)).alias("n_windows"),
    ).drop("__grp")


def remove_dup_substrings(
    docs: DataFrame,
    window_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The removal face of ``dup_substring_spans`` — exact-substring dedup
    as Lee et al. 2022 apply it: cut every maximal duplicated region
    (keeping the corpus-wide first occurrence) and reassemble the
    surviving tokens in order.

    Returns (doc_id, clean_text, n_tokens, n_dropped) — one row per input
    document (the span_dedup contract shape); a document whose every
    window duplicates earlier text survives with clean_text = ''.

    Scale shape: the span detection is dup_substring_spans (one keyed
    groupBy on window text + a per-document window pass); removal adds a
    per-doc collect of its own spans (bounded by doc length / window) and
    a codegen filter over token positions — no further shuffle beyond the
    doc-keyed join.
    """
    spans = dup_substring_spans(
        docs, window_tokens=window_tokens, text_col=text_col, id_col=id_col
    )
    return _cut_spans(docs, spans, text_col, id_col)


def _cut_spans(
    docs: DataFrame, spans: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Cut (span_start, span_end) token spans out of each document and
    reassemble the survivors in order: (id, clean_text, n_tokens,
    n_dropped), one row per input document. Shared removal plumbing for
    remove_dup_substrings and remove_contaminated_spans. Per-doc span
    collect (bounded by doc length / window) + a codegen position filter
    — no shuffle beyond the doc-keyed join."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    base = _spread_carve_input(docs).select(F.col(id_col), toks.alias("__toks"))
    joined = base.join(per_doc, id_col, "left")
    spans_arr = F.coalesce(
        F.col("__spans"),
        F.array().cast("array<struct<span_start:bigint,span_end:bigint>>"),
    )
    idxs = F.sequence(F.lit(0).cast("long"), (F.size("__toks") - 1).cast("long"))
    keep_idx = F.filter(
        idxs,
        lambda i: ~F.exists(
            spans_arr,
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    clean = F.array_join(
        F.transform(
            keep_idx, lambda i: F.element_at("__toks", (i + 1).cast("int"))
        ),
        " ",
    )
    return joined.select(
        F.col(id_col),
        clean.alias("clean_text"),
        F.size("__toks").cast("long").alias("n_tokens"),
        (F.size("__toks") - F.size(keep_idx)).cast("long").alias("n_dropped"),
    )


def contamination_spans(
    docs: DataFrame,
    ref_docs: DataFrame,
    window_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_text_col: str = "text",
) -> DataFrame:
    """Cross-corpus contamination spans: every maximal token region of
    ``docs`` that reproduces ANY ``window_tokens``-token substring of
    ``ref_docs`` (the benchmark/eval corpus) verbatim, at any offset.

    The span-level completion of ``cross_corpus_dedup``: that face DROPS a
    whole document that near-duplicates a benchmark; this one finds the
    exact overlapping REGIONS so the surgical face
    (``remove_contaminated_spans``) can cut the benchmark text out and
    keep the rest of the document — the PaLM-style span decontamination.
    Unlike the self-corpus dedup (dup_substring_spans), there is no
    first-occurrence survivor: EVERY matching window in ``docs`` is
    contaminated.

    Matching is by 16-byte md5 digests of the stride-1 windows on both
    sides (the dup_substring_spans digest argument: birthday-safe,
    map-side, raw window text never shuffles). Returns
    (doc_id, span_start, span_end, n_windows), token offsets
    [span_start, span_end).

    Scale shape: the reference side reduces to its DISTINCT window digests
    (benchmarks are the small side by construction — and if not, the
    semi-join below is a plain shuffle join AQE can flip to broadcast when
    the digest set is small; nothing is forced); the train side carves
    windows map-side and semi-joins on the digest; span merging is the
    shared per-document pass (_merge_windows_to_spans).
    """
    if window_tokens < 1:
        raise ValueError("window_tokens must be >= 1")
    L = int(window_tokens)

    def win_rows(frame: DataFrame, tcol: str, keep_id: bool):
        toks = F.split(F.trim(F.coalesce(F.col(tcol), F.lit(""))), r"\s+")
        nwin = F.size(toks) - L + 1
        digest = lambda i: F.unhex(F.md5(F.array_join(F.slice(toks, i + 1, L), " ")))  # noqa: E731
        wins = F.when(
            nwin >= 1, F.transform(F.sequence(F.lit(0), nwin - 1), digest)
        ).otherwise(F.array().cast("array<binary>"))
        cols = [F.col(id_col)] if keep_id else []
        return _spread_carve_input(frame).select(
            *cols, F.posexplode(wins).alias("start", "__win")
        )

    ref_wins = win_rows(ref_docs, ref_text_col, keep_id=False).select("__win").distinct()
    hits = win_rows(docs, text_col, keep_id=True).join(ref_wins, "__win", "left_semi")
    return _merge_windows_to_spans(hits.select(id_col, "start"), id_col, L)


def remove_contaminated_spans(
    docs: DataFrame,
    ref_docs: DataFrame,
    window_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_text_col: str = "text",
) -> DataFrame:
    """Surgical decontamination: cut every contaminated region
    (``contamination_spans``) out of each training document and reassemble
    the survivors in order — (doc_id, clean_text, n_tokens, n_dropped),
    one row per input document. A document that is entirely benchmark
    text survives with clean_text = '' (drop decisions belong to the
    caller's gates, as with remove_boilerplate_lines). Shares the cut
    plumbing (_cut_spans) with remove_dup_substrings."""
    spans = contamination_spans(
        docs,
        ref_docs,
        window_tokens=window_tokens,
        text_col=text_col,
        id_col=id_col,
        ref_text_col=ref_text_col,
    )
    return _cut_spans(docs, spans, text_col, id_col)
