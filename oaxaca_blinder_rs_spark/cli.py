"""CLI mirroring `oaxaca-cli` (reference main.rs:27-128, 372-385).

    python -m oaxaca_blinder_rs_spark.cli run --data wage.csv --outcome wage \
        --group gender --reference F --predictors education
    python -m oaxaca_blinder_rs_spark.cli report --data wage.csv ... --output report.html

Defaults match the reference CLI: analysis-type mean, ref-coeffs group-b,
bootstrap-reps 50, simulations 200, k-neighbors 1, matching-method euclidean.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="oaxaca-cli", description="Oaxaca-Blinder decomposition on Spark")
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp):
        sp.add_argument("--data", required=True, help="Path to the input CSV data file")
        sp.add_argument("--outcome", required=True)
        sp.add_argument("--group", required=True)
        sp.add_argument("--reference", required=True)
        sp.add_argument("--predictors", default="", help="comma-separated numeric predictors")
        sp.add_argument("--categorical", default=None, help="comma-separated categorical predictors")
        sp.add_argument("--analysis-type", choices=["mean", "quantile", "akm", "match"], default="mean")
        sp.add_argument("--ref-coeffs", choices=["group-a", "group-b", "pooled", "weighted"], default="group-b")
        sp.add_argument("--quantiles", default=None, help="comma-separated quantiles (quantile analysis)")
        sp.add_argument("--bootstrap-reps", type=int, default=50)
        sp.add_argument("--simulations", type=int, default=200)
        sp.add_argument("--formula", default=None)
        sp.add_argument("--weights", default=None)
        sp.add_argument("--selection-outcome", default=None)
        sp.add_argument("--selection-predictors", default=None)
        sp.add_argument("--output-json", default=None)
        sp.add_argument("--output-markdown", default=None)
        sp.add_argument("--worker-id", default=None)
        sp.add_argument("--firm-id", default=None)
        sp.add_argument("--k-neighbors", type=int, default=1)
        sp.add_argument("--matching-method", choices=["euclidean", "mahalanobis", "psm"], default="euclidean")

    run = sub.add_parser("run", help="Run an analysis and print a summary")
    common(run)
    report = sub.add_parser("report", help="Run a mean decomposition and write an HTML report")
    common(report)
    report.add_argument("--output", required=True, help="Output HTML path")

    # net-new surface: the training-data corpus pipeline as a CLI verb
    cp = sub.add_parser(
        "corpus",
        help="Gate, dedup and (optionally) shard a document corpus",
    )
    cp.add_argument("--input", required=True, help="Input documents (parquet dir/file)")
    cp.add_argument("--output", required=True, help="Output directory (parquet)")
    cp.add_argument("--text-col", default="text")
    cp.add_argument("--id-col", default="doc_id")
    cp.add_argument("--min-quality", type=float, default=0.5)
    cp.add_argument("--langs", default="en", help="comma-separated language codes")
    cp.add_argument("--jaccard", type=float, default=0.9)
    cp.add_argument("--max-top-bigram-frac", type=float, default=None)
    cp.add_argument("--min-mean-logprob", type=float, default=None)
    cp.add_argument("--scrub-pii", action="store_true")
    cp.add_argument(
        "--blocklist", default=None,
        help="text file with one banned token per line (C4 bad-words gate, "
        "whole-token case-folded matching)",
    )
    cp.add_argument(
        "--pack-budget", type=int, default=0,
        help="tokens per training shard; 0 writes the keep-list only",
    )
    cp.add_argument(
        "--seq-len", type=int, default=0,
        help="pack the kept documents into exact fixed-length training "
        "sequences of this many tokens (GPT-style concat-and-chunk, "
        "corpus.pack_sequences; documents split across boundaries) — "
        "mutually exclusive with --pack-budget",
    )
    cp.add_argument(
        "--eos-token", default=None,
        help="boundary token appended to each document before --seq-len "
        "packing (e.g. '<|eos|>')",
    )
    cp.add_argument(
        "--quality-keep-top", type=float, default=None,
        help="stratified pre-gate: keep each group's top FRACTION by "
        "quality_score before the pipeline (corpus.quality_percentile_filter)",
    )
    cp.add_argument(
        "--quality-by", default="source",
        help="grouping column for --quality-keep-top (default: source)",
    )
    cp.add_argument(
        "--quality-top-mode", choices=("exact", "sketch"), default="sketch",
        help="per-group threshold: 'sketch' (approx_percentile, the at-scale "
        "default here) or 'exact' (type-7 percentile)",
    )
    cp.add_argument(
        "--shuffle-seed", type=int, default=None,
        help="epoch seed: deterministically shuffle the output "
        "(corpus.deterministic_shuffle) — keep-list rows, or documents "
        "before shard packing",
    )
    cp.add_argument(
        "--interleave", action="store_true",
        help="order the output by the deterministic source-interleave "
        "(corpus.interleave_sources): every prefix of the stream — and "
        "hence every --pack-budget shard — holds each source in its corpus "
        "proportion; mutually exclusive with --shuffle-seed",
    )
    cp.add_argument(
        "--interleave-by", default="source",
        help="grouping column for --interleave (default: source)",
    )

    # net-new surface: the tokenizer pipeline as a CLI verb
    tk = sub.add_parser(
        "tokenize",
        help="Train a BPE tokenizer on a corpus, encode it, and "
        "(optionally) pack token shards",
    )
    tk.add_argument("--input", required=True, help="Input documents (parquet dir/file)")
    tk.add_argument("--output", required=True, help="Output directory")
    tk.add_argument("--text-col", default="text")
    tk.add_argument("--id-col", default="doc_id")
    tk.add_argument("--merges", type=int, default=64, help="number of BPE merge rules")
    tk.add_argument(
        "--pack-budget", type=int, default=0,
        help="tokens per training shard; 0 writes encoded docs only",
    )

    # net-new surface: data-quality gate as a CLI verb
    q = sub.add_parser(
        "quality",
        help="Check declarative data-quality constraints against a table",
    )
    q.add_argument("--input", required=True, help="Input table (parquet dir/file)")
    q.add_argument(
        "--rules", required=True,
        help="JSON rules file: a list of rule objects as accepted by "
        "operators.quality.check_constraints; foreign_key rules use "
        '{"ref_path": "<parquet>", "ref_col": ...} instead of a DataFrame',
    )
    q.add_argument("--output-json", default=None, help="Write results as JSON")
    q.add_argument(
        "--fail-on-violation", action="store_true",
        help="exit 1 if any constraint fails (the CI-gate mode)",
    )

    # net-new surface: table profiling as a CLI verb
    pr = sub.add_parser(
        "profile",
        help="Per-column health profile of a table (nulls, distinct, range, mean)",
    )
    pr.add_argument("--input", required=True, help="Input table (parquet dir/file)")
    pr.add_argument(
        "--cols", default="",
        help="comma-separated columns (default: every column)",
    )
    pr.add_argument("--output-json", default=None, help="Write rows as JSON")

    # net-new surface: exact heavy hitters as a CLI verb
    tt = sub.add_parser(
        "top-tokens",
        help="Exact top-k corpus tokens via the two-pass Misra-Gries sketch",
    )
    tt.add_argument("--input", required=True, help="Input documents (parquet dir/file)")
    tt.add_argument("--text-col", default="text")
    tt.add_argument("--k", type=int, default=20)
    tt.add_argument("--capacity", type=int, default=4096)
    tt.add_argument(
        "--by-col", default=None,
        help="rank values of this column instead of tokenized text "
        "(e.g. source); --weight-col then weights by an int column",
    )
    tt.add_argument("--weight-col", default=None)
    tt.add_argument("--output-json", default=None, help="Write rows as JSON")

    # net-new surface: distribution-drift gate as a CLI verb
    dr = sub.add_parser(
        "drift",
        help="PSI/JSD/KS drift of a table against a reference snapshot",
    )
    dr.add_argument("--input", required=True, help="Serving table (parquet)")
    dr.add_argument("--reference", required=True, help="Reference snapshot (parquet)")
    dr.add_argument("--cat-cols", default="", help="comma-separated categorical dims")
    dr.add_argument("--num-cols", default="", help="comma-separated numeric dims")
    dr.add_argument("--bins", type=int, default=10)
    dr.add_argument("--output-json", default=None)
    dr.add_argument(
        "--max-psi", type=float, default=None,
        help="exit 1 if any dim's PSI exceeds this (0.25 = the standard 'drifted' bar)",
    )

    # net-new surface: cross-split contamination audit as a CLI verb
    lk = sub.add_parser(
        "leakage",
        help="Find eval/test documents with an exact or near duplicate in "
        "the train split (post-split pre-eval contamination check)",
    )
    lk.add_argument("--input", required=True, help="Input documents (parquet dir/file)")
    lk.add_argument("--text-col", default="text")
    lk.add_argument("--id-col", default="doc_id")
    lk.add_argument(
        "--split-col", default=None,
        help="existing split column; omit to split here via --fractions",
    )
    lk.add_argument(
        "--fractions", default="train=0.9,val=0.05,test=0.05",
        help="name=frac list for the deterministic split when --split-col "
        "is not given (must sum to 1)",
    )
    lk.add_argument("--seed", type=int, default=42, help="split seed")
    lk.add_argument("--train-split", default="train")
    lk.add_argument("--threshold", type=float, default=0.9,
                    help="n-gram Jaccard near-dup threshold")
    lk.add_argument("--output-json", default=None, help="Write leaked rows as JSON")
    lk.add_argument(
        "--fail-on-leak", action="store_true",
        help="exit 1 if any leaked document is found (the CI-gate mode)",
    )

    # net-new surface: persisted-state incremental ingest as a CLI verb
    ig = sub.add_parser(
        "ingest",
        help="Dedup a new document batch against a persisted corpus dedup "
        "state (fingerprint + MinHash signature) and append the survivors' "
        "state — the daily-append pipeline without re-reading corpus text",
    )
    ig.add_argument("--batch", required=True, help="New documents (parquet dir/file)")
    ig.add_argument(
        "--state", required=True,
        help="dedup-state parquet dir (dedup.dedup_state rows); created by --init",
    )
    ig.add_argument(
        "--init", action="store_true",
        help="bootstrap mode: build the state FROM --batch into --state "
        "(no dedup, no --output)",
    )
    ig.add_argument("--output", default=None, help="kept batch documents (parquet dir)")
    ig.add_argument("--text-col", default="text")
    ig.add_argument("--id-col", default="doc_id")
    ig.add_argument(
        "--sig-threshold", type=float, default=0.9,
        help="near-dup signature-agreement threshold (fraction of MinHash "
        "components; >= ceil(threshold*16)/16 must match)",
    )
    ig.add_argument(
        "--no-update-state", action="store_true",
        help="dry-run the dedup: do not append the survivors' state rows",
    )
    ig.add_argument("--output-json", default=None, help="Write dropped rows as JSON")
    return p


def _csv_list(s):
    return [x.strip() for x in s.split(",") if x.strip()] if s else []


def _interleave_keep_nulls(docs, group_col: str, id_col: str):
    """CLI wrapper around ``corpus.interleave_sources``: the operator's
    count join is a null-unsafe equi-join, so documents with a NULL group
    value silently vanish from the packed output — fine as a documented
    operator convention, wrong for a CLI user who never reads the
    docstring (r14 ADVICE). Coalesce the group into a temp sentinel
    column ('__null__' forms its own evenly-spread source), interleave on
    that, and drop it — the user's own column is left untouched."""
    from pyspark.sql import functions as F

    from .operators.corpus import interleave_sources

    tmp = "__interleave_grp"
    keyed = docs.withColumn(
        tmp, F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
    )
    return interleave_sources(keyed, group_col=tmp, id_col=id_col).drop(tmp)


def _run_corpus(spark, args) -> int:
    """corpus verb: documents in -> gated/deduped keep-list (or token
    shards) out, one JSON stats line on stdout."""
    from pyspark.sql import functions as F

    from .operators.corpus import (
        deterministic_shuffle,
        prepare_corpus,
        quality_percentile_filter,
    )
    from .sinks.parquet import write_token_shards

    # argument mutual-exclusion checks run BEFORE any Spark action so a
    # misused invocation fails in milliseconds, not after a full input scan
    seq_len = getattr(args, "seq_len", 0) or 0
    if seq_len > 0 and args.pack_budget > 0:
        print(json.dumps({"error": "--pack-budget and --seq-len are mutually exclusive"}))
        return 2
    if seq_len > 0 and getattr(args, "shuffle_seed", None) is not None:
        # pack_sequences streams strictly in id order; an epoch shuffle of a
        # split-document token stream needs sequence-level shuffling AFTER
        # packing (shuffle the written seq_ids), not document-level before
        print(json.dumps({"error": "--shuffle-seed is not supported with --seq-len; "
                          "shuffle the packed sequences by seq_id instead"}))
        return 2
    if seq_len <= 0 and getattr(args, "eos_token", None) is not None:
        # --eos-token only means something to the --seq-len packer; silently
        # dropping it would pack budget shards with no boundary token
        print(json.dumps({"error": "--eos-token requires --seq-len"}))
        return 2
    if getattr(args, "interleave", False):
        if getattr(args, "shuffle_seed", None) is not None:
            # both flags define the output ORDER; picking one silently would
            # hide that the other was ignored
            print(json.dumps({"error": "--interleave and --shuffle-seed are mutually exclusive"}))
            return 2
        if seq_len > 0:
            # pack_sequences streams strictly in id order (same reason as
            # --shuffle-seed); interleave the packed sequences instead
            print(json.dumps({"error": "--interleave is not supported with --seq-len"}))
            return 2

    docs = spark.read.parquet(args.input)
    terms = None
    if getattr(args, "blocklist", None):
        with open(args.blocklist) as fh:
            terms = [ln.strip() for ln in fh if ln.strip()]
    if getattr(args, "quality_keep_top", None) is not None:
        if args.quality_by not in docs.columns:
            print(json.dumps({"error": f"--quality-by column not found: {args.quality_by}"}))
            return 2
        docs = quality_percentile_filter(
            docs,
            by_col=args.quality_by,
            keep_top=args.quality_keep_top,
            text_col=args.text_col,
            id_col=args.id_col,
            mode=args.quality_top_mode,
        )
    keep = prepare_corpus(
        docs,
        text_col=args.text_col,
        id_col=args.id_col,
        min_quality=args.min_quality,
        langs=tuple(_csv_list(args.langs)),
        jaccard_threshold=args.jaccard,
        max_top_bigram_frac=args.max_top_bigram_frac,
        min_mean_logprob=args.min_mean_logprob,
        scrub_pii=args.scrub_pii,
        blocklist_terms=terms,
    )
    n_in = docs.count()
    stats = {"docs_in": n_in}
    if args.pack_budget > 0 or seq_len > 0:
        if args.scrub_pii:
            # the keep-list carries the scrubbed text (always emitted as
            # 'text' by prepare_corpus); surface it under the caller's
            # --text-col name so shards match the input schema
            kept_docs = docs.drop(args.text_col).join(
                keep.select(
                    args.id_col,
                    "n_tokens",
                    F.col("text").alias(args.text_col),
                ),
                args.id_col,
            )
        else:
            kept_docs = docs.join(keep.select(args.id_col, "n_tokens"), args.id_col)
        if seq_len > 0:
            from .sinks.parquet import write_sequences

            st = write_sequences(
                kept_docs, args.output, seq_len,
                text_col=args.text_col, id_col=args.id_col,
                eos_token=getattr(args, "eos_token", None),
            )
            stats.update({"docs_kept": kept_docs.count(),
                          "sequences": st["sequences"],
                          "full_sequences": st["full_sequences"],
                          "total_tokens": st["total_tokens"]})
        else:
            order_cols = None
            if getattr(args, "shuffle_seed", None) is not None:
                # shuffle-then-pack: the prefix-scan packer follows the shuffled
                # (shuffle_key, id) order, so shard composition and offsets are a
                # pure function of the epoch seed
                kept_docs = deterministic_shuffle(
                    kept_docs, seed=args.shuffle_seed, id_col=args.id_col
                )
                order_cols = ["shuffle_key"]
            elif getattr(args, "interleave", False):
                # interleave-then-pack: the packer follows the fractional-
                # position order, so every shard holds each source in its
                # corpus proportion (no all-web shard followed by all-code)
                if args.interleave_by not in kept_docs.columns:
                    print(json.dumps({"error": f"--interleave-by column not found: {args.interleave_by}"}))
                    return 2
                kept_docs = _interleave_keep_nulls(
                    kept_docs, group_col=args.interleave_by, id_col=args.id_col
                )
                order_cols = ["stream_pos"]
            st = write_token_shards(
                kept_docs, args.output, budget=args.pack_budget,
                text_col=args.text_col, id_col=args.id_col, token_col="n_tokens",
                order_cols=order_cols,
            )
            stats.update({"docs_kept": st["rows"], "shards": st["shards"],
                          "total_tokens": st["total_tokens"]})
    else:
        out = keep
        if getattr(args, "shuffle_seed", None) is not None:
            out = deterministic_shuffle(keep, seed=args.shuffle_seed, id_col=args.id_col)
        elif getattr(args, "interleave", False):
            if args.interleave_by not in keep.columns:
                print(json.dumps({"error": f"--interleave-by column not found: {args.interleave_by}"}))
                return 2
            out = _interleave_keep_nulls(keep, group_col=args.interleave_by, id_col=args.id_col)
        out.write.mode("overwrite").parquet(args.output)
        stats["docs_kept"] = spark.read.parquet(args.output).count()
    print(json.dumps(stats))
    return 0


def _run_tokenize(spark, args) -> int:
    """tokenize verb: documents in -> merges.parquet + token_ids.parquet +
    encoded docs (or token shards) under --output, one JSON stats line on
    stdout. The full train -> encode -> pack pipeline."""
    import os

    from .operators.textops import bpe_encode, bpe_token_ids, bpe_train_merges

    docs = spark.read.parquet(args.input)
    merges, vocab = bpe_train_merges(
        docs, k_merges=args.merges, text_col=args.text_col, return_vocab=True
    )
    merges.write.mode("overwrite").parquet(os.path.join(args.output, "merges"))
    ids = bpe_token_ids(vocab)
    ids.write.mode("overwrite").parquet(os.path.join(args.output, "token_ids"))
    enc = bpe_encode(
        docs, vocab, text_col=args.text_col, id_col=args.id_col, oov="skip"
    )
    stats = {
        "docs_in": docs.count(),
        "merges": merges.count(),
        "vocab_tokens": ids.count(),
    }
    if args.pack_budget > 0:
        from .sinks.parquet import write_token_shards

        packed = docs.select(args.id_col, args.text_col).join(
            enc.select(args.id_col, "n_tokens"), args.id_col
        )
        st = write_token_shards(
            packed, os.path.join(args.output, "shards"),
            budget=args.pack_budget, text_col=args.text_col,
            id_col=args.id_col, token_col="n_tokens",
        )
        stats.update({"docs_encoded": st["rows"], "shards": st["shards"],
                      "total_tokens": st["total_tokens"]})
    else:
        enc.write.mode("overwrite").parquet(os.path.join(args.output, "encoded"))
        stats["docs_encoded"] = spark.read.parquet(
            os.path.join(args.output, "encoded")
        ).count()
    print(json.dumps(stats))
    return 0


def _run_quality(spark, args) -> int:
    """quality verb: table + JSON rules in -> one result line per rule on
    stdout (and optionally a JSON file); --fail-on-violation makes it a
    CI gate."""
    from .operators.quality import check_constraints

    df = spark.read.parquet(args.input)
    with open(args.rules) as f:
        rules = json.load(f)
    for r in rules:
        if r.get("type") == "foreign_key" and "ref_path" in r:
            r["ref"] = spark.read.parquet(r.pop("ref_path"))
    rows = [r.asDict() for r in check_constraints(df, rules).collect()]
    for r in rows:
        mark = "OK  " if r["ok"] else "FAIL"
        print(f"[{mark}] {r['constraint']}({r['detail']}): "
              f"{r['violations']}/{r['n']} violations")
    if args.output_json:
        with open(args.output_json, "w") as f:
            json.dump(rows, f, indent=1)
    if args.fail_on_violation and any(not r["ok"] for r in rows):
        return 1
    return 0


def _run_drift(spark, args) -> int:
    """drift verb: serving table vs reference snapshot -> one line per
    dimension (PSI/JSD/KS); --max-psi makes it a CI gate."""
    from .operators.profiling import drift_bucket_counts, drift_metrics

    cats, nums = _csv_list(args.cat_cols), _csv_list(args.num_cols)
    ref = spark.read.parquet(args.reference)
    live = spark.read.parquet(args.input)
    bounds = {}
    if nums:
        from pyspark.sql import functions as F

        for c in nums:
            col = F.col(c).cast("double")
            lr, hr = ref.agg(F.min(col), F.max(col)).collect()[0]
            ll, hl = live.agg(F.min(col), F.max(col)).collect()[0]
            # Spark's min/max return None for an empty table or an all-NULL
            # column; a bare min(None, float) TypeError names nothing
            if None in (lr, hr, ll, hl):
                side = "reference" if None in (lr, hr) else "input"
                print(
                    f"drift: numeric column {c!r} has no non-null values in "
                    f"the {side} table; cannot build histogram bounds"
                )
                return 2
            bounds[c] = (float(min(lr, ll)), float(max(hr, hl)))
    kw = dict(cat_cols=cats, num_cols=nums, bins=args.bins, bounds=bounds)
    rows = [
        r.asDict()
        for r in drift_metrics(
            drift_bucket_counts(ref, **kw),
            drift_bucket_counts(live, **kw),
            ordered_dims=nums,
        ).collect()
    ]
    worst = 0.0
    for r in sorted(rows, key=lambda r: -r["psi"]):
        ks = f" ks={r['ks']:.4f}" if r["ks"] is not None else ""
        print(f"{r['dim']}: psi={r['psi']:.4f} jsd={r['jsd']:.4f}{ks}")
        worst = max(worst, r["psi"])
    if args.output_json:
        with open(args.output_json, "w") as f:
            json.dump(rows, f, indent=1)
    if args.max_psi is not None and worst > args.max_psi:
        print(f"DRIFT: worst psi {worst:.4f} > {args.max_psi}")
        return 1
    return 0


def _run_leakage(spark, args) -> int:
    """leakage verb: split (or reuse a split column) and report every
    eval/test document with an exact or near train duplicate; one summary
    JSON line on stdout; --fail-on-leak makes it a CI gate."""
    from .operators.corpus import split_leakage_report
    from .operators.sampling import split_corpus

    docs = spark.read.parquet(args.input)
    if args.split_col:
        if args.split_col not in docs.columns:
            print(json.dumps({"error": f"--split-col column not found: {args.split_col}"}))
            return 2
        tagged, split_col = docs, args.split_col
    else:
        fractions = {}
        for part in _csv_list(args.fractions):
            if "=" not in part:
                print(json.dumps({"error": f"bad --fractions entry: {part!r}"}))
                return 2
            name, _, frac = part.partition("=")
            fractions[name.strip()] = float(frac)
        try:
            tagged = split_corpus(docs, fractions, id_col=args.id_col, seed=args.seed)
        except ValueError as exc:
            print(json.dumps({"error": str(exc)}))
            return 2
        split_col = "split"
    leaked = split_leakage_report(
        tagged,
        text_col=args.text_col,
        id_col=args.id_col,
        split_col=split_col,
        train_split=args.train_split,
        threshold=args.threshold,
    )
    # r14 (ADVICE): summary counts come from an aggregation, not a driver
    # collect — on a heavily contaminated corpus the leaked set is
    # unbounded, and this verb is pitched as a CI gate. Rows are only
    # collected when --output-json explicitly asks for the full dump (and
    # then the counts reuse that one collect instead of recomputing).
    from pyspark.sql import functions as F

    if args.output_json:
        rows = [r.asDict() for r in leaked.collect()]
        with open(args.output_json, "w") as f:
            json.dump(rows, f, indent=1)
        by_split: dict = {}
        for r in rows:
            key = (r[split_col], r["stage"])
            by_split[key] = by_split.get(key, 0) + 1
    else:
        agg = leaked.groupBy(split_col, "stage").agg(F.count(F.lit(1)).alias("n")).collect()
        by_split = {(r[split_col], r["stage"]): r["n"] for r in agg}
    n_leaked = sum(by_split.values())
    print(json.dumps({
        "leaked_docs": n_leaked,
        "by_split_stage": {f"{s}/{st}": n for (s, st), n in sorted(by_split.items())},
    }))
    if args.fail_on_leak and n_leaked:
        return 1
    return 0


def _run_ingest(spark, args) -> int:
    """ingest verb: the persisted-state daily-append pipeline. --init
    builds the state from a corpus; the normal mode dedups --batch against
    the state (exact fingerprint + near signature-agreement), writes the
    kept documents, and appends their state rows so tomorrow's ingest sees
    them. One JSON stats line on stdout. Argument validation runs before
    any Spark action (the r12 convention)."""
    import os

    from .operators.dedup import dedup_state, incremental_dedup

    if args.init:
        bad = [f for f in ("output",) if getattr(args, f)]
        if bad or args.no_update_state:
            print(json.dumps({"error": "--init only builds the state: "
                              "--output/--no-update-state are not supported"}))
            return 2
        docs = spark.read.parquet(args.batch)
        dedup_state(docs, text_col=args.text_col, id_col=args.id_col).write.mode(
            "overwrite"
        ).parquet(args.state)
        n = spark.read.parquet(args.state).count()
        print(json.dumps({"state_rows": n}))
        return 0

    if not args.output:
        print(json.dumps({"error": "--output is required (or pass --init)"}))
        return 2
    if not os.path.exists(args.state):
        print(json.dumps({"error": f"--state dir not found: {args.state} "
                          "(bootstrap it with --init)"}))
        return 2
    batch = spark.read.parquet(args.batch)
    state = spark.read.parquet(args.state)
    matches = incremental_dedup(
        batch, state, text_col=args.text_col, id_col=args.id_col,
        sig_threshold=args.sig_threshold,
    )
    from pyspark.sql import functions as F

    stage_counts = {
        r["stage"]: r["n"]
        for r in matches.groupBy("stage").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if args.output_json:
        with open(args.output_json, "w") as f:
            json.dump([r.asDict() for r in matches.collect()], f, indent=1)
    kept = batch.join(matches.select(args.id_col), args.id_col, "left_anti")
    kept.write.mode("overwrite").parquet(args.output)
    kept_back = spark.read.parquet(args.output)
    n_kept = kept_back.count()
    appended = 0
    if not args.no_update_state:
        # survivors' state rows come from the materialized output (no
        # recompute, and the state dir is not being scanned mid-append)
        new_state = dedup_state(kept_back, text_col=args.text_col, id_col=args.id_col)
        new_state.write.mode("append").parquet(args.state)
        appended = n_kept
    print(json.dumps({
        "batch_docs": batch.count(),
        "dropped_exact": stage_counts.get("exact", 0),
        "dropped_near": stage_counts.get("near", 0),
        "docs_kept": n_kept,
        "state_rows_appended": appended,
    }))
    return 0


def _run_top_tokens(spark, args) -> int:
    """top-tokens verb: one JSON line per rank on stdout (+ optional file)."""
    import json

    from pyspark.sql import functions as F

    from .operators import textops
    from .operators.sketches import heavy_hitters

    df = spark.read.parquet(args.input)
    if args.by_col:
        src, col = df, args.by_col
    else:
        if args.weight_col:
            raise SystemExit("--weight-col requires --by-col (tokens are unweighted)")
        src = df.select(
            F.explode(
                textops.tokens(F.lower(F.coalesce(F.col(args.text_col), F.lit(""))))
            ).alias("token")
        ).where(F.col("token") != "")
        col = "token"
    out = heavy_hitters(
        src, col, k=args.k, capacity=args.capacity, weight_col=args.weight_col
    )
    rows = [r.asDict() for r in out.collect()]
    for r in rows:
        print(json.dumps(r))
    if args.output_json:
        with open(args.output_json, "w") as f:
            json.dump(rows, f, indent=1)
    return 0


def _run_profile(spark, args) -> int:
    """profile verb: one JSON line per column on stdout (+ optional file)."""
    import json

    from .operators.profiling import profile_columns

    df = spark.read.parquet(args.input)
    cols = _csv_list(args.cols) or list(df.columns)
    rows = [r.asDict() for r in profile_columns(df, cols).collect()]
    for r in rows:
        print(json.dumps(r))
    if args.output_json:
        with open(args.output_json, "w") as f:
            json.dump(rows, f, indent=1)
    return 0


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    from pyspark.sql import SparkSession

    from .session import get_spark
    from .sources.csv import read_csv

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("oaxaca-cli")
    spark.sparkContext.setLogLevel("ERROR")

    if args.command in ("corpus", "tokenize", "quality", "drift", "profile", "top-tokens", "leakage", "ingest"):
        try:
            if args.command == "corpus":
                return _run_corpus(spark, args)
            if args.command == "tokenize":
                return _run_tokenize(spark, args)
            if args.command == "quality":
                return _run_quality(spark, args)
            if args.command == "profile":
                return _run_profile(spark, args)
            if args.command == "top-tokens":
                return _run_top_tokens(spark, args)
            if args.command == "leakage":
                return _run_leakage(spark, args)
            if args.command == "ingest":
                return _run_ingest(spark, args)
            return _run_drift(spark, args)
        finally:
            if owns_session:
                spark.stop()

    df = read_csv(spark, args.data)
    predictors = _csv_list(args.predictors)
    categorical = _csv_list(args.categorical)

    if args.analysis_type == "mean" or args.command == "report":
        from .builder import OaxacaBuilder

        if args.formula:
            b = OaxacaBuilder.from_formula(df, args.formula, args.group, args.reference)
        else:
            b = OaxacaBuilder(df, args.outcome, args.group, args.reference)
            b.predictors(predictors).categorical_predictors(categorical)
        b.reference_coefficients(args.ref_coeffs.replace("-", "_"))
        b.bootstrap_reps(args.bootstrap_reps).id_col("__ob_row_id__")
        if args.weights:
            b.weights(args.weights)
        if args.selection_outcome:
            b.heckman_selection(args.selection_outcome, _csv_list(args.selection_predictors))
        results = b.run()
        if args.command == "report":
            from .sinks.report import write_html

            write_html(results, args.output)
            print(f"Report written to {args.output}")
        else:
            results.summary()
        if args.output_json:
            with open(args.output_json, "w") as f:
                f.write(results.to_json())
        if args.output_markdown:
            with open(args.output_markdown, "w") as f:
                f.write(results.to_markdown())
    elif args.analysis_type == "quantile":
        from .quantile_builder import QuantileDecompositionBuilder

        b = QuantileDecompositionBuilder(df, args.outcome, args.group, args.reference)
        b.predictors(predictors).categorical_predictors(categorical)
        b.simulations(args.simulations).bootstrap_reps(args.bootstrap_reps)
        if args.quantiles:
            b.quantiles([float(q) for q in _csv_list(args.quantiles)])
        b.run().summary()
    elif args.analysis_type == "akm":
        from .operators.akm import AkmBuilder

        if not args.worker_id or not args.firm_id:
            print("error: --worker-id and --firm-id are required for AKM", file=sys.stderr)
            return 2
        res = (
            AkmBuilder(df, args.outcome, args.worker_id, args.firm_id)
            .controls(predictors)
            .run()
        )
        print("AKM Estimation Results")
        print("======================")
        for name, b_ in zip(predictors, res.beta):
            print(f"beta[{name}] = {b_:.6f}")
        print(f"R^2 = {res.r2:.6f}")
        print("Top firm effects:")
        for r in res.firm_effects.orderBy("effect", ascending=False).limit(5).collect():
            print(f"  {r[0]}: {r[1]:.4f}")
        res.release()
    elif args.analysis_type == "match":
        from .operators.matching import MatchingEngine

        eng = MatchingEngine(df, args.group, args.outcome, predictors, id_col="__ob_row_id__")
        if args.matching_method == "psm":
            w = eng.match_psm(args.k_neighbors)
        else:
            w = eng.run_matching(args.k_neighbors, args.matching_method == "mahalanobis")
        # main.rs:306-310 parity: --output-json writes the weights VECTOR in
        # input-row order (the reference serializes its positional Vec<f64>;
        # __ob_row_id__ is the CSV row index, so row_id order IS file order);
        # without it, print the count + first-10 preview the reference
        # prints — via count() + an ordered limit(10), so the preview path
        # never collects the full vector to the driver
        if args.output_json:
            weights = eng.weights_list(w)
            with open(args.output_json, "w") as f:
                json.dump(weights, f)
        else:
            n_weights = w.count()
            first10 = [
                float(r["weight"]) for r in w.orderBy("row_id").limit(10).collect()
            ]
            print(f"Matching completed. Generated {n_weights} weights.")
            print(f"First 10 weights: {first10}")
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
