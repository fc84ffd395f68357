"""Automated physical-plan audit over every registered contract query.

The 100 TB review the round notes do in prose, machine-checked: for each
`queries()` entry, build the DataFrame (planning only — though operators
that eagerly materialize, e.g. localCheckpoint pipelines, will run their
jobs) and scan the executed-plan string for the scale anti-patterns:

- CartesianProduct — the genuinely unbounded quadratic join (no broadcast
  cap). A small allow-list covers the documented exact-verification
  baselines (brute cosine top-k, all-pairs jaccard at small n) where the
  quadratic scan IS the spec and the scale path is a separate operator.
- BroadcastNestedLoopJoin is recorded but NOT flagged: its broadcast side
  is capped by the autoBroadcastJoinThreshold, and the repo's sanctioned
  scalar pattern — crossJoin(broadcast(<1-row aggregate>)) for U-bounds,
  totals and calibration constants — plans as a BNLJ by construction.
- BatchEvalPython — row-at-a-time Python UDFs (the slow path; this repo's
  rule is Arrow-batched or nothing). ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas are the sanctioned Python surfaces and are counted
  separately, not flagged.
- Exchange count — shuffles per plan (informational; joins/aggs must
  shuffle, but a creeping count is the first smell of a lost co-partition).
  CAVEAT: the printed tree textually duplicates shared subtrees (a frame
  referenced twice prints its upstream exchanges twice) and runtime AQE
  exchange-reuse is invisible here, so the static count OVERSTATES the
  executed shuffles. Compare trends per query, not across them.

Usage: python tools/plan_audit.py [--json OUT] [name ...]
Writes one summary line per query; --json emits the committed artifact.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# documented quadratic baselines: the cartesian/BNLJ is the exact-verification
# spec there, with a separate LSH/IVF/banded scale path registered alongside
CARTESIAN_ALLOWED = {
    "knn_cosine_top3",       # brute-force baseline the ANN rows verify against
    "embedding_cosine_dups", # exact near-dup baseline (LSH variant is the scale path)
    "ann_recall",            # composes the brute baseline by construction
    "pq_adc_top3",           # exhaustive ADC scan is the paper's baseline face
    "mm_small_exact",        # LP-vertex exact QR on a deliberately tiny frame
}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    only = set(args)

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("plan-audit")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    records: dict = {}
    flagged: list[str] = []
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        t0 = time.time()
        rec = {"cartesian": False, "bnlj": False, "python_udf_rows": False,
               "arrow_python": 0, "exchanges": 0, "err": None, "flag": False}
        records[name] = rec
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # planning/eager-build failure is itself a finding
            rec["err"] = str(e).split("\n")[0][:200]
            rec["flag"] = True
            flagged.append(name)
            print(f"[ERR ] {name}: {rec['err']}")
            continue
        rec["cartesian"] = "CartesianProduct" in plan
        rec["bnlj"] = "BroadcastNestedLoopJoin" in plan
        rec["python_udf_rows"] = "BatchEvalPython" in plan
        rec["arrow_python"] = len(re.findall(
            r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow", plan))
        rec["exchanges"] = plan.count("Exchange")
        rec["exchange_nodes"] = len(set(re.findall(r"Exchange[^\n]*plan_id=(\d+)", plan)))
        rec["secs"] = round(time.time() - t0, 1)
        quad = rec["cartesian"] and name not in CARTESIAN_ALLOWED
        rec["flag"] = bool(quad or rec["python_udf_rows"])
        if rec["flag"]:
            flagged.append(name)
        tag = "FLAG" if rec["flag"] else "ok  "
        print(f"[{tag}] {name}: ex={rec['exchanges']} arrow={rec['arrow_python']}"
              f"{' CARTESIAN' if rec['cartesian'] else ''}"
              f"{' BNLJ' if rec['bnlj'] else ''}"
              f"{' ROW-PYTHON-UDF' if rec['python_udf_rows'] else ''}")
    spark.stop()

    if json_out:
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ).stdout.strip()
        out = {
            "sf_dir": sf_dir,
            "git_rev": rev,
            "generated_unix": int(time.time()),
            "checked": len(records),
            "flagged": flagged,
            "cartesian_allowed": sorted(CARTESIAN_ALLOWED),
            "queries": records,
        }
        with open(json_out, "w") as fh:
            json.dump(out, fh, indent=1)
        print(f"\nwrote {json_out}: {len(records)} plans, {len(flagged)} flagged")
    if flagged:
        print(f"\nFLAGGED: {flagged}")
        return 1
    print("\nAll plans clean.")
    return 0


if __name__ == "__main__":
    sys.exit(main())
