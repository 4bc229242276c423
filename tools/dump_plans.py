#!/usr/bin/env python
"""Dump `.explain("formatted")` for named registry queries into
<out>/<query>_<suffix>.txt (each query collected first, so AQE final
plans and cached-subtree statistics are materialized).  The ids that
vary from run to run — expression ids ``#N``, exchange ``plan_id=N``,
and the codegen and query-stage ids, which follow the order in which
AQE stages happen to materialize — are written as ``N``, so ``diff -r``
of two dumps compares plans.

    python tools/dump_plans.py --out /tmp/plans_after --suffix after q1 q2 ...
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_RUN_IDS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"(QueryStage\nOutput \[\d+\]: [^\n]*\nArguments: )\d+"), r"\1N"),
]


def strip_run_ids(plan: str) -> str:
    for pattern, repl in _RUN_IDS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--out", default=os.path.join(REPO, "plans", "r09"))
    ap.add_argument("--suffix", default="after")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-checkpoint", action="store_true", help=(
        "monkeypatch DataFrame.localCheckpoint to identity for this dump: "
        "iterative queries (graph_ppr) truncate lineage per round, so their "
        "final plan is otherwise an 18-line RDD-scan stub (r9 verdict item "
        "8).  Plan-dump-only; the shipped query keeps its checkpoints."))
    args = ap.parse_args()

    if args.no_checkpoint:
        # patch the concrete class too — pyspark.sql.DataFrame is the
        # abstract base; classic sessions dispatch to their own override
        from pyspark.sql import DataFrame as _DF
        from pyspark.sql.classic.dataframe import DataFrame as _CDF

        _DF.localCheckpoint = lambda self, eager=True: self
        _CDF.localCheckpoint = lambda self, eager=True: self

    from atd_data_lake_spark.queries import QUERIES
    from atd_data_lake_spark.session import get_spark
    from atd_data_lake_spark.operators.scale import tracked_caches

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="dump_plans",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = args.out
    os.makedirs(out_dir, exist_ok=True)
    for name in args.names:
        spark.sparkContext.setJobDescription(f"plan: {name}")
        with tracked_caches():
            df = QUERIES[name](spark, args.sf)
            # Execute THROUGH the DataFrame's own QueryExecution (collect,
            # not a noop write — the write command builds a separate QE, so
            # the dataset's own plan stayed un-executed and every dump read
            # `isFinalPlan=false`, hiding runtime ReusedExchange /
            # AQEShuffleRead; r9 verdict item 2).  Registry queries return
            # bounded results (the driver oracle collects them), so the
            # collect is safe.
            df.collect()
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            txt = strip_run_ids(txt)
            path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(txt)
        spark.catalog.clearCache()
        print(f"{name}: wrote {path}", flush=True)
    spark.sparkContext.setJobDescription(None)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
