#!/usr/bin/env python
"""Scale-evidence probe (r9 VERDICT item 6): run the heaviest registry
queries on a 10x-replicated sf0.1 dataset (~sf1-equivalent) at two core
counts, so the core-count ratio measures PARALLELISM on data that is no
longer dominated by the ~0.2-0.5 s/job scheduling floor.

    python tools/scale_probe.py gen                 # write the dataset once
    python tools/scale_probe.py run --cpus 32       # one timing pass
    python tools/scale_probe.py run --cpus 8

Dataset: /tmp/scale_probe_sf1/ — lineitem/documents/embeddings with
per-replica key shifts (id' = id + k*10^9) so FK joins stay consistent
within a replica and the 10 replicas are DISJOINT subgraphs/corpora:
document tokens get a per-replica suffix so shingle sets do not collide
across replicas (exact replication would inflate dedup candidate volume
quadratically and measure the stress case, not scaling).  Timing only —
no oracle exists at this SF; correctness is the driver's job at sf0.01.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
OUT = "/tmp/scale_probe_sf1"
REPLICAS = 10
SHIFT = 10**9

QUERIES_TO_PROBE = [
    "graph_ppr",
    "graph_pagerank",
    "graph_triangle_count",
    "graph_common_neighbors",
    "cur_full_pipeline",
    "dedup_minhash_lsh",
    "dedup_incremental_minhash",
    "cur_keep_best_per_cluster",
    "mb_item_cf_topk",
    "sim_recall_eval",
]


def _stopwords():
    from atd_data_lake_spark.operators.text import STOPWORDS

    return STOPWORDS


def gen() -> None:
    from pyspark.sql import functions as F

    from atd_data_lake_spark.session import get_spark

    spark = get_spark(app_name="scale_probe_gen", master="local[32]",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    reps = spark.range(REPLICAS).select(F.col("id").alias("_rep"))

    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    (li.crossJoin(F.broadcast(reps))
       .withColumn("l_orderkey", F.col("l_orderkey") + F.col("_rep") * SHIFT)
       .withColumn("l_partkey", F.col("l_partkey") + F.col("_rep") * SHIFT)
       .withColumn("l_suppkey", F.col("l_suppkey") + F.col("_rep") * SHIFT)
       .drop("_rep")
       .repartition(16)
       .write.mode("overwrite").parquet(f"{OUT}/lineitem.parquet"))

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    (docs.crossJoin(F.broadcast(reps))
         .withColumn("doc_id", F.col("doc_id") + F.col("_rep") * SHIFT)
         # per-replica suffix on every NON-stopword token: trigram
         # shingles decorrelate across replicas (clean linear dedup
         # scaling) while the language-id stopword needles — and with
         # them the quality/lang gates — keep firing.  Stopword list
         # from operators/text.STOPWORDS (all languages), each word
         # regex-escaped.  The replacement needs no escaping: ``$1`` puts
         # the matched token back verbatim (a ``$`` or ``\`` inside a
         # token is not re-read as a group reference), and the suffix is
         # ``r`` plus digits.
         .withColumn(
             "text",
             F.regexp_replace(
                 F.col("text"),
                 F.lit(
                     r"\b(?!(?:" + "|".join(sorted({
                         re.escape(w) for ws in _stopwords().values() for w in ws
                     })) + r")\b)(\S+)"
                 ),
                 F.concat(F.lit("$1r"), F.col("_rep").cast("string")),
             ),
         )
         .drop("_rep")
         .repartition(16)
         .write.mode("overwrite").parquet(f"{OUT}/documents.parquet"))

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    (emb.crossJoin(F.broadcast(reps))
        .withColumn("vec_id", F.col("vec_id") + F.col("_rep") * SHIFT)
        .drop("_rep")
        .repartition(16)
        .write.mode("overwrite").parquet(f"{OUT}/embeddings.parquet"))

    # small tables copied as-is (only read by queries outside the probe
    # list, but read_table must find them if a probe query touches one)
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "events"]:
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode(
            "overwrite").parquet(f"{OUT}/{t}.parquet")
    for t in ["lineitem", "documents", "embeddings"]:
        n = spark.read.parquet(f"{OUT}/{t}.parquet").count()
        print(f"# {t}: {n} rows", flush=True)


def run(cpus: int, reps: int) -> None:
    from bench import _calibrate_cpu

    from atd_data_lake_spark.queries import QUERIES
    from atd_data_lake_spark.session import get_spark

    c0 = _calibrate_cpu()
    spark = get_spark(app_name=f"scale_probe_c{cpus}",
                      master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{OUT}/lineitem.parquet").count()
    spark.range(1000, numPartitions=cpus).mapInPandas(
        lambda it: it, schema="id long").count()

    times: dict[str, list[float]] = {q: [] for q in QUERIES_TO_PROBE}
    errors: dict[str, str] = {}
    for _ in range(reps):
        for name in QUERIES_TO_PROBE:
            if name in errors:
                continue
            spark.sparkContext.setJobDescription(f"probe: {name}")
            t0 = time.perf_counter()
            try:
                QUERIES[name](spark, OUT).count()
                times[name].append(round(time.perf_counter() - t0, 3))
            except Exception as e:  # noqa: BLE001
                errors[name] = str(e).split("\n")[0][:200]
            spark.catalog.clearCache()
    print(json.dumps({
        "cpus": cpus,
        "mins": {q: min(v) for q, v in times.items() if v},
        "all": times,
        "errors": errors,
        "calib": [c0, _calibrate_cpu()],
    }))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["gen", "run"])
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()
    if args.mode == "gen":
        gen()
    else:
        run(args.cpus, args.reps)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
