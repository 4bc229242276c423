#!/usr/bin/env python
"""Scale-smoke: run the heavy corpus operators on a 10×-replicated sf0.1
corpus (≈ sf1-equivalent row counts for documents/embeddings) and print
per-op wall times.  Not part of the default bench — evidence that the
dedup/curation/similarity plans hold when the data outgrows every
broadcast/driver-side shortcut by an order of magnitude.

Replication keeps ids unique (id' = id + k·10⁹) so dedup semantics stay
meaningful: every replica IS a near-duplicate of its source, which also
stress-tests the candidate-pair volume, the exact worst case for
LSH/Jaccard family operators.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

REPLICAS = int(os.environ.get("SCALE_SMOKE_REPLICAS", "10"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from atd_data_lake_spark.session import get_spark

    spark = get_spark(app_name="scale_smoke", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    docs0 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb0 = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def blow_up(df, id_col):
        reps = spark.range(REPLICAS).select(F.col("id").alias("_rep"))
        return (
            df.crossJoin(F.broadcast(reps))
            .withColumn(id_col, F.col(id_col) + F.col("_rep") * F.lit(10**9))
            .drop("_rep")
        )

    docs = blow_up(docs0, "doc_id").persist()
    emb = blow_up(emb0, "vec_id").persist()
    _bases = [docs, emb]  # re-warmed after each op's cache flush
    n_docs, n_emb = docs.count(), emb.count()
    print(f"# corpus: {n_docs} docs, {n_emb} embeddings ({REPLICAS}x {SF_DIR})")

    from atd_data_lake_spark.operators.curation import keep_best_per_cluster
    from atd_data_lake_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from atd_data_lake_spark.operators.semdedup import semantic_dedup
    from atd_data_lake_spark.operators.similarity import embedding_near_dups
    from atd_data_lake_spark.operators.text import (
        profile_documents,
        unigram_logprob_score,
    )

    ops = {
        "exact_dedup": lambda: exact_dedup(docs),
        "text_profile": lambda: profile_documents(
            docs.select("doc_id", "text"), text_col="text"
        ),
        "unigram_logprob": lambda: unigram_logprob_score(
            docs.select("doc_id", "text")
        ),
        "minhash_lsh": lambda: minhash_lsh_candidates(docs),
        "ngram_jaccard": lambda: ngram_jaccard_pairs(docs, n=3, threshold=0.5),
        "embedding_near_dups": lambda: embedding_near_dups(
            emb, threshold=0.95, max_collect_rows=1000
        ),  # forces the LSH scale path: corpus must never be collected
        "semantic_dedup": lambda: semantic_dedup(emb, n_clusters=64),
    }

    # round-3 additions: band join on a replicated event stream, and the
    # DISTRIBUTED components path (the size gate would otherwise route a
    # smoke-sized edge list to the driver union-find)
    from atd_data_lake_spark.operators.components import connected_components
    from atd_data_lake_spark.operators.rangejoin import time_window_join

    ev0 = spark.read.parquet(f"{SF_DIR}/events.parquet")
    reps = spark.range(REPLICAS).select(F.col("id").alias("_rep"))
    ev = (
        ev0.crossJoin(F.broadcast(reps))
        .withColumn("user_id", F.col("user_id") + F.col("_rep") * F.lit(10**9))
        .drop("_rep")
        .persist()
    )
    _bases.append(ev)
    ev.count()
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts"
    )
    ops["time_window_join"] = lambda: time_window_join(
        errors, ev.select("user_id", "event_id", "ts"), on=["user_id"],
        window_seconds=300,
    )
    ops["components_distributed"] = lambda: connected_components(
        ngram_jaccard_pairs(docs, n=3, threshold=0.5), max_local_edges=0
    )

    # round-5 additions: containment is the candidate-volume worst case
    # (every replica is contained in its source — no symmetric size
    # pruning to save it); centroid assignment and SCD2/z-order must
    # stay flat (zero / one shuffle respectively)
    from atd_data_lake_spark.operators.dedup import ngram_containment_pairs
    from atd_data_lake_spark.operators.layout import morton_key_8x8
    from atd_data_lake_spark.operators.similarity import centroid_assign
    from atd_data_lake_spark.operators.windows import pack_intervals

    cent = [(int(r[0]), list(r[1])) for r in emb0.limit(8).collect()]
    ops["centroid_assign"] = lambda: centroid_assign(emb, cent)

    # round-28: benchmark matrix ships in the closure — one zero-shuffle
    # map stage over the 10× corpus, wall must track the scan alone.
    # Fixed-range benchmark (matches the registry query): the eval set
    # must NOT grow with the corpus
    from atd_data_lake_spark.operators.curation import semantic_decontaminate

    bench = emb0.filter(F.col("vec_id") < 20)
    ops["semantic_decontaminate"] = lambda: semantic_decontaminate(
        emb, bench, threshold=0.30
    )

    # round-28: n-gram novelty shares the 8-byte shingle-hash exchange
    # with the Jaccard family; replicas make every source shingle
    # corpus-common (df ≥ 10), the worst case for the common-set size
    from atd_data_lake_spark.operators.text import ngram_novelty

    ops["ngram_novelty"] = lambda: ngram_novelty(docs, common_df=10)
    ops["ngram_containment"] = lambda: ngram_containment_pairs(
        docs, n=3, threshold=0.8
    )
    ops["scd2_pack"] = lambda: pack_intervals(
        ev.select("user_id", "ts", "event_type", "event_id"),
        "user_id", "ts", "event_type", tiebreak=["event_id"],
    )
    ops["zorder_audit"] = lambda: ev.select(
        morton_key_8x8(
            F.col("user_id").bitwiseAND(F.lit(255)).cast("int"),
            F.floor((F.hour("ts") * 60 + F.minute("ts")) / 6).cast("int"),
        ).alias("zkey")
    ).groupBy("zkey").count()

    # round-6 additions: the gap-fill grid must stay |entities|×|days|
    # (10× users → 10× grid rows, never 10× × events); trigram mining and
    # the MAD model must keep their single event-stream shuffle flat
    from pyspark.sql import Window

    def resample_ffill_10x():
        daily = ev.groupBy(
            "user_id", F.to_date("ts").alias("day")
        ).agg(F.expr("max_by(value, struct(ts, event_id))").alias("day_value"))
        span = ev.agg(
            F.to_date(F.min("ts")).alias("_lo"), F.to_date(F.max("ts")).alias("_hi")
        )
        days = span.select(F.explode(F.sequence("_lo", "_hi")).alias("day"))
        grid = ev.select("user_id").distinct().crossJoin(F.broadcast(days))
        w = (
            Window.partitionBy("user_id")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return grid.join(daily, ["user_id", "day"], "left").withColumn(
            "value_ffill", F.last("day_value", ignorenulls=True).over(w)
        )

    def top_paths_10x():
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        tri = ev.select(
            F.col("event_type").alias("s1"),
            F.lead("event_type", 1).over(w).alias("s2"),
            F.lead("event_type", 2).over(w).alias("s3"),
        ).filter(F.col("s2").isNotNull() & F.col("s3").isNotNull())
        return tri.groupBy("s1", "s2", "s3").count()

    def anomaly_mad_10x():
        med = ev.groupBy("user_id").agg(F.expr("median(value)").alias("med"))
        mad = (
            ev.join(F.broadcast(med), "user_id")
            .groupBy("user_id")
            .agg(
                F.expr("median(abs(value - med))").alias("mad"),
                F.first("med").alias("med"),
            )
        )
        return (
            ev.join(F.broadcast(mad), "user_id")
            .groupBy("user_id")
            .agg(
                F.sum(
                    F.when(
                        F.abs(F.col("value") - F.col("med"))
                        > 3.0 * 1.4826 * F.col("mad"),
                        1,
                    ).otherwise(0)
                ).alias("n_outliers")
            )
        )

    ops["resample_ffill"] = resample_ffill_10x
    ops["top_paths"] = top_paths_10x
    ops["anomaly_mad"] = anomaly_mad_10x

    # round-7/9 additions: PageRank on a 10×-replicated basket graph (10
    # disjoint copies — edge volume scales linearly, iterations must stay
    # flat), and the drift/lateness/interval monitors on the 10× stream
    from atd_data_lake_spark.basket_queries import basket_pairs, baskets

    li0 = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    li = (
        li0.crossJoin(F.broadcast(reps))
        .select(
            (F.col("l_orderkey") + F.col("_rep") * F.lit(10**9)).alias("l_orderkey"),
            (F.col("l_partkey") + F.col("_rep") * F.lit(10**9)).alias("l_partkey"),
        )
        .persist()
    )
    _bases.append(li)
    li.count()

    def _copurchase_edges_10x():
        pairs = basket_pairs(baskets(li), ("pa", "pb")).distinct()
        return pairs.select(
            F.col("pa").alias("src"), F.col("pb").alias("dst")
        ).unionAll(
            pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
        )

    def pagerank_10x():
        from atd_data_lake_spark.operators.graph import pagerank_masses

        return pagerank_masses(_copurchase_edges_10x(), n_iter=5).orderBy(
            F.desc("mass"), "node"
        ).limit(100)

    def pagerank_10x_hub_salted():
        # hub injection: one synthetic node wired to EVERY part in the
        # base replica (worst-degree row), then the salted adjacency
        # must keep per-row neighbor lists bounded at ~deg/16 while
        # producing masses through the identical integer arithmetic
        from atd_data_lake_spark.operators.graph import pagerank_masses

        hub = F.lit(-777).cast("long")
        parts0 = li0.select(F.col("l_partkey").alias("dst")).distinct()
        hub_edges = parts0.select(hub.alias("src"), "dst").unionAll(
            parts0.select(F.col("dst").alias("src"), hub.alias("dst"))
        )
        edges = _copurchase_edges_10x().unionAll(hub_edges)
        return pagerank_masses(edges, n_iter=5, salt_buckets=16).orderBy(
            F.desc("mass"), "node"
        ).limit(100)

    def interval_coverage_10x():
        from pyspark.sql import Window as W

        start = F.unix_micros(F.to_utc_timestamp("ts", "UTC"))
        dur = F.greatest(
            F.lit(0).cast("long"), (F.col("value") * 60000000).cast("long")
        )
        iv = ev.select(
            "user_id", "event_id", start.alias("s_us"), (start + dur).alias("e_us")
        )
        w = W.partitionBy("user_id").orderBy("s_us", "event_id")
        prev = F.max("e_us").over(w.rowsBetween(W.unboundedPreceding, -1))
        fl = iv.withColumn(
            "_new",
            F.when(prev.isNull() | (F.col("s_us") > prev), 1).otherwise(0),
        ).withColumn(
            "island", F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, 0))
        )
        return (
            fl.groupBy("user_id", "island")
            .agg(F.min("s_us").alias("s"), F.max("e_us").alias("e"))
            .groupBy("user_id")
            .agg(F.sum(F.col("e") - F.col("s")).alias("cov"))
        )

    ops["pagerank_10x_graph"] = pagerank_10x
    ops["pagerank_10x_hub_salted"] = pagerank_10x_hub_salted
    ops["interval_coverage"] = interval_coverage_10x

    # round-13/14 additions: the triangle census on 10 disjoint graph
    # copies (wedge volume and triangle count must scale linearly — the
    # degree orientation is what keeps it so), banded phash near-dup
    # where every replica is an exact dup (max candidate volume), and
    # the train-small/project-wide ops (PQ, PCA) which must stay one
    # bounded collect + one map pass regardless of corpus size
    def triangle_10x():
        pairs = basket_pairs(baskets(li)).distinct().persist()
        und = pairs.select(F.col("a").alias("s"), F.col("b").alias("d")).unionAll(
            pairs.select(F.col("b").alias("s"), F.col("a").alias("d"))
        )
        deg = und.groupBy("s").agg(F.count("*").alias("deg"))
        dl = F.broadcast(deg.select(F.col("s").alias("a"), F.col("deg").alias("dega")))
        dr = F.broadcast(deg.select(F.col("s").alias("b"), F.col("deg").alias("degb")))
        af = (F.col("dega") < F.col("degb")) | (
            (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
        )
        oriented = (
            pairs.join(dl, "a")
            .join(dr, "b")
            .select(
                F.when(af, F.col("a")).otherwise(F.col("b")).alias("src"),
                F.when(af, F.col("b")).otherwise(F.col("a")).alias("dst"),
                F.when(af, F.col("degb")).otherwise(F.col("dega")).alias("dst_deg"),
            )
            .persist()
        )
        e1 = oriented.select("src", F.col("dst").alias("v"), F.col("dst_deg").alias("degv"))
        e2 = oriented.select("src", F.col("dst").alias("w"), F.col("dst_deg").alias("degw"))
        wedges = e1.join(e2, "src").filter(
            (F.col("degv") < F.col("degw"))
            | ((F.col("degv") == F.col("degw")) & (F.col("v") < F.col("w")))
        )
        closing = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
        return wedges.join(closing, ["v", "w"]).agg(F.count("*").alias("n"))

    def phash_10x():
        from atd_data_lake_spark.round13_queries import media_phash, phash_near_dups

        media = docs.select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "UTF-8").alias("payload"),
        )
        return phash_near_dups(media_phash(media))

    def pca_10x():
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        from atd_data_lake_spark.round14_queries import _pca_components

        sample_rows = (
            emb.orderBy("vec_id").select("embedding").limit(4096).collect()
        )
        sample = np.array([r[0] for r in sample_rows], dtype=np.float64)
        mean, comps, _ = _pca_components(sample)
        schema = T.StructType(
            [T.StructField("vec_id", T.LongType())]
            + [T.StructField(f"p{i}", T.DoubleType()) for i in range(8)]
        )

        def op(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64) - mean
                P = np.round(X @ comps.T, 6)
                out = {"vec_id": pdf["vec_id"]}
                for i in range(8):
                    out[f"p{i}"] = P[:, i]
                yield pd.DataFrame(out)

        return emb.select("vec_id", "embedding").mapInPandas(op, schema=schema)

    ops["triangle_census"] = triangle_10x
    ops["phash_near_dup"] = phash_10x
    ops["pca_project"] = pca_10x

    # round-29 additions: line dedup where every replica makes EVERY
    # line corpus-frequent (maximum frequent-set size AND maximum drop
    # volume); URL rollup/gate as pure string-math map + one groupBy
    # (wall must track the scan); portable simhash whose banded join
    # faces 10× replicas that are all exact dups (every block collides);
    # IVF upsert where the 10× incoming batch re-delivers the whole
    # standing (base-replica) index and adds 9× new vectors — the
    # anti-join must prune the replays before any assignment math
    from atd_data_lake_spark.operators.dedup import (
        simhash_near_dups,
        simhash_signature_portable,
    )
    from atd_data_lake_spark.operators.similarity import ivf_upsert
    from atd_data_lake_spark.operators.text import line_level_dedup
    from atd_data_lake_spark.operators.urls import (
        domain_quality_rollup,
        registrable_domain,
        url_parts,
    )

    ops["line_dedup"] = lambda: line_level_dedup(
        docs.select("doc_id", "text"), max_df=2
    )
    docs_url = docs.withColumn(
        "url",
        F.concat(
            F.lit("https://www."), F.col("source"),
            F.element_at(
                F.array(F.lit(".com"), F.lit(".co.uk"), F.lit(".org")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ),
            F.lit("/p/"), F.col("doc_id").cast("string"),
        ),
    )
    ops["url_domain_rollup"] = lambda: domain_quality_rollup(
        url_parts(docs_url, "url").withColumn(
            "reg_domain", registrable_domain(F.col("host"))
        )
    )
    ops["simhash_portable"] = lambda: simhash_near_dups(
        docs,
        max_hamming=3,
        block_bits=12,
        signature=simhash_signature_portable(docs, n_bits=48),
        hash_bits=48,
    )
    # round-30: 3-round min-label propagation on the 10× basket graph —
    # the receiver-keyed adjacency must keep rounds edge-shuffle-free
    # (one build exchange) exactly like pagerank
    def label_prop_10x():
        from atd_data_lake_spark.operators.graph import label_propagate

        return label_propagate(_copurchase_edges_10x(), n_rounds=3)

    ops["label_prop_10x_graph"] = label_prop_10x

    # round-7: the broadcast-gate FALLBACK path (node count above the
    # gate → every node-frame join un-hinted, AQE decides) must execute
    # the same 10× graph end-to-end; bit-identical masses are asserted
    # in tests/test_graph_salted.py — this row measures the degraded
    # plan's wall so SCALE.md's "falls back above the gate" claim has a
    # number behind it
    def pagerank_10x_gate_fallback():
        from atd_data_lake_spark.operators.graph import pagerank_masses

        return pagerank_masses(
            _copurchase_edges_10x(), n_iter=5, broadcast_node_limit=0
        ).orderBy(F.desc("mass"), "node").limit(100)

    ops["pagerank_10x_gate_fallback"] = pagerank_10x_gate_fallback

    # round-32: substring dedup worst case — every replica shares EVERY
    # window with its 9 siblings (df=10 ≤ max_df), so candidate volume
    # maxes out at C(10,2)=45 pairs per source window, and every doc
    # pair merges into one full-document span
    def repeated_spans_10x():
        from atd_data_lake_spark.operators.dedup import repeated_span_pairs

        return repeated_span_pairs(docs, window=8, min_span=12, max_df=20)

    ops["repeated_spans_10x"] = repeated_spans_10x

    # round-7 verdict item: the heaviest registry graph op at 10× — the
    # delta-BFS must stay frontier-bounded when the basket graph's edge
    # volume grows 10× (sf1-equivalent); seeds thinned 10× to keep the
    # (seed × reachable-set) output comparable to the sf0.1 query shape
    def k_hop_10x():
        from atd_data_lake_spark.operators.graph import k_hop_counts

        edges = _copurchase_edges_10x()
        seeds = (
            edges.select(F.col("src").alias("seed"))
            .filter(F.col("seed") % 500 == 0)
            .distinct()
        )
        return k_hop_counts(
            edges.select(F.col("src").alias("s"), F.col("dst").alias("d")),
            seeds,
        )

    ops["k_hop_10x"] = k_hop_10x

    standing_1x = emb.filter(F.col("vec_id") < 10**9).select("vec_id")
    ops["ivf_upsert"] = lambda: ivf_upsert(
        centroid_assign(
            emb.join(standing_1x, "vec_id", "left_semi"), cent
        ).select("vec_id", "centroid_id"),
        emb,
        cent,
    )
    # round-33 additions: PassJoin on the 10× corpus (every replica's
    # title is an exact dup of its source — max candidate volume for the
    # segment equi-join); the PQ-ADC scan (one Arrow pass + a window over
    # k·|Q| candidates per batch — wall must track the scan alone); the
    # bigram LM (two hashed-key exchanges, model stays ≤ 4096 rows)
    from atd_data_lake_spark.operators.fuzzy import passjoin_pairs

    def passjoin_10x():
        titles = docs.select(
            F.col("doc_id").alias("id"),
            F.array_join(F.slice(F.split("text", " "), 1, 8), " ").alias(
                "title"
            ),
        )
        return passjoin_pairs(titles, "id", "title", max_dist=1)

    ops["passjoin_edit_dedup"] = passjoin_10x

    def _registered_10x(module, query, frame):
        """Run a REGISTERED query over the replicated frame (monkeypatch
        its module's _t, the tests/test_dedup.py pattern) — the smoke
        measures the exact shipped code path, so operator fixes
        propagate to the benchmark automatically."""
        orig = module._t
        try:
            module._t = lambda s_, sf_, name_: frame
            return query(spark, "10x")
        finally:
            module._t = orig

    import atd_data_lake_spark.round33_queries as r33
    import atd_data_lake_spark.sim_queries as sq

    ops["pq_adc_scan"] = lambda: _registered_10x(sq, sq.sim_ann_pq_adc, emb)
    ops["bigram_lm"] = lambda: _registered_10x(
        r33, r33.text_bigram_logprob, docs
    )

    # the shipped cur_bloom_decontam over the 10x corpus: the benchmark
    # side (doc_id % 20 == 0 AFTER replication ≈ 5% of 500k docs)
    # stresses the bitmap build; the probe side is a constant-size
    # literal test per shingle — wall should track the two corpus
    # passes (build + probe), never the reference-set size
    import atd_data_lake_spark.round42_queries as r42

    ops["bloom_decontam"] = lambda: _registered_10x(
        r42, r42.cur_bloom_decontam, docs
    )

    # round-9 additions: the fused Bloom decontam pass (bitmap = closure
    # constant; corpus crosses ONE Arrow stage emitting a row per doc) and
    # the end-to-end curation DAG (every replica is a near-dup of its
    # source, so components see 10-member clusters — the split-leakage
    # worst case)
    from atd_data_lake_spark.operators.dedup import shingle_string_rows
    from atd_data_lake_spark.operators.sketches import (
        bloom_bitmap,
        bloom_shingle_probe_counts,
    )
    from atd_data_lake_spark.round46_queries import full_pipeline_frame

    def bloom_fused_decontam_10x():
        bench_sh = shingle_string_rows(
            docs.filter(F.col("doc_id") % 20 == 0), "doc_id", "text", 3,
            fan=False,
        ).select("shingle")
        bitmap = bloom_bitmap(bench_sh, "shingle", 1 << 18, 3)
        return bloom_shingle_probe_counts(
            docs, bitmap, "doc_id", "text", 3, 1 << 18, 3
        )

    ops["bloom_fused_decontam"] = bloom_fused_decontam_10x
    ops["cur_full_pipeline"] = lambda: full_pipeline_frame(
        docs.select("doc_id", "text")
    )

    only = os.environ.get("SCALE_SMOKE_ONLY")
    if only:
        wanted = {w.strip() for w in only.split(",") if w.strip()}
        missing = wanted - set(ops)
        if missing:
            raise SystemExit(f"unknown ops: {sorted(missing)}")
        ops = {k: v for k, v in ops.items() if k in wanted}
    for name, fn in ops.items():
        t0 = time.perf_counter()
        n = fn().count()
        print(f"# {name}: {time.perf_counter() - t0:.2f}s ({n} rows)", flush=True)
        # isolate ops: operator-internal persists (LSH candidate frames,
        # adjacency caches, ...) otherwise accumulate across the 28 ops
        # and inflate later timings 3-5x (r6 measured: url rollup 15.1s
        # in-session vs 2.7s isolated; ivf_upsert 20.4s vs 6.7s) — flush
        # everything, then re-warm only the shared base frames
        spark.catalog.clearCache()
        for b in _bases:
            b.persist()
            b.count()


if __name__ == "__main__":
    main()
