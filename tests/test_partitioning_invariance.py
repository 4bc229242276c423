"""Partitioning invariance: query results must not depend on
spark.sql.shuffle.partitions.

A result that changes with the partition count is the classic
distributed-correctness bug (order-dependent aggregates, first()
without ordering, nondeterministic tiebreaks).  The engine's claims —
deterministic tiebreaks, exact-sum float discipline, hash-based
sampling — all imply partition-count invariance, so it is asserted
directly for a representative slice of the registry: window/tiebreak
queries, float-aggregate queries, hash-dependent rows-only queries,
and the iterative/size-gated operators.
"""

from __future__ import annotations

import pytest

from atd_data_lake_spark.queries import QUERIES

# representative slice: each entry exercises a distinct invariance risk
CASES = [
    "a5_first_seen_rank",        # window tiebreaks
    "o1_topk_per_group",         # top-k ordering
    "a1_tumbling_window_15min",  # exact-sum stddev
    "evt_value_correlation",     # exact-sum corr/covar
    "evt_retention",             # collect_set + explode
    "cur_split_assign",          # hash-based split membership
    "cur_stratified_sample",     # hash-based sampling
    "dedup_clusters",            # size-gated union-find
    "evt_time_window_join",      # exploded bucket join
    "j_asof_nearest",            # struct-min_by tiebreaks
    "dedup_minhash_lsh",         # seeded signatures (rows-only query)
    "sim_ann_lsh",               # loaded-plane LSH bucket joins
    "agg_approx_sketches",       # HLL / quantile sketch merge determinism
    "geo_radius_join",           # grid-bucketed spatial join
    "cur_deterministic_shuffle",  # bucket-composed global rank
    # round-5 risks
    "evt_scd2_intervals",        # two-window run ids + event_id tiebreak
    "cur_mixture_resample",      # count-derived thresholds + hash membership
    "emb_kmeans_assign",         # rounded-sim argmax tiebreak
    # round-6 risks
    "evt_resample_ffill",        # max_by struct tiebreak + ffill window
    "evt_anomaly_mad",           # exact medians feeding a > threshold
    # round-7 risks
    "graph_pagerank",            # 5 rounds of integer mass transfer
    # round-8 risks
    "cur_leakage_safe_split",    # clusters + hash membership
    "evt_interval_coverage",     # running-max island detection
    "text_token_entropy",        # decimal-summed float-log terms
    # round-9 risks
    "dq_psi_drift",              # exact-decile bins + decimal PSI sum
    "dq_watermark_lateness",     # running-max lateness + exact percentiles
    # round-32 risks
    "cur_dsir_resample",         # decimal-summed log ratios + hash accept
    "dedup_repeated_spans",      # df cutoff + diagonal islands
]


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        (tuple(str(x) for x in r) for r in df.select(*cols).collect())
    )


@pytest.mark.parametrize("name", CASES)
def test_result_invariant_to_shuffle_partitions(spark, sf_dir, name):
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        one = _rows(QUERIES[name](spark, sf_dir))
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        thirteen = _rows(QUERIES[name](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert one == thirteen, f"{name}: result depends on partition count"


JOIN_CASES = [
    "olap_star_join",         # 5-way broadcast star
    "q10_returned_items",     # 3 broadcasts + agg
    "j2_enrich_broadcast",    # explicit broadcast enrichment
    "j8_asof_backward",       # broadcast as-of
    "evt_time_window_join",   # AQE-chosen side for the bucket join
    "j_salted_skew_join",     # salt fan-out + join
]


@pytest.mark.parametrize("name", JOIN_CASES)
def test_result_invariant_to_join_strategy(spark, sf_dir, name):
    """Plan-strategy invariance: with auto-broadcast disabled every join
    degrades to shuffle/sort-merge — results must be identical.  This is
    what a 100 TB run looks like (dimensions outgrow the threshold), so
    correctness must not be an artifact of the broadcast path."""
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        default = _rows(QUERIES[name](spark, sf_dir))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        no_broadcast = _rows(QUERIES[name](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
    assert default == no_broadcast, f"{name}: result depends on join strategy"
