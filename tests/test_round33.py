"""Round-33 targeted tests: PassJoin edit-distance join properties,
ADC search sanity, temperature-sampling rate law, bigram LM and NB
classifier invariants (the dedup_edit_distance tests live in
test_dedup.py).  Oracle value-parity for the registered queries is
covered by the driver sweep / test_oracle_parity."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from atd_data_lake_spark.operators.fuzzy import passjoin_pairs
from atd_data_lake_spark.round33_queries import (
    cur_temperature_sample,
    sim_ann_pq_adc,
    text_bigram_logprob,
    text_nb_langid_eval,
)


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


# ---------------------------------------------------------------------------
# PassJoin
# ---------------------------------------------------------------------------


def test_passjoin_complete_vs_bruteforce_d2(spark):
    """d=2 (three segments) on low-entropy random strings: the segment
    pigeonhole must find EVERY pair brute force finds — including
    ed=1 and ed=2 pairs, substitutions, inserts, and deletes."""
    rng = random.Random(33)
    alphabet = "abc"
    base = ["".join(rng.choice(alphabet) for _ in range(12)) for _ in range(40)]
    mutated = []
    for i, s in enumerate(base):
        t = list(s)
        if i % 3 == 0:  # substitution
            t[rng.randrange(len(t))] = rng.choice(alphabet)
        elif i % 3 == 1:  # deletion
            del t[rng.randrange(len(t))]
        else:  # insertion
            t.insert(rng.randrange(len(t) + 1), rng.choice(alphabet))
        mutated.append("".join(t))
    strings = base + mutated
    rows = [(i, s) for i, s in enumerate(strings)]
    df = spark.createDataFrame(rows, "id long, s string")

    got = sorted(
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in passjoin_pairs(df, "id", "s", max_dist=2).collect()
    )
    want = sorted(
        (i, j, _levenshtein(strings[i], strings[j]))
        for i in range(len(strings))
        for j in range(i + 1, len(strings))
        if _levenshtein(strings[i], strings[j]) <= 2
    )
    assert len(want) > 10  # the fixture really exercises the join
    assert got == want


def test_passjoin_short_strings_complete(spark):
    """r7 review fix: strings shorter than k = d+1 cannot be INDEXED
    (no k-way pigeonhole) but must still pair — short strings probe the
    index, and the short-short class joins directly (every such pair is
    within d by definition)."""
    df = spark.createDataFrame(
        [(1, "ab"), (2, "b"), (3, "ba"), (4, ""), (5, "x")],
        "id long, s string",
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in passjoin_pairs(df, "id", "s", max_dist=1).collect()
    )
    strings = {1: "ab", 2: "b", 3: "ba", 4: "", 5: "x"}
    want = sorted(
        (i, j, _levenshtein(strings[i], strings[j]))
        for i in strings
        for j in strings
        if i < j and _levenshtein(strings[i], strings[j]) <= 1
    )
    assert got == want and len(got) == 5


def test_passjoin_partition_invariance(spark):
    rows = [(i, f"prefix{i % 7}suffix{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "id long, s string")
    a = sorted(
        map(tuple, passjoin_pairs(df.repartition(1), "id", "s", 1).collect())
    )
    b = sorted(
        map(tuple, passjoin_pairs(df.repartition(13), "id", "s", 1).collect())
    )
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# ADC
# ---------------------------------------------------------------------------


def test_adc_ranked_and_deterministic(spark, sf_dir):
    out = sim_ann_pq_adc(spark, sf_dir)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rs in per_q.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        dists = [r["adc_dist"] for r in rs]
        assert dists == sorted(dists)
        assert all(r["neighbor_id"] != q for r in rs)
    again = sorted(map(tuple, sim_ann_pq_adc(spark, sf_dir).collect()))
    assert sorted(map(tuple, rows)) == again


def test_adc_codebook_vectors_self_distance_zero(spark, sf_dir):
    """A codebook vector IS one of the 16 model rows, so its own coded
    reconstruction per subspace has distance 0 — its ADC distance as a
    corpus member against ITSELF-as-query would be 0.  Verify via the
    registered query: query 0 (vec_id 0 < 16 is a codebook row) must
    rank some neighbor with adc_dist strictly > 0 and never negative."""
    rows = sim_ann_pq_adc(spark, sf_dir).where(F.col("query_id") == 0).collect()
    assert len(rows) > 0
    assert all(r["adc_dist"] >= 0.0 for r in rows)


# ---------------------------------------------------------------------------
# temperature sampling
# ---------------------------------------------------------------------------


def test_temperature_rates_follow_sqrt_law(spark, sf_dir):
    rows = cur_temperature_sample(spark, sf_dir).collect()
    assert len(rows) > 1
    n_min = min(r["n_docs"] for r in rows)
    for r in rows:
        expect = round((n_min / r["n_docs"]) ** 0.5, 9)
        assert abs(r["rate"] - expect) < 1e-9
        assert 0 <= r["n_kept"] <= r["n_docs"]
    # the rarest language is kept in full
    rare = [r for r in rows if r["n_docs"] == n_min][0]
    assert rare["rate"] == 1.0 and rare["n_kept"] == rare["n_docs"]


# ---------------------------------------------------------------------------
# bigram LM + NB classifier
# ---------------------------------------------------------------------------


def test_bigram_logprob_shape(spark, sf_dir):
    from atd_data_lake_spark.io.reader import read_table

    out = text_bigram_logprob(spark, sf_dir)
    rows = out.collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in read_table(spark, sf_dir, "documents").collect()
    }
    assert len(rows) == len([t for t in docs.values() if len(t.split(" ")) >= 2])
    for r in rows[:20]:
        assert r["avg_logprob"] < 0
        assert r["n_bigrams"] == len(docs[r["doc_id"]].split(" ")) - 1


def test_nb_langid_confusion_adds_up(spark, sf_dir):
    rows = text_nb_langid_eval(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == r["n_docs"]
        assert 0.0 <= r["accuracy"] <= 1.0
