"""Round-36 targeted tests: hard-negative gate and ER composition (the
MinHash-eval test lives in test_dedup.py).  Oracle value parity for the
registered queries is covered by the driver sweep."""

from __future__ import annotations

from atd_data_lake_spark.round36_queries import (
    er_canonical_entities,
    sim_hard_negatives,
)


def test_hard_negatives_respect_label_gate(spark, sf_dir):
    from atd_data_lake_spark.io.reader import read_table

    out = sim_hard_negatives(spark, sf_dir).collect()
    labels = {
        r["vec_id"]: r["label"]
        for r in read_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    assert len(out) > 0
    for r in out:
        assert labels[r["neighbor_id"]] != labels[r["anchor_id"]]
        assert r["neighbor_id"] != r["anchor_id"]
    # ranks are 1..k and cosine non-increasing within each anchor
    per = {}
    for r in out:
        per.setdefault(r["anchor_id"], []).append(r)
    for rs in per.values():
        rs.sort(key=lambda r: r["rank"])
        sims = [r["cos_sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_er_entities_cover_planted_twins(spark, sf_dir):
    rows = er_canonical_entities(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["n_members"] >= 2 for r in rows)
    # the twin of some doc_id % 100 == 0 source must have clustered
    # with it: an entity whose canonical id is a real doc must exist
    # for at least one planted twin group
    ids = {r["entity_id"] for r in rows}
    assert any(e < 20_000_000 for e in ids)
