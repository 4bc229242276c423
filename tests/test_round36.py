"""Round-36 targeted tests: ER composition (the MinHash-eval test lives
in test_dedup.py, the hard-negative gate test in test_sim.py).  Oracle
value parity for the registered queries is covered by the driver
sweep."""

from __future__ import annotations

from atd_data_lake_spark.round36_queries import er_canonical_entities


def test_er_entities_cover_planted_twins(spark, sf_dir):
    rows = er_canonical_entities(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["n_members"] >= 2 for r in rows)
    # the twin of some doc_id % 100 == 0 source must have clustered
    # with it: an entity whose canonical id is a real doc must exist
    # for at least one planted twin group
    ids = {r["entity_id"] for r in rows}
    assert any(e < 20_000_000 for e in ids)
