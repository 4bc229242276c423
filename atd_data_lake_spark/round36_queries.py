"""Round-36 query addition — entity resolution.

- ``er_canonical_entities`` — entity resolution as an operator
  composition: PassJoin edit-distance pairs over titles (+ the planted
  one-edit twin cohort) → distributed connected components → one
  canonical entity id (min member) + member count per entity.  The
  blocking/verify/cluster pipeline every dedup-to-golden-record system
  runs, end to end under one oracle; its titles and pair SQL are the
  ``dedup_edit_distance`` ones (``dedup_queries``).

It carries a full DuckDB oracle.  The round's MinHash banding eval
(``dedup_minhash_eval``) lives in ``dedup_queries`` and its hard-negative
mining (``sim_hard_negatives``) in ``sim_queries``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.dedup_queries import (
    DEDUP_EDIT_DISTANCE_SQL,
    components_sql,
    edit_distance_corpus,
)
from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# er_canonical_entities
# ---------------------------------------------------------------------------

def er_canonical_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking → verify → cluster → canonicalize: PassJoin ed<=1 pairs
    over titles (documents + the one-edit twin cohort), connected
    components, one golden-record id per entity (the min member id) with
    the member count.  Singleton titles (no pair) are their own entity
    and are excluded, as in every ER report.

    100 TB shape: pairs from the segment equi-join (never all-pairs),
    components via hook+shortcut pointer jumping (O(log n) rounds), the
    final rollup keyed on the component id.
    """
    from atd_data_lake_spark.operators.components import connected_components
    from atd_data_lake_spark.operators.fuzzy import passjoin_pairs

    # single-sourced with dedup_edit_distance: both oracles embed the
    # SAME pair SQL, so both queries must build the SAME corpus
    corpus = edit_distance_corpus(_t(spark, sf_dir, "documents"))
    pairs = passjoin_pairs(corpus, id_col="id", str_col="title", max_dist=1)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return (
        comp.groupBy(F.col("component").alias("entity_id"))
        .agg(F.count("*").alias("n_members"))
        .select("entity_id", F.col("n_members").cast("long").alias("n_members"))
        .orderBy("entity_id")
    )


ER_ENTITIES_SQL = components_sql(DEDUP_EDIT_DISTANCE_SQL, node="node") + """
SELECT component AS entity_id, CAST(count(*) AS BIGINT) AS n_members
FROM comp
GROUP BY component
ORDER BY entity_id
"""


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

ROUND36_QUERIES = {
    "er_canonical_entities": er_canonical_entities,
}

ROUND36_ORACLES = {
    "er_canonical_entities": ER_ENTITIES_SQL,
}
