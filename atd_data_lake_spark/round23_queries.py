"""Round-23 query addition: duplicate-aware loss weights.

``cur_dedup_weights`` — soft-dedup: instead of dropping near-dups,
weight every document by 1/|near-dup cluster| so each CONTENT (not each
copy) contributes one unit to the training loss.  The soft alternative
to ``cur_keep_best_per_cluster``, composing the same verified pieces:
n-gram-Jaccard pairs → connected components → per-group size → per-row
weight.  Oracle = the same recursive-CTE transitive closure the
leakage-safe split uses, plus a group count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.dedup_queries import components_sql, jaccard_pairs_sql
from atd_data_lake_spark.io.reader import read_table_utc as _t


def cur_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, group_key, cluster_size, weight = round(1/size, 6)).

    Scale shape: pair list ∝ near-dups, components O(log n) rounds over
    it, sizes are a group-key agg, and the weight is a per-row
    expression after one broadcast-sized join — the corpus itself never
    shuffles."""
    from atd_data_lake_spark.operators.components import dedup_clusters
    from atd_data_lake_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.5)
    comp = dedup_clusters(pairs).select("doc_id", "component")
    grp = d.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("group_key"),
    )
    sizes = grp.groupBy("group_key").agg(F.count("*").alias("cluster_size"))
    return (
        grp.join(F.broadcast(sizes), "group_key")
        .select(
            "doc_id",
            "group_key",
            "cluster_size",
            F.round(F.lit(1.0) / F.col("cluster_size"), 6).alias("weight"),
        )
        .orderBy("doc_id")
    )


# Oracle: transitive-closure components over the identical pair SQL (at
# the Spark side's threshold 0.5), then group sizes and 1/size weights.
CUR_DEDUP_WEIGHTS_SQL = components_sql(jaccard_pairs_sql(0.5)) + """,
grp AS (
    SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_key
    FROM documents d LEFT JOIN comp c USING (doc_id)
),
sizes AS (
    SELECT group_key, count(*) AS cluster_size FROM grp GROUP BY 1
)
SELECT g.doc_id, g.group_key, s.cluster_size,
       round(1.0 / s.cluster_size, 6) AS weight
FROM grp g JOIN sizes s USING (group_key)
ORDER BY g.doc_id
"""


ROUND23_QUERIES = {"cur_dedup_weights": cur_dedup_weights}
ROUND23_ORACLES = {"cur_dedup_weights": CUR_DEDUP_WEIGHTS_SQL}
