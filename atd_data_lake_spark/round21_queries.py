"""Round-21 query addition: video scene-cut detection plan.

``mm_scene_cuts`` — the frame-level pipeline every video-curation stack
runs: sample frames on a fixed cadence (the ``frame_sample_plan`` row
explosion), extract a per-frame feature at the decode boundary, and
detect cuts as lag-discontinuities over the per-video frame sequence.
The Spark shapes — bounded ``sequence`` explosion, per-video window
lag, change-point filter, per-video rollup — are the real operator;
the decode is the engine's documented codec-boundary stub
(operators/multimodal.real_decode raises; the deterministic fake here
derives frame luma from md5(media_id, scene block)), which is exactly
what makes a FULL DuckDB oracle possible for a multimodal pipeline:
both engines compute the identical fake luma, so the driver
value-hashes the entire explode→window→detect→rollup chain.

Videos derive from ``documents`` (duration = n_chars × 40 ms, 1 fps
sampling, 5 s synthetic scene blocks) — one row per document becomes
O(duration) frame rows, the partitioning-relevant explosion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t

_FRAME_MS = 1000  # sampling cadence
_SCENE_MS = 5000  # synthetic scene block length (stub decode)
_CUT_THRESHOLD = 20000  # |Δluma| above this = cut


def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-video scene statistics: frames sampled, cuts detected,
    first cut timestamp, mean |Δluma| at cuts.

    Plan: 1 fps frame explosion (bounded by duration, in-row
    ``sequence``), md5-luma at the decode boundary, one per-video
    window lag for the discontinuity test, one rollup agg.  At real
    scale the luma column comes from a frame decoder in the same
    mapInPandas slot (multimodal.extract_features); everything after
    the luma is unchanged.
    """
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars") * 40).cast("long").alias("duration_ms"),
    )
    frames = media.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.greatest(F.col("duration_ms") - _FRAME_MS, F.lit(0).cast("long")),
                F.lit(_FRAME_MS).cast("long"),
            )
        ).alias("frame_ms"),
    )
    luma = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("media_id"),
                    F.floor(F.col("frame_ms") / _SCENE_MS).cast("long"),
                )
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("media_id").orderBy("frame_ms")
    feat = frames.select("media_id", "frame_ms", luma.alias("luma"))
    diffed = feat.select(
        "media_id",
        "frame_ms",
        F.abs(F.col("luma") - F.lag("luma").over(w)).alias("dl"),
    )
    cuts = F.when(F.col("dl") > _CUT_THRESHOLD, 1).otherwise(0)
    return (
        diffed.groupBy("media_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.sum(cuts).alias("n_cuts"),
            F.min(
                F.when(F.col("dl") > _CUT_THRESHOLD, F.col("frame_ms"))
            ).alias("first_cut_ms"),
            F.round(
                F.avg(F.when(F.col("dl") > _CUT_THRESHOLD, F.col("dl"))), 6
            ).alias("mean_cut_delta"),
        )
        .orderBy("media_id")
    )


MM_SCENE_CUTS_SQL = f"""
WITH media AS (
    SELECT doc_id AS media_id, CAST(n_chars * 40 AS BIGINT) AS duration_ms
    FROM documents
),
frames AS (
    SELECT media_id, CAST(t.f AS BIGINT) AS frame_ms
    FROM media,
         UNNEST(generate_series(0,
                 greatest(duration_ms - {_FRAME_MS}, 0),
                 {_FRAME_MS})) t(f)
),
feat AS (
    SELECT media_id, frame_ms,
           CAST(('0x' || substr(md5(media_id || ':' ||
                 CAST(frame_ms // {_SCENE_MS} AS BIGINT)), 1, 4))::UBIGINT
                AS BIGINT) AS luma
    FROM frames
),
diffed AS (
    SELECT media_id, frame_ms,
           abs(luma - lag(luma) OVER (PARTITION BY media_id
                                      ORDER BY frame_ms)) AS dl
    FROM feat
)
SELECT media_id,
       count(*) AS n_frames,
       CAST(sum(CASE WHEN dl > {_CUT_THRESHOLD} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_cuts,
       min(CASE WHEN dl > {_CUT_THRESHOLD} THEN frame_ms END)
         AS first_cut_ms,
       round(avg(CASE WHEN dl > {_CUT_THRESHOLD} THEN dl END), 6)
         AS mean_cut_delta
FROM diffed
GROUP BY media_id
ORDER BY media_id
"""


ROUND21_QUERIES = {"mm_scene_cuts": mm_scene_cuts}
ROUND21_ORACLES = {"mm_scene_cuts": MM_SCENE_CUTS_SQL}
