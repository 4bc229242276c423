"""Window-function operators (SURVEY.md §2.4 A5/A6/A7, §2.5).

The reference hand-rolls each of these with pandas/dicts; here they are
single window expressions.  All partition keys are the natural grouping
keys, so at scale each is exactly one shuffle (or zero if the input is
already hash-partitioned on the key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def first_seen_rank(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    day_col: str | None = None,
    out_col: str = "seen_rank",
) -> DataFrame:
    """A5 — daily-reset first-seen counter.

    The reference assigns each Bluetooth dev_addr an incrementing int per
    day in file-scan appearance order (bt_extract_soc.py:73-91, published
    instead of the MAC, docs/datasrc_bt.md:173).  Scan order is
    nondeterministic under parallelism, so this engine defines the
    semantics as dense_rank of (first timestamp, entity) within the day —
    deterministic and parallel-safe (SURVEY.md §7.4 documents the
    deviation).
    """
    day = F.to_date(F.col(day_col) if day_col else F.col(ts_col))
    with_day = df.withColumn("_day", day)
    first_ts = F.min(ts_col).over(
        Window.partitionBy("_day", entity_col)
    )
    ranked = with_day.withColumn("_first_ts", first_ts).withColumn(
        out_col,
        F.dense_rank().over(
            Window.partitionBy("_day").orderBy("_first_ts", entity_col)
        ),
    )
    return ranked.drop("_day", "_first_ts")


def trailing_avg(
    df: DataFrame,
    entity_col: str,
    day_col: str,
    value_col: str,
    n_days: int = 7,
    out_col: str = "expected",
) -> DataFrame:
    """A6 — trailing ``n_days`` mean per entity (util/perfmet_knack.py:114-158,
    SAMPLE_DAYS=7, docs/appendix_perfmet.md:79).

    Implemented as a range window over epoch-days so gaps count as days
    (a true 7-calendar-day window, not 7-row).
    """
    epoch_day = F.datediff(F.col(day_col), F.lit("1970-01-01"))
    w = (
        Window.partitionBy(entity_col)
        .orderBy(epoch_day)
        .rangeBetween(-(n_days - 1), 0)
    )
    return df.withColumn(out_col, F.avg(value_col).over(w))


def latest_per_group(
    df: DataFrame, group_cols: list[str], order_col: str, tiebreak: list[str] | None = None
) -> DataFrame:
    """A7 — latest row per group (perfmet_knack.py:141-142 groupby tail(1) /
    idxmax).  Deterministic: ties broken by ``tiebreak`` columns desc.

    max_by over a (order, *tiebreak) struct rather than a row_number
    window: the aggregate gets map-side partial aggregation (the shuffle
    carries one candidate per group per task, not every row) and avoids
    the window sort entirely."""
    others = [c for c in df.columns if c not in group_cols]
    key = F.struct(F.col(order_col), *[F.col(c) for c in (tiebreak or [])])
    payload = F.struct(*[F.col(c).alias(c) for c in others])
    out = df.groupBy(*group_cols).agg(F.max_by(payload, key).alias("_best"))
    for c in others:
        out = out.withColumn(c, F.col(f"_best.{c}"))
    return out.drop("_best").select(*df.columns)


def daily_cumulative(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    out_col: str = "daily_cumulative",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """§2.5 — running per-day total, the precomputed ``dailyCumulative``
    column of the WT source (docs/datasrc_wt.md:15-21, wt_mssql_db.py:14),
    reproduced as sum() over rows-unbounded-preceding."""
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak or [])]
    w = (
        Window.partitionBy(entity_col, F.to_date(ts_col))
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(out_col, F.sum(value_col).over(w))


def pack_intervals(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    state_col: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """SCD2 interval pack (gaps-and-islands): collapse each run of
    consecutive equal ``state_col`` values per entity into one validity
    row (entity, state, valid_from, valid_to, n_rows).

    The lakehouse slowly-changing-dimension builder: the reference keeps
    daily unit-data snapshots and resolves them by as-of lookup
    (support/unitdata.py:40-63); packing those snapshots into intervals
    is the compact SCD2 form of the same dimension.  Implemented as the
    two-row_number difference (rn_overall − rn_per_state = stable run
    id), one shuffle on the entity key shared by both windows — Catalyst
    plans a single Exchange + sort, the second window reuses the first's
    distribution.

    Ties on ``ts_col`` are broken by ``tiebreak`` so run ids (and
    therefore interval boundaries) are deterministic under parallelism.
    """
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak or [])]
    w_all = Window.partitionBy(entity_col).orderBy(*order)
    w_state = Window.partitionBy(entity_col, state_col).orderBy(*order)
    runs = df.withColumn(
        "_run", F.row_number().over(w_all) - F.row_number().over(w_state)
    )
    return runs.groupBy(
        F.col(entity_col), F.col(state_col), F.col("_run")
    ).agg(
        F.min(ts_col).alias("valid_from"),
        F.max(ts_col).alias("valid_to"),
        F.count("*").alias("n_rows"),
    ).drop("_run")
