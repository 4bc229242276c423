"""Custom stateful streaming operator: per-sensor sessionization via
``applyInPandasWithState`` (SURVEY §2.9; the task's "custom stateful
operators" construct).

Use case from the reference domain: a Bluetooth reader emits a reading
whenever a device is in range; a "presence session" is a maximal run of
readings per (reader, device) with gaps < ``gap``.  The reference cannot
express this (batch, file-at-a-time); the engine runs it continuously
with bounded state: one open-session struct per active key, closed by
watermark-driven timeout.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("sensor", T.StringType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_readings", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def sessionize(
    df: DataFrame,
    sensor_col: str = "sensor",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
) -> DataFrame:
    """Emit closed sessions per sensor: maximal runs of readings with
    inter-reading gaps < ``gap_seconds``.

    Streaming: state is one (start, end, count) per open key; the
    processing-time timeout closes idle sessions.  The same function
    works in batch tests through ``applyInPandasWithState``'s batch
    execution (state spans the whole group)."""
    gap_us = gap_seconds * 1_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (sensor,) = key
        if state.hasTimedOut:
            if state.exists:
                start_us, end_us, n = state.get
                state.remove()
                yield pd.DataFrame(
                    {
                        "sensor": [sensor],
                        "session_start": [pd.Timestamp(start_us, unit="us")],
                        "session_end": [pd.Timestamp(end_us, unit="us")],
                        "n_readings": [n],
                    }
                )
            return

        ts_list: list[int] = []
        for pdf in pdfs:
            ts_list.extend(
                int(t.value // 1000) for t in pd.to_datetime(pdf[ts_col])
            )
        ts_list.sort()
        if not ts_list:
            return

        if state.exists:
            start_us, end_us, n = state.get
        else:
            start_us, end_us, n = ts_list[0], ts_list[0], 0
            ts_list = ts_list  # first reading counts below

        closed: list[tuple[int, int, int]] = []
        for t in ts_list:
            if t - end_us >= gap_us and n > 0:
                closed.append((start_us, end_us, n))
                start_us, n = t, 0
            end_us = max(end_us, t)
            n += 1
        state.update((start_us, end_us, n))
        state.setTimeoutDuration(gap_seconds * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "sensor": [sensor] * len(closed),
                    "session_start": [
                        pd.Timestamp(s, unit="us") for s, _, _ in closed
                    ],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                    "n_readings": [c for _, _, c in closed],
                }
            )

    src = df
    if df.isStreaming:
        src = df.withWatermark(ts_col, watermark)
    return src.groupBy(sensor_col).applyInPandasWithState(
        fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def sessionize_batch(
    df: DataFrame,
    sensor_col: str = "sensor",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Batch twin of ``sessionize``: the gaps-and-islands window
    formulation (new-session flag via lag, running sum as session id,
    group to (start, end, count)).  Pure JVM window + agg — the
    SQL-expressible shape that gives the stateful operator an external
    oracle: on a static input, ``sessionize``'s closed+open sessions
    equal exactly this result (asserted in tests).

    Session boundaries depend only on the multiset of timestamps per
    sensor (ties land in the same session either way), so the output is
    deterministic regardless of ``tiebreak_col``; pass one to pin the
    window order anyway when timestamps repeat."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from atd_data_lake_spark.functions.datetime_fns import as_instant

    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(sensor_col).orderBy(*order)
    # fractional-second exactness: cast-to-double is epoch µs-precision,
    # where unix_timestamp would truncate to whole seconds.  as_instant
    # handles TIMESTAMP_NTZ parquet columns, which forbid the double cast.
    instant = as_instant(df, ts_col)
    gap = instant.cast("double") - F.lag(instant).over(w).cast("double")
    new_sess = F.when(
        gap.isNull() | (gap >= gap_seconds), F.lit(1)
    ).otherwise(F.lit(0))
    sess = df.withColumn(
        "_sid",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy(
        F.col(sensor_col).alias("sensor"), F.col("_sid").cast("long").alias("session_id")
    ).agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_readings"),
    )


def tws_available() -> bool:
    """True iff the transformWithStateInPandas python protocol can load
    (requires google.protobuf, not shipped in every environment)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        return False


def sessionize_tws(
    df: DataFrame,
    sensor_col: str = "sensor",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Spark-4 ``transformWithStateInPandas`` twin of ``sessionize``:
    the same gap-closure semantics on the successor API (typed value
    state via a StatefulProcessor handle instead of the monolithic
    applyInPandasWithState tuple-state).  Emits CLOSED sessions; the
    open tail per sensor stays in the value state across batches.

    Why both exist: applyInPandasWithState is the stable API this
    engine's tests pin semantics to (its batch twin ``sessionize_batch``
    is the SQL-expressible oracle); transformWithState is where
    Structured Streaming's stateful surface is moving (per-state-variable
    TTL, timers, state schema evolution).

    ENVIRONMENT-GATED (like the JDBC scan): the transformWithState
    state protocol needs ``google.protobuf``, absent from this sandbox —
    the equality test skips when the import fails and runs wherever
    protobuf exists.  Call ``tws_available()`` to probe.
    """
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap = float(gap_seconds)

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._open = handle.getValueState(
                "open_session", "start double, last double, n bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            ts: list[float] = []
            for pdf in rows:
                ts.extend(
                    pdf[ts_col].map(lambda v: pd.Timestamp(v).timestamp()).tolist()
                )
            ts.sort()
            cur = self._open.get() if self._open.exists() else None
            start, last, n = cur if cur else (None, None, 0)
            closed: list[tuple[float, float, int]] = []
            for t in ts:
                if start is None:
                    start, last, n = t, t, 1
                elif t - last >= gap:
                    closed.append((start, last, n))
                    start, last, n = t, t, 1
                else:
                    last, n = t, n + 1
            self._open.update((start, last, n))
            if closed:
                yield pd.DataFrame(
                    {
                        "sensor": [key[0]] * len(closed),
                        "session_start": [
                            pd.Timestamp(s, unit="s") for s, _, _ in closed
                        ],
                        "session_end": [
                            pd.Timestamp(e, unit="s") for _, e, _ in closed
                        ],
                        "n_readings": [c for _, _, c in closed],
                    }
                )

        def close(self) -> None:
            pass

    src = df
    if df.isStreaming:
        src = df.withWatermark(ts_col, watermark)
    return src.groupBy(sensor_col).transformWithStateInPandas(
        SessionProcessor(),
        outputStructType=SESSION_SCHEMA,
        outputMode="append",
        timeMode="none",
    )
