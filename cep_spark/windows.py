"""Tumbling / sliding / session window operators (batch + streaming).

The reference has only the pattern sliding window (SURVEY.md §2.3 E5);
the BASELINE north rule additionally requires tumbling/sliding/session
windows as first-class engine surface.  Batch forms are pure built-in
DataFrame plans with DuckDB oracles; `stream_tumbling_counts` is the
streaming form (watermarked append-mode aggregation, state bounded by
the watermark).

Scale notes: windowed aggregations are hash-aggregates keyed on
(key, window) — map-side partial aggregation applies, no joins; the
sliding form fans each row out `window/slide` times before the
aggregate (that factor is the cost knob).  Session windows in batch
run Spark's ``session_window`` aggregate over one exchange on the key,
pinned to ``batch.cpu_parallelism`` partitions: the stage is CPU-bound
over few bytes, and AQE's byte-based coalescing ran it as one task.
The oracle is the classic islands construction (lag + cumulative sum
over a per-key window) — no self-join.
"""

from __future__ import annotations

TUMBLE_S = 3600  # 1 h
SLIDE_S = 900  # 15 min
SESSION_GAP_S = 1800  # 30 min
ROUND_DP = 6


def _r6(c):
    from pyspark.sql import functions as F

    return F.floor(c * 1000000.0 + 0.5) / 1000000.0


def _read_events(spark, sf_dir):
    from .session import read_parquet

    return read_parquet(spark, f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# tumbling


def q_tumbling(spark, sf_dir):
    from pyspark.sql import functions as F

    e = _read_events(spark, sf_dir)
    w = F.window("ts", f"{TUMBLE_S} seconds")
    return (
        e.groupBy("user_id", w.alias("w"))
        .agg(F.count("*").alias("n_events"), _r6(F.sum("value")).alias("sum_value"))
        .select("user_id", F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


SQL_TUMBLING = f"""
SELECT user_id,
       to_timestamp(floor(epoch(ts) / {TUMBLE_S}) * {TUMBLE_S})::TIMESTAMP AS window_start,
       COUNT(*) AS n_events,
       floor((SUM(value)) * 1000000 + 0.5) / 1000000 AS sum_value
FROM events
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# sliding (1 h windows every 15 min -> each event in 4 windows)


def q_sliding(spark, sf_dir):
    from pyspark.sql import functions as F

    e = _read_events(spark, sf_dir)
    w = F.window("ts", f"{TUMBLE_S} seconds", f"{SLIDE_S} seconds")
    return (
        e.groupBy("user_id", w.alias("w"))
        .agg(F.count("*").alias("n_events"), _r6(F.sum("value")).alias("sum_value"))
        .select("user_id", F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


_N_SLIDES = TUMBLE_S // SLIDE_S

SQL_SLIDING = f"""
WITH fanout AS (
  SELECT user_id, value,
         to_timestamp(floor(epoch(ts) / {SLIDE_S}) * {SLIDE_S} - i * {SLIDE_S})::TIMESTAMP AS window_start
  FROM events, unnest(range(0, {_N_SLIDES})) AS t(i))
SELECT user_id, window_start,
       COUNT(*) AS n_events,
       floor((SUM(value)) * 1000000 + 0.5) / 1000000 AS sum_value
FROM fanout
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# session (30-min gap)


def q_session(spark, sf_dir):
    from pyspark.sql import functions as F

    from .batch import cpu_parallelism

    e = _read_events(spark, sf_dir)
    # the key exchange is pinned to the task slots (AQE would coalesce
    # this CPU-bound stage to one task); it satisfies the session
    # aggregate's clustering, so it is the plan's only shuffle
    e = e.repartition(cpu_parallelism(e), "user_id")
    w = F.session_window("ts", f"{SESSION_GAP_S} seconds")
    return (
        e.groupBy("user_id", w.alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            _r6(F.sum("value")).alias("sum_value"),
        )
        .select("user_id", "first_ts", "last_ts", "n_events", "sum_value")
    )


SQL_SESSION = f"""
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL {SESSION_GAP_S} SECOND
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
s AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM o)
SELECT user_id,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts,
       COUNT(*) AS n_events,
       floor((SUM(value)) * 1000000 + 0.5) / 1000000 AS sum_value
FROM s
GROUP BY user_id, session_id
"""

# ---------------------------------------------------------------------------
# streaming tumbling aggregation (watermarked, append mode)


def stream_tumbling_counts(df, watermark: str, key: str = "user_id", ts_col: str = "ts"):
    """Watermarked tumbling counts over a streaming DataFrame: append
    mode emits each (key, window) exactly once, when the watermark
    passes the window end; state is dropped at the same moment."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(df.schema[ts_col].dataType, T.TimestampNTZType):
        df = df.withColumn(ts_col, df[ts_col].cast(T.TimestampType()))
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(key, F.window(ts_col, f"{TUMBLE_S} seconds").alias("w"))
        .agg(F.count("*").alias("n_events"), _r6(F.sum("value")).alias("sum_value"))
        .select(key, F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


QUERIES = {
    "win_tumbling": q_tumbling,
    "win_sliding": q_sliding,
    "win_session": q_session,
}

ORACLES = {
    "win_tumbling": SQL_TUMBLING,
    "win_sliding": SQL_SLIDING,
    "win_session": SQL_SESSION,
}


def stream_session_counts(df, watermark: str, key: str = "user_id", ts_col: str = "ts"):
    """Watermarked session-window aggregation (30-min gap): a session
    closes (and its state drops) once the watermark passes its end."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(df.schema[ts_col].dataType, T.TimestampNTZType):
        df = df.withColumn(ts_col, df[ts_col].cast(T.TimestampType()))
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(key, F.session_window(ts_col, f"{SESSION_GAP_S} seconds").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
            _r6(F.sum("value")).alias("sum_value"),
        )
        .select(key, "first_ts", "last_ts", "n_events", "sum_value")
    )
