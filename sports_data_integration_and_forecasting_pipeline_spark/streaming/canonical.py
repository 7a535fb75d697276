"""Canonical odds table as a Structured Stream.

Batch/stream unification is the point: every transformation here is the
same DataFrame expression the batch battery uses, applied to a streaming
source. Scale shape per operator:

- **Source**: file stream over the snapshot directory (the S5 sink's
  output, reference ``src/ingestion.py:121-130``); explicit schema so no
  inference pass, ``maxFilesPerTrigger`` bounds micro-batch size.
- **Dedup**: ``dropDuplicatesWithinWatermark`` keyed by the line-change
  identity (game, bookmaker, market, player, last_update) — state is
  bounded by the watermark horizon, so it holds at unbounded history.
- **Rollups**: watermark + tumbling window ⇒ late rows merge into their
  window until the watermark passes; state eviction is automatic.
- **Line moves**: genuinely stateful per-key logic (compare each price to
  the last seen price) that windows can't express ⇒
  ``applyInPandasWithState`` with one tiny state row per key.

The reference never does event-time arithmetic (SURVEY §1.2); timestamps
are ISO-8601 strings there, parsed to real timestamps here.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from sports_data_integration_and_forecasting_pipeline_spark.schemas import PROPS_SCHEMA

LINE_KEY = ["game_id", "bookmaker", "market", "player_name"]
DEDUP_KEY = LINE_KEY + ["last_update"]


def read_snapshot_stream(
    spark: SparkSession,
    path: str,
    schema: StructType = PROPS_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a snapshot directory (parquet)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def with_event_time(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """Parse the ISO-8601 string snapshot timestamp into a real event-time
    column (the reference stores strings and never parses,
    ``src/ingestion.py:76``)."""
    return df.withColumn("event_ts", F.to_timestamp(F.col(ts_col)))


def _event_time_watermarked(df: DataFrame, delay: str) -> DataFrame:
    """``df`` with a watermark on ``event_ts``. One already there is kept
    (``delay`` is then unused): Spark refuses to redefine a watermark,
    and keeping it lets every operator here chain after
    ``dedup_line_changes`` as one query. The column's watermark metadata
    alone can be stale (a schema copied from a watermarked stream
    carries it), so the plan must hold a watermark node too."""
    if (
        "spark.watermarkDelayMs" in df.schema["event_ts"].metadata
        and "EventTimeWatermark" in df._jdf.queryExecution().logical().toString()
    ):
        return df
    return df.withWatermark("event_ts", delay)


def dedup_line_changes(
    df: DataFrame,
    watermark: str = "30 minutes",
    keys: Iterable[str] = tuple(DEDUP_KEY),
) -> DataFrame:
    """Drop replayed line-change rows within the watermark horizon. State
    per distinct key only — bounded by watermark, safe on unbounded
    streams."""
    return _event_time_watermarked(df, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def market_rollup_stream(
    df: DataFrame, window: str = "5 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling-window market rollup: per (window, market) the line-change
    count and price stats. Late rows merge until the watermark passes."""
    return (
        _event_time_watermarked(df, watermark)
        .groupBy(F.window("event_ts", window).alias("w"), "market")
        .agg(
            F.count("*").alias("n_changes"),
            F.avg("price").alias("avg_price"),
            F.min("price").alias("min_price"),
            F.max("price").alias("max_price"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "market",
            "n_changes",
            "avg_price",
            "min_price",
            "max_price",
        )
    )


def join_with_game_meta(
    odds_stream: DataFrame,
    meta_stream: DataFrame,
    watermark: str = "30 minutes",
    max_meta_age: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: enrich each odds line-change with the most
    recent game-metadata event (venue/status feed), bounded by event time.

    Both sides carry watermarks and the join predicate bounds the time
    range (meta no older than ``max_meta_age`` relative to the odds row),
    so Spark can evict join state for expired rows — the required shape
    for unbounded stream-stream joins. The meta side must expose
    ``meta_game_id`` and ``meta_ts`` (+ payload columns); the odds side
    ``game_id`` and ``event_ts``.
    """
    odds = _event_time_watermarked(odds_stream, watermark)
    meta = meta_stream.withWatermark("meta_ts", watermark)
    return odds.join(
        meta,
        F.expr(
            f"""
            game_id = meta_game_id
            AND meta_ts <= event_ts
            AND meta_ts >= event_ts - INTERVAL {max_meta_age}
            """
        ),
        "inner",
    )


def game_session_stream(
    df: DataFrame, gap: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session-window activity per game: consecutive line changes within
    ``gap`` of each other collapse into one session (how long was a game's
    market actively moving, and how many updates landed). Session windows
    are the one event-time shape tumbling windows can't express; state is
    per active session and merges/evicts under the watermark."""
    return (
        _event_time_watermarked(df, watermark)
        .groupBy(F.session_window("event_ts", gap).alias("w"), "game_id")
        .agg(
            F.count("*").alias("n_changes"),
            F.min("price").alias("min_price"),
            F.max("price").alias("max_price"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "game_id",
            "n_changes",
            "min_price",
            "max_price",
        )
    )


_MOVE_SCHEMA = StructType(
    [
        StructField("game_id", StringType()),
        StructField("bookmaker", StringType()),
        StructField("market", StringType()),
        StructField("player_name", StringType()),
        StructField("event_ts", TimestampType()),
        StructField("old_price", DoubleType()),
        StructField("new_price", DoubleType()),
        StructField("move_pct", DoubleType()),
    ]
)

_MOVE_STATE_SCHEMA = StructType([StructField("last_price", DoubleType())])


def _move_fn(min_move_pct: float):
    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        last = state.get[0] if state.exists else None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("event_ts")
            for _, row in pdf.iterrows():
                price = row["price"]
                if price is None or pd.isna(price):
                    continue
                if last is not None and last != 0:
                    pct = (price - last) / abs(last) * 100.0
                    if abs(pct) >= min_move_pct:
                        out.append(
                            {
                                "game_id": key[0],
                                "bookmaker": key[1],
                                "market": key[2],
                                "player_name": key[3],
                                "event_ts": row["event_ts"],
                                "old_price": last,
                                "new_price": price,
                                "move_pct": pct,
                            }
                        )
                last = float(price)
        state.update((last,))
        yield pd.DataFrame(out, columns=[f.name for f in _MOVE_SCHEMA.fields])

    return fn


def detect_line_moves(
    df: DataFrame,
    min_move_pct: float = 5.0,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stateful line-movement detector: emit an event whenever a key's
    price moves ≥ ``min_move_pct``% from the last seen price.

    This is the one semantics windows can't express (state = last price
    per key, unbounded in time but O(1) in size), hence
    ``applyInPandasWithState``. Keys are hash-partitioned, so state is
    distributed; per-key state is a single double.
    """
    return (
        _event_time_watermarked(df, watermark)
        .groupBy(*LINE_KEY)
        .applyInPandasWithState(
            _move_fn(min_move_pct),
            outputStructType=_MOVE_SCHEMA,
            stateStructType=_MOVE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def write_canonical_stream(
    df: DataFrame, path: str, checkpoint: str, partition_by_date: bool = True
):
    """Append sink for the canonical table — the streaming equivalent of
    :func:`...sinks.update_canonical_table` (reference
    ``src/ingestion.py:132-142`` rewrote the whole CSV per batch)."""
    out = df
    if partition_by_date:
        out = out.withColumn("snapshot_date", F.to_date(F.col("event_ts")))
    writer = (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_by_date:
        writer = writer.partitionBy("snapshot_date")
    return writer


def run_available_now(df: DataFrame, sink_name: str, output_mode: str = "append"):
    """Drain everything currently available into an in-memory table and
    stop — the batch-replay trigger used by tests and backfills."""
    q = (
        df.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
