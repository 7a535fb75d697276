"""Structured Streaming tests (SURVEY §2.9/§7.3-6): snapshot-directory file
source → watermarked dedup / windowed rollup / stateful line-move
detection, drained with an availableNow trigger into memory sinks."""

from __future__ import annotations

import os
import uuid

import pandas as pd
from pyspark.sql import functions as F
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sports_data_integration_and_forecasting_pipeline_spark.streaming import (
    dedup_line_changes,
    detect_line_moves,
    game_session_stream,
    market_rollup_stream,
    read_snapshot_stream,
    run_available_now,
    with_event_time,
)

COLS = [
    "timestamp",
    "game_id",
    "commence_time",
    "home_team",
    "away_team",
    "bookmaker",
    "last_update",
    "player_name",
    "market",
    "line",
    "price",
]


def _row(ts, game, book, lu, player, price):
    return {
        "timestamp": ts,
        "game_id": game,
        "commence_time": "2026-08-13T19:00:00Z",
        "home_team": "H",
        "away_team": "A",
        "bookmaker": book,
        "last_update": lu,
        "player_name": player,
        "market": "player_points",
        "line": 25.5,
        "price": price,
    }


BATCH1 = [
    _row("2026-08-13T10:00:00", "g1", "bk1", "u1", "p1", 2.0),
    _row("2026-08-13T10:00:00", "g1", "bk1", "u1", "p1", 2.0),  # replay dup
    _row("2026-08-13T10:00:30", "g1", "bk2", "u1", "p1", 1.9),
]
BATCH2 = [
    _row("2026-08-13T10:02:00", "g1", "bk1", "u2", "p1", 2.2),  # +10% move
    _row("2026-08-13T10:02:00", "g1", "bk2", "u2", "p1", 1.92),  # +1% no move
]


@pytest.fixture()
def snapshot_dir(tmp_path):
    d = tmp_path / "snapshots"
    d.mkdir()
    for i, batch in enumerate([BATCH1, BATCH2]):
        pdf = pd.DataFrame(batch, columns=COLS)
        path = str(d / f"batch_{i}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        os.utime(path, (1700000000 + i * 60, 1700000000 + i * 60))
    return str(d)


def _sink(prefix):
    return f"{prefix}_{uuid.uuid4().hex[:8]}"


def test_dedup_line_changes(spark, snapshot_dir):
    stream = with_event_time(read_snapshot_stream(spark, snapshot_dir))
    name = _sink("dedup")
    run_available_now(dedup_line_changes(stream), name)
    got = spark.table(name)
    # 5 input rows, 1 exact replay -> 4 distinct line changes
    assert got.count() == 4
    assert got.filter("bookmaker = 'bk1' AND last_update = 'u1'").count() == 1


def test_market_rollup_stream(spark, snapshot_dir):
    stream = with_event_time(read_snapshot_stream(spark, snapshot_dir))
    name = _sink("rollup")
    run_available_now(market_rollup_stream(stream), name, output_mode="complete")
    rows = spark.table(name).collect()
    # all events fall in the 10:00-10:05 tumbling window, one market
    assert len(rows) == 1
    r = rows[0]
    assert r["market"] == "player_points" and r["n_changes"] == 5
    assert r["min_price"] == 1.9 and r["max_price"] == 2.2


def test_detect_line_moves_stateful(spark, snapshot_dir):
    stream = with_event_time(
        read_snapshot_stream(spark, snapshot_dir, max_files_per_trigger=1)
    )
    name = _sink("moves")
    run_available_now(detect_line_moves(stream, min_move_pct=5.0), name)
    rows = spark.table(name).collect()
    # only bk1 moved >= 5% (2.0 -> 2.2); the replay dup (0%) and bk2 (+1%)
    # stay silent
    assert len(rows) == 1
    r = rows[0]
    assert r["bookmaker"] == "bk1"
    assert r["old_price"] == 2.0 and r["new_price"] == 2.2
    assert abs(r["move_pct"] - 10.0) < 1e-9


def _deduped_then_reread(spark, snapshot_dir, tmp_path):
    """First query of the two-step form: the deduped stream lands in
    parquet, then is read back as a new stream (copied schema, no
    watermark node)."""
    deduped = dedup_line_changes(
        with_event_time(read_snapshot_stream(spark, snapshot_dir))
    )
    out, ckpt = str(tmp_path / "deduped"), str(tmp_path / "ckpt")
    deduped.writeStream.format("parquet").option("path", out).option(
        "checkpointLocation", ckpt
    ).trigger(availableNow=True).start().awaitTermination()
    return spark.readStream.schema(deduped.schema).parquet(out)


def _rows(spark, name):
    return sorted(tuple(r) for r in spark.table(name).collect())


def test_line_moves_chained_after_dedup(spark, snapshot_dir, tmp_path):
    # dedup_line_changes sets the event_ts watermark; detect_line_moves
    # keeps it instead of redefining it, so the two chain in one query
    stream = with_event_time(
        read_snapshot_stream(spark, snapshot_dir, max_files_per_trigger=1)
    )
    chained = _sink("chained")
    run_available_now(detect_line_moves(dedup_line_changes(stream)), chained)

    # the copied schema carries the watermark metadata but the re-read
    # stream has no watermark: detect_line_moves must set its own
    moves_df = detect_line_moves(_deduped_then_reread(spark, snapshot_dir, tmp_path))
    assert "EventTimeWatermark" in moves_df._jdf.queryExecution().logical().toString()
    two_step = _sink("two_step")
    run_available_now(moves_df, two_step)

    assert _rows(spark, chained) == _rows(spark, two_step)
    assert len(_rows(spark, chained)) == 1


@pytest.mark.parametrize(
    "op", [market_rollup_stream, game_session_stream], ids=lambda f: f.__name__
)
def test_aggregate_chained_after_dedup(spark, snapshot_dir, tmp_path, op):
    # the rollup and the session window keep dedup's event_ts watermark,
    # so each chains after it in one query
    stream = with_event_time(read_snapshot_stream(spark, snapshot_dir))
    chained = _sink("chained_agg")
    run_available_now(op(dedup_line_changes(stream)), chained, output_mode="complete")
    two_step = _sink("two_step_agg")
    run_available_now(
        op(_deduped_then_reread(spark, snapshot_dir, tmp_path)),
        two_step,
        output_mode="complete",
    )
    got = _rows(spark, chained)
    assert got == _rows(spark, two_step)
    # one window / session over the 4 distinct line changes
    assert len(got) == 1 and spark.table(chained).first()["n_changes"] == 4


def test_game_meta_join_chained_after_dedup(spark, snapshot_dir, tmp_path):
    from sports_data_integration_and_forecasting_pipeline_spark.streaming import join_with_game_meta

    d = tmp_path / "meta"
    d.mkdir()
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame(
                [("2026-08-13T09:50:00", "g1", "scheduled")],
                columns=["meta_time", "meta_game_id", "status"],
            ),
            preserve_index=False,
        ),
        str(d / "meta_0.parquet"),
    )

    def meta():
        return (
            spark.readStream.schema("meta_time string, meta_game_id string, status string")
            .parquet(str(d))
            .withColumn("meta_ts", F.to_timestamp(F.col("meta_time")))
        )

    odds = with_event_time(read_snapshot_stream(spark, snapshot_dir))
    chained = _sink("chained_join")
    run_available_now(join_with_game_meta(dedup_line_changes(odds), meta()), chained)
    two_step = _sink("two_step_join")
    run_available_now(
        join_with_game_meta(_deduped_then_reread(spark, snapshot_dir, tmp_path), meta()),
        two_step,
    )
    got = _rows(spark, chained)
    assert got == _rows(spark, two_step)
    assert len(got) == 4


def test_canonical_stream_sink(spark, snapshot_dir, tmp_path):
    from sports_data_integration_and_forecasting_pipeline_spark.streaming import write_canonical_stream

    stream = with_event_time(read_snapshot_stream(spark, snapshot_dir))
    out = str(tmp_path / "canonical")
    ckpt = str(tmp_path / "ckpt")
    q = write_canonical_stream(stream, out, ckpt).trigger(availableNow=True).start()
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 5
    assert "snapshot_date" in got.columns  # date-partitioned for pruning


def test_game_session_stream(spark, snapshot_dir):
    from sports_data_integration_and_forecasting_pipeline_spark.streaming import game_session_stream

    stream = with_event_time(read_snapshot_stream(spark, snapshot_dir))
    name = _sink("session")
    run_available_now(game_session_stream(stream, gap="5 minutes"), name,
                      output_mode="complete")
    rows = spark.table(name).collect()
    # all 5 events land within one 5-min-gap session for g1
    assert len(rows) == 1
    r = rows[0]
    assert r["game_id"] == "g1" and r["n_changes"] == 5
    assert r["min_price"] == 1.9 and r["max_price"] == 2.2
    assert r["session_end"] > r["session_start"]


def test_stream_stream_join_with_game_meta(spark, snapshot_dir, tmp_path):
    from sports_data_integration_and_forecasting_pipeline_spark.streaming import join_with_game_meta

    # meta stream: one venue event before the odds, one after everything
    meta_rows = [
        ("2026-08-13T09:50:00", "g1", "Crypto Arena", "scheduled"),
        ("2026-08-13T11:00:00", "g1", "Crypto Arena", "started"),
    ]
    d = tmp_path / "meta"
    d.mkdir()
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame(meta_rows, columns=["meta_time", "meta_game_id", "venue", "status"]),
            preserve_index=False,
        ),
        str(d / "meta_0.parquet"),
    )
    odds = with_event_time(read_snapshot_stream(spark, snapshot_dir))
    meta_schema = "meta_time string, meta_game_id string, venue string, status string"
    meta = (
        spark.readStream.schema(meta_schema)
        .parquet(str(d))
        .withColumn("meta_ts", F.to_timestamp(F.col("meta_time")))
    )
    name = _sink("ssjoin")
    run_available_now(join_with_game_meta(odds, meta), name)
    rows = spark.table(name).collect()
    # every odds row (5) joins only the 'scheduled' meta event (the
    # 'started' one is in the future relative to all odds rows)
    assert len(rows) == 5
    assert all(r["status"] == "scheduled" for r in rows)
