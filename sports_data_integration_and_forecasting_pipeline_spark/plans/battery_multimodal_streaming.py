"""Multimodal payload/CDC/decode entries, the OLS forecast twin, and the Structured Streaming batch-twin family.

Mechanical slice of the original plans/battery.py (r14 split —
VERDICT r13 task 3); statement order and oracle SQL are byte-identical
to the monolith. Registration side-effects land in
:data:`battery_core.QUERIES` at import time; ``plans/battery.py``
imports the sections in original order and re-exports every name.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .battery_core import (
    QUERIES,
    _cents,
    _epoch_us,
    _r,
    _register,
    _sql_r,
    _t,
)




# ===========================================================================
# Multimodal binary-column plumbing (north-star scope; SURVEY §7.3-7).
# Payloads are synthesized from documents.text (no media table in the
# testdata): payload = encode(prefix || text) where the prefix plants an
# ASCII container magic (GIF8 / RIFF) for every 3rd/3rd+1 doc. The fake
# image decode is md5 arithmetic by design, so even the Python
# mapInPandas path is oracle-checked end-to-end.
# ===========================================================================

def _mm_prefix() -> Column:
    return (
        F.when(F.col("doc_id") % 3 == 0, F.lit("GIF8"))
        .when(F.col("doc_id") % 3 == 1, F.lit("RIFF"))
        .otherwise(F.lit(""))
    )


_MM_PREFIX_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN 'GIF8' "
    "WHEN doc_id % 3 = 1 THEN 'RIFF' ELSE '' END"
)


def _media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.concat(_mm_prefix(), F.col("text")), "UTF-8").alias("payload"),
    )


@_register(
    "multimodal_payload_stats",
    f"""
    WITH m AS (SELECT doc_id AS media_id,
                      concat({_MM_PREFIX_SQL}, text) AS ptext
               FROM documents)
    SELECT media_id,
           CAST(octet_length(encode(ptext)) AS BIGINT) AS n_bytes,
           md5(ptext) AS payload_md5,
           CASE WHEN starts_with(ptext, 'GIF8') THEN 'gif'
                WHEN starts_with(ptext, 'RIFF') THEN 'riff'
                ELSE 'unknown' END AS sniffed_format
    FROM m
    """,
    "multimodal: payload byte stats + magic sniff",
    "binary payload size/md5/container sniff — pure Column, no decode",
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.multimodal import payload_stats

    return payload_stats(_media_df(spark, sf_dir)).select(
        "media_id", "n_bytes", "payload_md5", "sniffed_format"
    )



# ===========================================================================
# Content-defined chunking dedup (r9 new family) — gear-hash CDC
# (FastCDC family, Xia et al. USENIX ATC '16): chunk boundaries follow
# CONTENT (rolling-hash mask), so a one-byte insertion re-synchronizes
# within one window instead of shifting every fixed-size chunk — the
# primitive content-addressed stores and multimodal pipelines use to
# drop re-encoded payload copies. The windowed gear sum is w lag()
# terms (pure window arithmetic; the unbounded gear recurrence is
# sequential, the windowed form is not), byte values travel as hex
# pairs, and chunk identity is md5 over the hex slice — every step
# engine-identical (operators/multimodal.py:cdc_chunks).
# ===========================================================================

_CDC_H_SQL = " + ".join(
    f"lag(g, {j}) OVER w * {1 << j}" if j else "g * 1"
    for j in range(8)
)
_CDC_CTES = f"""
    m AS (SELECT doc_id AS media_id,
                 hex(encode(concat({_MM_PREFIX_SQL}, text))) AS hx
          FROM documents),
    t0 AS (SELECT media_id, hx,
                  string_split(trim(regexp_replace(hx, '(..)', '\\1 ', 'g')),
                               ' ') AS l
           FROM m),
    t AS (SELECT media_id, CAST(pos AS BIGINT) AS pos,
                 CAST(concat('0x', substring(md5(concat('gear-', l[pos::INT])),
                                             1, 13)) AS BIGINT) AS g
          FROM (SELECT media_id, l, unnest(range(1, len(l) + 1)) AS pos
                FROM t0 WHERE len(hx) > 0)),
    hh AS (SELECT media_id, pos, {_CDC_H_SQL} AS h
           FROM t WINDOW w AS (PARTITION BY media_id ORDER BY pos)),
    f AS (SELECT media_id, pos,
                 pos >= 8 AND (h % 64 = 0) AS bd
          FROM hh),
    c AS (SELECT media_id, pos,
                 coalesce(sum(CASE WHEN bd THEN 1 ELSE 0 END)
                            OVER (PARTITION BY media_id ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS cid
          FROM c0_src),
    ch AS (SELECT media_id, cid,
                  CAST(min(pos) AS BIGINT) AS start_byte,
                  CAST(count(*) AS BIGINT) AS n_bytes
           FROM c GROUP BY media_id, cid),
    chunks AS (
      SELECT ch.media_id, CAST(ch.cid + 1 AS INT) AS chunk_idx,
             ch.start_byte, ch.n_bytes,
             md5(substring(t0.hx, ((ch.start_byte - 1) * 2 + 1)::INT,
                           (ch.n_bytes * 2)::INT)) AS chunk_md5
      FROM ch JOIN t0 ON t0.media_id = ch.media_id)
""".replace("c0_src", "f")


@_register(
    "multimodal_cdc_chunks",
    f"""
    WITH {_CDC_CTES}
    SELECT media_id, chunk_idx, start_byte, n_bytes, chunk_md5 FROM chunks
    """,
    "multimodal: content-defined chunking (gear-hash CDC, FastCDC "
    "family; no reference counterpart)",
    "per-payload content-defined chunks: windowed gear sum over hex "
    "byte pairs, mask boundary, md5 chunk identity over the hex slice",
)
def multimodal_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.multimodal import cdc_chunks
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import (
        ensure_parallelism,
    )

    return cdc_chunks(ensure_parallelism(_media_df(spark, sf_dir), "media_id"))


@_register(
    "multimodal_cdc_dedup_stats",
    f"""
    WITH {_CDC_CTES},
    per AS (SELECT chunk_md5, n_bytes, CAST(count(*) AS BIGINT) AS n_copies
            FROM chunks GROUP BY chunk_md5, n_bytes)
    SELECT CAST(sum(n_copies) AS BIGINT) AS n_chunks,
           CAST(count(*) AS BIGINT) AS n_distinct_chunks,
           CAST(sum(n_copies * n_bytes) AS BIGINT) AS total_bytes,
           CAST(sum(n_bytes) AS BIGINT) AS deduped_bytes,
           CAST(sum(n_copies * n_bytes) - sum(n_bytes) AS BIGINT)
             AS bytes_saved
    FROM per
    """,
    "multimodal: CDC dedup accounting (content-addressed-store savings "
    "report; no reference counterpart)",
    "corpus chunk totals vs distinct chunk contents — raw/deduped byte "
    "totals from two map-side-combined aggregates",
)
def multimodal_cdc_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.multimodal import (
        cdc_chunks,
        cdc_dedup_stats,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import (
        ensure_parallelism,
    )

    return cdc_dedup_stats(
        cdc_chunks(ensure_parallelism(_media_df(spark, sf_dir), "media_id"))
    )


@_register(
    "multimodal_image_features",
    f"""
    WITH m AS (SELECT doc_id AS media_id,
                      concat({_MM_PREFIX_SQL}, text) AS ptext
               FROM documents)
    SELECT media_id,
           CAST(CAST(concat('0x', substring(md5(ptext), 1, 8)) AS BIGINT)
                % 1920 + 1 AS INT) AS width,
           CAST(CAST(concat('0x', substring(md5(ptext), 9, 8)) AS BIGINT)
                % 1080 + 1 AS INT) AS height,
           (CAST(concat('0x', substring(md5(ptext), 17, 8)) AS BIGINT)
                % 256000) / 1000.0 AS mean_luma
    FROM m
    """,
    "multimodal: image decode via Arrow mapInPandas",
    "deterministic-fake decode (md5 arithmetic) through the real Python batch path",
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.multimodal import (
        decode_image_features,
        fake_image_decode,
    )

    return decode_image_features(
        _media_df(spark, sf_dir), decoder=fake_image_decode
    )


@_register(
    "multimodal_frame_sample",
    """
    SELECT doc_id AS media_id,
           unnest(range(0, (n_chars % 60) + 1, 10)) AS frame_idx
    FROM documents
    """,
    "multimodal: video frame sampling plan",
    "explode(sequence(0, n_frames-1, step)) — no Python, decode composes downstream",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.multimodal import sample_frames

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.struct((F.col("n_chars") % 60 + 1).cast("int").alias("n_frames")).alias(
            "meta"
        ),
    )
    return sample_frames(media, every_n=10)


@_register(
    "multimodal_audio_duration",
    f"""
    WITH m AS (SELECT doc_id AS media_id,
                      concat({_MM_PREFIX_SQL}, text) AS ptext,
                      CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate
               FROM documents)
    SELECT media_id,
           CAST(floor(octet_length(encode(ptext)) / 2.0) AS BIGINT) AS n_samples,
           CAST(floor(octet_length(encode(ptext)) / 2.0) AS BIGINT)
             / CAST(sample_rate AS DOUBLE) AS duration_sec
    FROM m
    """,
    "multimodal: PCM duration estimate",
    "duration from byte length + sample-rate metadata — pure Column, no decode",
)
def multimodal_audio_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.multimodal import audio_duration

    media = _media_df(spark, sf_dir).withColumn(
        "meta",
        F.struct(
            (8000 + (F.col("media_id") % 3) * 4000).cast("int").alias("sample_rate")
        ),
    )
    return audio_duration(media).select("media_id", "n_samples", "duration_sec")


# ===========================================================================
# M2/M3: MLlib forecasting with a closed-form oracle. One-feature OLS has
# an exact SQL form (regr_slope/regr_intercept), so even the ML path is
# hash-checked: MLlib's WeightedLeastSquares agrees with the closed form
# to ~1e-13 (measured), far inside the 4-dp rounding grid.
# Scale: feature build = two windows sharing one (user_id) shuffle;
# training is one treeAggregate over the assembled vectors; scoring is a
# narrow projection.
# ===========================================================================

@_register(
    "forecast_linear_ols",
    f"""
    WITH f AS (
      SELECT event_id,
             avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS x,
             lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y
      FROM events
    ),
    coef AS (
      SELECT regr_slope(y, x) AS b1, regr_intercept(y, x) AS b0
      FROM f WHERE y IS NOT NULL
    )
    SELECT f.event_id,
           {_sql_r('coef.b0 + coef.b1 * f.x', 4)} AS prediction
    FROM f CROSS JOIN coef
    """,
    "M1,M2,M3",
    "MLlib LinearRegression (normal solver) on rolling-avg feature vs closed-form OLS oracle",
)
def forecast_linear_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    ev = _t(spark, sf_dir, "events")
    w5 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    feat = ev.select(
        "event_id",
        F.avg("value").over(w5).alias("x"),
        F.lead("value", 1).over(wl).alias("y"),
    )
    assembled = VectorAssembler(inputCols=["x"], outputCol="features").transform(
        feat
    )
    model = LinearRegression(
        featuresCol="features", labelCol="y", regParam=0.0, solver="normal"
    ).fit(assembled.filter(F.col("y").isNotNull()))
    return model.transform(assembled).select(
        "event_id", _r(F.col("prediction"), 4).alias("prediction")
    )


# ===========================================================================
# Streaming replay with a batch oracle (SURVEY §2.9/§7.3-6): stage the
# events table as snapshot files, run them through the Structured
# Streaming rollup (file source → event-time tumbling window → complete
# sink), and return the drained result as a batch DataFrame. Stream and
# batch share the same DataFrame expressions, so DuckDB's time_bucket
# reproduces the stream's output exactly — batch/stream unification made
# checkable.
# ===========================================================================

# ===========================================================================
# Streaming incremental rollup — foreachBatch maintenance of a stored
# rollup: every micro-batch contributes a mergeable PARTIAL aggregate
# (operators/incremental.py), and the final state is one merge over the
# partials. The oracle recomputes from the full table, so the hash
# check proves the streaming-maintained state == batch recompute — the
# contract a 100 TB reporting table relies on (touch the delta, not the
# history).
# ===========================================================================

@_register(
    "streaming_incremental_rollup",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value_cents,
           CAST(min(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS min_value_cents,
           CAST(max(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS max_value_cents
    FROM events GROUP BY event_type
    """,
    "streaming + incremental view maintenance (no reference counterpart)",
    "foreachBatch partial rollups merged across micro-batches vs full-recompute oracle",
)
def streaming_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sports_data_integration_and_forecasting_pipeline_spark.operators.incremental import (
        merge_rollups,
        rollup_partial,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _cents(F.col("value")).alias("cents")
    )
    stage = tempfile.mkdtemp(prefix="stream_incr_src_")
    partials_dir = tempfile.mkdtemp(prefix="stream_incr_partials_")
    ev.repartition(4).write.mode("overwrite").parquet(stage)

    metrics = {
        "n_events": ("count", ""),
        "sum_value_cents": ("sum", "cents"),
        "min_value_cents": ("min", "cents"),
        "max_value_cents": ("max", "cents"),
    }

    def upsert_partial(batch_df: DataFrame, _batch_id: int) -> None:
        rollup_partial(batch_df, ["event_type"], metrics).write.mode(
            "append"
        ).parquet(partials_dir)

    (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(upsert_partial)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return merge_rollups(
        [spark.read.parquet(partials_dir)],
        ["event_type"],
        {
            "n_events": "count",
            "sum_value_cents": "sum",
            "min_value_cents": "min",
            "max_value_cents": "max",
        },
    )


@_register(
    "streaming_replay_rollup",
    f"""
    SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start_s,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
    FROM events
    GROUP BY 1, 2
    """,
    "streaming (no reference counterpart)",
    "events replayed through a Structured Streaming tumbling-window rollup, vs batch time_bucket oracle",
)
def streaming_replay_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    ev = _t(spark, sf_dir, "events")
    # event_time: the same instant as the NTZ wall clock read as UTC —
    # tz-independent, so streaming window bounds match the DuckDB oracle.
    with_ts = ev.withColumn("event_time", F.timestamp_micros(_epoch_us("ts")))
    stage = tempfile.mkdtemp(prefix="stream_replay_")
    with_ts.repartition(2).write.mode("overwrite").parquet(stage)

    stream = (
        spark.readStream.schema(with_ts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    rolled = (
        stream.withWatermark("event_time", "1 minute")
        .groupBy(F.window("event_time", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("sum_value_cents"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n_events",
            "sum_value_cents",
        )
    )
    sink = f"replay_{uuid.uuid4().hex[:12]}"
    (
        rolled.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(sink)


def _stage_events_ordered(spark: SparkSession, sf_dir: str, n_files: int = 2):
    """Stage the events table (with a real ``event_time`` column) as
    ``n_files`` parquet files whose time ranges are disjoint and whose
    mtimes increase with time range — so the file stream replays history
    in event-time order across micro-batches (maxFilesPerTrigger=1). This
    makes stateful operators (last-price state) deterministic: each key's
    rows arrive in global ts order. Returns (schema, stage_dir).

    Test-harness staging only (driver-side file juggling is fine here; the
    production source is a real snapshot feed)."""
    import os
    import shutil
    import tempfile
    import time

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("ts_us", _epoch_us("ts"))
        .withColumn("event_time", F.timestamp_micros(F.col("ts_us")))
    )
    stage = tempfile.mkdtemp(prefix="stream_stage_")
    # exact ts split points so file k's rows all precede file k+1's
    qs = [i / n_files for i in range(1, n_files)]
    bounds = ev.approxQuantile("ts_us", qs, 0.0) if qs else []  # rel err 0 -> exact
    lo = None
    base = time.time() - 3600
    for i, hi in enumerate(list(bounds) + [None]):
        part = ev
        if lo is not None:
            part = part.filter(F.col("ts_us") >= lo)
        if hi is not None:
            part = part.filter(F.col("ts_us") < hi)
        tmp = tempfile.mkdtemp(prefix="stream_part_")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            p for p in os.listdir(tmp) if p.endswith(".parquet") and p.startswith("part-")
        )
        dst = os.path.join(stage, f"{i:05d}.parquet")
        shutil.move(os.path.join(tmp, src), dst)
        shutil.rmtree(tmp, ignore_errors=True)
        os.utime(dst, (base + i * 100, base + i * 100))
        lo = hi
    return ev.schema, stage


def _drain(stream_df: DataFrame, output_mode: str) -> DataFrame:
    import uuid

    sink = f"drain_{uuid.uuid4().hex[:12]}"
    (
        stream_df.writeStream.format("memory")
        .queryName(sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return stream_df.sparkSession.table(sink)


# ===========================================================================
# Streaming session windows vs the gaps-and-islands batch twin: the same
# 30-minute-gap sessions event_sessionize computes in batch, produced by
# the streaming session_window operator (game_session_stream's shape) and
# drained complete. Spark's session end = last event + gap, so the oracle
# adds the gap to max(ts). State merges sessions across micro-batches —
# the file split exercises exactly that path.
# ===========================================================================

@_register(
    "streaming_session_windows",
    """
    WITH flagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts_us, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(ts_us) // 1000000 AS session_start_s,
           (max(ts_us) // 1000000) + 1800 AS session_end_s,
           CAST(count(*) AS BIGINT) AS n_changes,
           min(value) AS min_price,
           max(value) AS max_price
    FROM numbered
    GROUP BY user_id, session_id
    """,
    "streaming session_window (batch twin: event_sessionize)",
    "events replayed through the game_session_stream operator (30-min gap), vs gaps-and-islands oracle",
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.streaming.canonical import (
        game_session_stream,
    )

    schema, stage = _stage_events_ordered(spark, sf_dir, n_files=2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    adapted = stream.select(
        F.col("event_time").alias("event_ts"),
        F.col("user_id").cast("string").alias("game_id"),
        F.col("value").alias("price"),
    )
    sessions = game_session_stream(adapted, gap="30 minutes", watermark="30 minutes")
    out = _drain(sessions, "complete")
    return out.select(
        F.col("game_id").cast("long").alias("user_id"),
        F.unix_timestamp("session_start").alias("session_start_s"),
        F.unix_timestamp("session_end").alias("session_end_s"),
        "n_changes",
        "min_price",
        "max_price",
    )


# ===========================================================================
# Stateful line-move detection vs the lag-window batch twin: the
# applyInPandasWithState operator (state = last price per key) replayed
# over time-ordered micro-batches must equal a plain lag() in SQL. This is
# the oracle for the one operator whose semantics windows can't express —
# per-key state carried ACROSS micro-batches is exactly what the two-file
# ordered staging exercises.
# ===========================================================================

@_register(
    "streaming_line_moves",
    f"""
    WITH nn AS (
      SELECT user_id, event_type, ts, event_id, value,
             lag(value) OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS prev
      FROM events WHERE value IS NOT NULL
    )
    SELECT CAST(user_id AS VARCHAR) AS game_id,
           event_type AS bookmaker,
           epoch_us(ts) // 1000000 AS event_ts_s,
           prev AS old_price, value AS new_price,
           {_sql_r('(value - prev) / abs(prev) * 100.0', 6)} AS move_pct
    FROM nn
    WHERE prev IS NOT NULL AND prev <> 0
      AND abs((value - prev) / abs(prev) * 100.0) >= 50.0
    """,
    "streaming applyInPandasWithState (batch twin: lag window)",
    "per-key last-price state across ordered micro-batches emits >=50% moves, vs lag() oracle",
)
def streaming_line_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.streaming.canonical import (
        detect_line_moves,
    )

    schema, stage = _stage_events_ordered(spark, sf_dir, n_files=2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    adapted = stream.select(
        F.col("user_id").cast("string").alias("game_id"),
        F.col("event_type").alias("bookmaker"),
        F.lit("value").alias("market"),
        F.lit("all").alias("player_name"),
        F.col("value").alias("price"),
        F.col("event_time").alias("event_ts"),
    )
    moves = detect_line_moves(adapted, min_move_pct=50.0)
    out = _drain(moves, "append")
    return out.select(
        "game_id",
        "bookmaker",
        F.unix_timestamp("event_ts").alias("event_ts_s"),
        "old_price",
        "new_price",
        _r(F.col("move_pct"), 6).alias("move_pct"),
    )


# ===========================================================================
# Stream-stream time-bounded inner join vs the plain-SQL batch twin: odds
# line changes joined to the most recent metadata feed (every-7th event),
# bounded to meta no older than 1 hour. Inner joins emit on match (the
# watermark only sizes eviction state), so draining both file streams
# yields exactly the batch join's pair set.
# ===========================================================================

@_register(
    "streaming_stream_join",
    """
    SELECT o.event_id AS odds_event_id,
           m.event_id AS meta_event_id,
           CAST(o.user_id AS VARCHAR) AS game_id,
           epoch_us(o.ts) // 1000000 AS event_ts_s,
           epoch_us(m.ts) // 1000000 AS meta_ts_s,
           o.value AS price,
           concat('v', CAST(m.event_id % 3 AS VARCHAR)) AS venue_status
    FROM events o
    JOIN (SELECT * FROM events WHERE event_id % 7 = 0) m
      ON o.user_id = m.user_id
     AND m.ts <= o.ts
     AND m.ts >= o.ts - INTERVAL 1 HOUR
    """,
    "streaming stream-stream join (batch twin: time-bounded equi-join)",
    "odds stream joined to a metadata stream within a 1-hour event-time bound, vs batch join oracle",
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.streaming.canonical import (
        join_with_game_meta,
    )

    schema, stage = _stage_events_ordered(spark, sf_dir, n_files=1)
    def _src():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )

    odds = _src().select(
        F.col("event_id").alias("odds_event_id"),
        F.col("user_id").cast("string").alias("game_id"),
        F.col("event_time").alias("event_ts"),
        F.col("value").alias("price"),
    )
    meta = (
        _src()
        .filter(F.col("event_id") % 7 == 0)
        .select(
            F.col("event_id").alias("meta_event_id"),
            F.col("user_id").cast("string").alias("meta_game_id"),
            F.col("event_time").alias("meta_ts"),
            F.concat(F.lit("v"), (F.col("event_id") % 3).cast("string")).alias(
                "venue_status"
            ),
        )
    )
    joined = join_with_game_meta(odds, meta, max_meta_age="1 hour")
    out = _drain(joined, "append")
    return out.select(
        "odds_event_id",
        "meta_event_id",
        "game_id",
        F.unix_timestamp("event_ts").alias("event_ts_s"),
        F.unix_timestamp("meta_ts").alias("meta_ts_s"),
        "price",
        "venue_status",
    )


# ===========================================================================
# Stream-static enrichment — the standard dimension join on a stream:
# each micro-batch joins against the static customer table (broadcast;
# the dim is loaded once, not per-batch shuffled). Append mode needs no
# watermark for stream-static inner joins. Oracle: the batch twin join.
# ===========================================================================

@_register(
    "streaming_static_enrich",
    """
    SELECT e.event_id, e.user_id,
           CAST(epoch_us(e.ts) // 1000000 AS BIGINT) AS ts_s,
           e.value, c.c_mktsegment AS segment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    "streaming stream-static join (batch twin: events x customer)",
    "event stream enriched per micro-batch against the broadcast static "
    "customer dim",
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema, stage = _stage_events_ordered(spark, sf_dir, n_files=2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = stream.join(
        F.broadcast(dim), stream["user_id"] == dim["c_custkey"]
    )
    out = _drain(joined, "append")
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("event_time").cast("bigint").alias("ts_s"),
        "value",
        F.col("c_mktsegment").alias("segment"),
    )


# ===========================================================================
# Streaming quality filter (r10) — the curation gate as a structured
# stream: documents replay across 2 micro-batches and the r9 pinned-
# weight linear classifier runs per micro-batch as the SAME stateless
# projection (zero state, the unbounded-safe shape — a quality gate is
# the first stage a streaming ingest pipeline applies before anything
# stateful). Oracle = the batch quality_linear_filter SQL verbatim
# (shared below): the drained stream must reproduce the batch decision
# for every document.
# ===========================================================================


def _stage_docs_ordered(spark: SparkSession, sf_dir: str, n_files: int = 2):
    """Stage the documents table as ``n_files`` disjoint doc_id-range
    parquet files with increasing mtimes — the documents counterpart of
    :func:`_stage_events_ordered` (test-harness staging only)."""
    import os
    import shutil
    import tempfile
    import time

    docs = _t(spark, sf_dir, "documents")
    stage = tempfile.mkdtemp(prefix="stream_stage_docs_")
    qs = [i / n_files for i in range(1, n_files)]
    bounds = (
        [float(b) for b in docs.approxQuantile("doc_id", qs, 0.0)] if qs else []
    )
    lo = None
    base = time.time() - 3600
    for i, hi in enumerate(list(bounds) + [None]):
        part = docs
        if lo is not None:
            part = part.filter(F.col("doc_id") >= lo)
        if hi is not None:
            part = part.filter(F.col("doc_id") < hi)
        tmp = tempfile.mkdtemp(prefix="stream_part_docs_")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            p for p in os.listdir(tmp)
            if p.endswith(".parquet") and p.startswith("part-")
        )
        dst = os.path.join(stage, f"{i:05d}.parquet")
        shutil.move(os.path.join(tmp, src), dst)
        shutil.rmtree(tmp, ignore_errors=True)
        os.utime(dst, (base + i * 100, base + i * 100))
        lo = hi
    return docs.schema, stage


@_register(
    "streaming_quality_filter",
    None,  # replaced below — shares quality_linear_filter's oracle
    "streaming quality gate (batch twin: quality_linear_filter)",
    "documents replayed across 2 micro-batches through the stateless "
    "pinned-weight linear classifier — the drained stream reproduces "
    "the batch kept decision exactly",
)
def streaming_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        quality_linear_filter,
    )

    schema, stage = _stage_docs_ordered(spark, sf_dir, n_files=2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    out = _drain(quality_linear_filter(stream), "append")
    return out.select(
        "doc_id", "stop_e6", "punct_e6", "len_sat_e6", "awl_e6",
        "logit_e6", "kept",
    )


QUERIES["streaming_quality_filter"] = dataclasses.replace(
    QUERIES["streaming_quality_filter"],
    oracle=QUERIES["quality_linear_filter"].oracle,
)


# ===========================================================================
# Streaming dedup vs the batch distinct twin: every event row arrives
# TWICE in its micro-batch (explode-duplicated after the stream read) and
# the replay spans two batches, so dropDuplicatesWithinWatermark must
# dedup within a batch AND carry key state across batches. The oracle is
# simply the events table — streaming dedup of a doubled stream must
# reproduce it exactly. State is per-key within the watermark horizon,
# the unbounded-stream-safe form.
# ===========================================================================

@_register(
    "streaming_dedup_replay",
    """
    SELECT event_id, user_id, event_type,
           CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ts_s, value
    FROM events
    """,
    "streaming dedup (batch twin: SELECT DISTINCT)",
    "explode-doubled event stream through dropDuplicatesWithinWatermark "
    "across 2 micro-batches == the events table",
)
def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.streaming.canonical import (
        dedup_line_changes,
    )

    schema, stage = _stage_events_ordered(spark, sf_dir, n_files=2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    doubled = stream.select(
        F.col("event_id"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("event_time").alias("event_ts"),
        F.col("value"),
        F.explode(F.array(F.lit(1), F.lit(2))).alias("__copy"),
    ).drop("__copy")
    deduped = dedup_line_changes(doubled, watermark="30 minutes", keys=["event_id"])
    out = _drain(deduped, "append")
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("event_ts").cast("bigint").alias("ts_s"),
        "value",
    )


# ===========================================================================
# Watermark late-data drop — the semantics that make unbounded streaming
# aggregation safe: rows arriving behind the watermark are DISCARDED, so
# state stays bounded and results stay deterministic. Exercised across a
# RESTART: run 1 (own checkpoint) processes the older half of events and
# persists its watermark (half-max − 1 min); run 2 resumes from the
# checkpoint on a second file holding the newer half PLUS stale
# duplicates of the 200 oldest rows. The recovered watermark drops every
# injected duplicate (≈a month late), so no window double-counts —
# single-run availableNow replays put everything in one micro-batch
# (watermark still 0), which is why the restart form is the only honest
# demonstration. Append mode emits each window exactly once, when the
# watermark passes its end; the oracle reproduces both effects in batch:
# the plain per-hour rollup of events (dropping the duplicates restores
# it) restricted to windows whose end ≤ the final watermark
# (max event time − 1 min).
# ===========================================================================

@_register(
    "streaming_late_data_drop",
    """
    WITH wm AS (
      SELECT epoch_us(max(ts)) // 1000000 - 60 AS wm_s FROM events
    ),
    agg AS (
      SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
               AS window_start_s,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_value_cents
      FROM events GROUP BY 1
    )
    SELECT a.window_start_s, a.n_events, a.sum_value_cents
    FROM agg a, wm WHERE a.window_start_s + 3600 <= wm.wm_s
    """,
    "streaming watermark semantics (late input dropped, windows finalized)",
    "tumbling rollup over a replay with month-stale injected duplicates: "
    "late rows dropped, finalized windows == batch rollup under the final "
    "watermark",
)
def streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("ts_us", _epoch_us("ts"))
        .withColumn("event_time", F.timestamp_micros(F.col("ts_us")))
        .select("event_id", "user_id", "value", "ts_us", "event_time")
    )
    [mid] = ev.approxQuantile("ts_us", [0.5], 0.0)  # rel err 0 -> exact
    oldest = ev.orderBy("ts_us", "event_id").limit(200)
    # Precondition for the drop to be guaranteed: a late row is discarded
    # only when its WINDOW's end is at or behind the recovered watermark
    # (the window's state must already be finalized and evicted) — the
    # raw row timestamp being behind the watermark is NOT sufficient
    # (r5 review: a duplicate at 11:30 with watermark 11:59:50 passes a
    # raw-timestamp check, but its [11:00, 12:00) window is still open
    # and ACCEPTS it). So assert the duplicates' hour-window ends ≤ run
    # 1's watermark (older-half max − 1 min); otherwise fail loudly
    # instead of silently diverging from the count-once oracle.
    row = ev.agg(
        F.max(F.when(F.col("ts_us") < mid, F.col("ts_us"))).alias("h1_max"),
    ).collect()[0]
    wm1_us = row["h1_max"] - 60 * 1_000_000
    oldest_max = oldest.agg(F.max("ts_us")).collect()[0][0]
    hour_us = 3_600 * 1_000_000
    oldest_window_end = (oldest_max - oldest_max % hour_us) + hour_us
    if oldest_window_end > wm1_us:
        raise AssertionError(
            "streaming_late_data_drop precondition violated: the 200 "
            f"oldest rows' last hour-window ends at {oldest_window_end}, "
            f"after run 1's watermark {wm1_us} (older-half max − 60 s) — "
            "that window would still be open in run 2 and would ACCEPT "
            "the injected duplicates. Pick duplicates whose windows "
            "close strictly before the recovered watermark."
        )
    parts = [
        ev.filter(F.col("ts_us") < mid),
        # run 2: the newer half PLUS month-stale duplicates of the
        # oldest 200 rows — behind the recovered watermark, must drop
        ev.filter(F.col("ts_us") >= mid).unionByName(oldest),
    ]
    stage = tempfile.mkdtemp(prefix="stream_late_")
    ckpt = tempfile.mkdtemp(prefix="stream_late_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="stream_late_out_")

    def _run_once() -> None:
        stream = spark.readStream.schema(ev.schema).parquet(stage)
        rolled = (
            stream.withWatermark("event_time", "1 minute")
            .groupBy(F.window("event_time", "1 hour").alias("w"))
            .agg(
                F.count("*").alias("n_events"),
                F.sum(_cents(F.col("value"))).alias("sum_value_cents"),
            )
            .select(
                F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
                "n_events",
                "sum_value_cents",
            )
        )

        def _append(batch_df: DataFrame, _batch_id: int) -> None:
            batch_df.write.mode("append").parquet(out_dir)

        (
            rolled.writeStream.foreachBatch(_append)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    for i, part in enumerate(parts):
        tmp = tempfile.mkdtemp(prefix="stream_late_part_")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            p for p in os.listdir(tmp)
            if p.endswith(".parquet") and p.startswith("part-")
        )
        shutil.move(
            os.path.join(tmp, src), os.path.join(stage, f"{i:05d}.parquet")
        )
        shutil.rmtree(tmp, ignore_errors=True)
        _run_once()  # run i sees only files 0..i; watermark rides ckpt
    return spark.read.parquet(out_dir)
