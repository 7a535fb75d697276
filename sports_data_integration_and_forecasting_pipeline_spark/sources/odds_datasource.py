"""Spark 4 Python DataSource for The Odds API (SURVEY §2.1 S1/S2 as a
first-class connector; upgrade path promised in SURVEY §4.2).

Usage::

    spark.dataSource.register(OddsApiDataSource)
    games = (spark.read.format("odds_api")
             .option("fixture_path", "tests/fixtures/sample_odds.json")
             .load())                       # offline mode
    games = (spark.read.format("odds_api")
             .option("api_key", key)
             .option("sports", "basketball_nba,americanfootball_nfl")
             .load())                       # live mode, 1 partition/sport

The connector plans **one input partition per sport**, so multi-sport
pulls parallelize across executors while each partition stays one HTTP
request — the right granularity for an API whose unit of work is a
sport-level response. ``fixture_path`` serves offline runs and tests
(the same dispatch-with-fallback the reference's Streamlit app does at
``web/app.py:22-33``). Rows materialize with the explicit
:data:`...schemas.GAME_SCHEMA`, so downstream explode pipelines see the
same shape as the JSON file reader.

A ``simpleStreamReader`` exposes the polling variant: each micro-batch is
one fetch tagged with a monotonically increasing poll id — the streaming
shape of the reference's snapshot-append loop (``src/ingestion.py:132-142``).
"""

from __future__ import annotations

import json
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql import types as T

from sports_data_integration_and_forecasting_pipeline_spark.schemas import GAME_SCHEMA


def _to_row(value, dtype):
    """Recursively shape a parsed-JSON value into the tuple form Spark's
    Python DataSource expects for the declared schema (absent keys become
    nulls — the reference's ``.get()`` tolerance, SURVEY §1.3). A number
    that does not parse becomes null, the ``try_cast`` semantics of
    :func:`...functions.odds_math.coerce_numeric`, so one bad record
    does not fail the read."""
    if value is None:
        return None
    if isinstance(dtype, T.StructType):
        return tuple(_to_row(value.get(f.name), f.dataType) for f in dtype.fields)
    if isinstance(dtype, T.ArrayType):
        return [_to_row(v, dtype.elementType) for v in value]
    if isinstance(dtype, T.StringType):
        return str(value)
    if isinstance(dtype, T.DoubleType):
        try:
            return float(value)
        except (TypeError, ValueError):
            return None
    return value


class SportPartition(InputPartition):
    def __init__(self, sport: str):
        self.sport = sport


class OddsApiBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = dict(options)

    def partitions(self) -> list[InputPartition]:
        sports = self.options.get("sports", self.options.get("sport", "basketball_nba"))
        return [SportPartition(s.strip()) for s in sports.split(",") if s.strip()]

    def _games(self, sport: str) -> list[dict]:
        fixture = self.options.get("fixture_path")
        if fixture:
            with open(fixture) as fh:
                return json.load(fh)
        from sports_data_integration_and_forecasting_pipeline_spark.sources.odds_api import fetch_odds

        return fetch_odds(
            api_key=self.options.get("api_key", ""),
            sport_key=sport,
            markets=self.options.get("markets", "h2h,spreads"),
            regions=self.options.get("regions", "us"),
            use_cache=self.options.get("use_cache", "true").lower() == "true",
        )

    def read(self, partition: SportPartition) -> Iterator[tuple]:
        for game in self._games(partition.sport):
            yield _to_row(game, GAME_SCHEMA)


class OddsApiStreamReader(SimpleDataSourceStreamReader):
    """Polling stream: offset = poll counter; each micro-batch re-reads the
    source once (fixture or live), the streaming shape of the reference's
    append-only snapshot loop."""

    def __init__(self, options: dict):
        self.options = dict(options)
        self._batch = OddsApiBatchReader(options)

    def initialOffset(self) -> dict:
        return {"poll": 0}

    def read(self, start: dict):
        rows = []
        for part in self._batch.partitions():
            rows.extend(self._batch.read(part))
        end = {"poll": int(start["poll"]) + 1}
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        rows = []
        for part in self._batch.partitions():
            rows.extend(self._batch.read(part))
        return iter(rows)


class OddsApiDataSource(DataSource):
    """``format("odds_api")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "odds_api"

    def schema(self) -> T.StructType:
        return GAME_SCHEMA

    def reader(self, schema: T.StructType) -> DataSourceReader:
        return OddsApiBatchReader(self.options)

    def simpleStreamReader(self, schema: T.StructType) -> SimpleDataSourceStreamReader:
        return OddsApiStreamReader(self.options)
