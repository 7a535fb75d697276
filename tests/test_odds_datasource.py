"""Spark 4 Python DataSource tests: format("odds_api") in offline fixture
mode, batch and streaming, piped into the engine's flatten/arb pipeline."""

from __future__ import annotations

import json
import uuid

import pytest

import sports_data_integration_and_forecasting_pipeline_spark as eng
from sports_data_integration_and_forecasting_pipeline_spark.sources import read_odds_json
from sports_data_integration_and_forecasting_pipeline_spark.sources.odds_datasource import OddsApiDataSource

FIXTURE = "tests/fixtures/sample_odds.json"


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(OddsApiDataSource)


def test_batch_read_fixture(spark):
    games = (
        spark.read.format("odds_api").option("fixture_path", FIXTURE).load()
    )
    rows = games.collect()
    assert len(rows) == 2  # the golden fixture's two games
    assert {r["home_team"] for r in rows} == {"Los Angeles Lakers", "Denver Nuggets"}
    # nested shape is intact for the explode pipeline
    assert rows[0]["bookmakers"][0]["markets"][0]["outcomes"][0]["price"] is not None


def test_batch_pipes_into_engine(spark):
    games = (
        spark.read.format("odds_api").option("fixture_path", FIXTURE).load()
    )
    cleaned = eng.clean_odds(games, "h2h")
    assert cleaned.count() == 6
    arb = {
        r["game_id"]: r["arbitrage_margin"]
        for r in eng.detect_discrepancies(cleaned, "h2h").collect()
    }
    lakers = next(v for k, v in arb.items() if "Lakers" in k)
    nuggets = next(v for k, v in arb.items() if "Nuggets" in k)
    assert lakers is not None and abs(lakers - 3.26) < 1e-9
    assert nuggets is None


def test_partition_per_sport(spark):
    games = (
        spark.read.format("odds_api")
        .option("fixture_path", FIXTURE)
        .option("sports", "a,b,c")
        .load()
    )
    # fixture mode returns the same payload per sport partition: 3 x 2 games
    assert games.count() == 6
    assert games.rdd.getNumPartitions() == 3


def test_stream_read_fixture(spark):
    stream = (
        spark.readStream.format("odds_api")
        .option("fixture_path", FIXTURE)
        .load()
    )
    name = f"odds_stream_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table(name).count() >= 2  # at least one poll of 2 games


def test_batch_read_nulls_a_malformed_number(spark, tmp_path):
    """An unparseable ``point`` becomes null instead of failing the read,
    and the rows equal the JSON file reader's on the same file."""
    games = json.loads(open(FIXTURE).read())
    games[0]["bookmakers"][0]["markets"][0]["outcomes"][0]["point"] = "N/A"
    corrupt = tmp_path / "corrupt_odds.json"
    corrupt.write_text(json.dumps(games))

    got = (
        spark.read.format("odds_api").option("fixture_path", str(corrupt)).load()
    )
    want = read_odds_json(spark, str(corrupt))
    def by_id(df):
        return sorted(df.collect(), key=lambda r: r["id"])

    assert by_id(got) == by_id(want)
    first = got.where("id = 'game_001'").first()
    assert first["bookmakers"][0]["markets"][0]["outcomes"][0]["point"] is None
