"""Canonical-table compaction under the versioned manifest-pointer layout:
many small appended files collapse into right-sized files in a NEW
immutable version directory, committed by one atomic pointer flip — the
catalog-swap shape that stays correct on object stores where renames are
copies and two-step swaps leave windows.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from sports_data_integration_and_forecasting_pipeline_spark.sinks import (
    _pointer,
    compact_canonical,
    merge_canonical,
    read_canonical,
    update_canonical_table,
    write_canonical_version,
)


def _batch(spark):
    return spark.createDataFrame(
        [("2026-08-13T10:00:00", "g1", 2.0), ("2026-08-14T10:00:00", "g2", 1.9)],
        "timestamp string, game_id string, price double",
    )


def _rows(spark, path):
    return [
        r.asDict()
        for r in read_canonical(spark, path).orderBy("timestamp", "game_id").collect()
    ]


def test_compact_canonical_versioned(spark, tmp_path):
    path = str(tmp_path / "canonical.parquet")
    for _ in range(5):  # 5 appends -> many small files across 2 partitions
        update_canonical_table(_batch(spark), path)
    assert _pointer(Path(path)) == ("v00000001", "parquet")
    files_before = len(list((Path(path) / "v00000001").rglob("*.parquet")))
    before = _rows(spark, path)

    n = compact_canonical(spark, path)
    assert n == 10
    assert _pointer(Path(path)) == ("v00000002", "parquet")
    files_after = len(list((Path(path) / "v00000002").rglob("*.parquet")))
    assert files_after < files_before
    assert files_after <= 2  # one file per snapshot_date partition
    assert _rows(spark, path) == before
    # previous version retained for in-flight readers (retain_previous=1)
    assert (Path(path) / "v00000001").exists()

    # a second compaction prunes beyond the retained window
    compact_canonical(spark, path)
    assert _pointer(Path(path)) == ("v00000003", "parquet")
    assert not (Path(path) / "v00000001").exists()
    assert (Path(path) / "v00000002").exists()
    assert _rows(spark, path) == before


def test_compact_crash_before_publish_preserves_table(spark, tmp_path):
    """A compaction that dies mid-write strands only an invisible
    ``.vNNNNNNNN.staged.*`` directory (writes go to a dot-prefixed staging
    dir and become visible only via one atomic rename) — the table stays
    fully readable at the old version, and the next successful compaction
    sweeps the debris."""
    path = str(tmp_path / "canonical.parquet")
    update_canonical_table(_batch(spark), path)
    before = _rows(spark, path)

    # simulate the crash: staged debris from a committer that died before
    # the publish rename
    stranded = Path(path) / ".v00000002.staged.deadbeef"
    stranded.mkdir()
    (stranded / "part-garbage.parquet").write_bytes(b"not parquet")

    assert _pointer(Path(path)) == ("v00000001", "parquet")
    assert _rows(spark, path) == before  # readers never see the wreck

    # the next compaction claims v00000002 (the crash never published it)
    # and prunes the staged debris
    compact_canonical(spark, path)
    assert _pointer(Path(path)) == ("v00000002", "parquet")
    assert _rows(spark, path) == before
    assert not stranded.exists()


# Every writer of a new table version goes through the same commit.
_COMMITTERS = {
    "compact_canonical": lambda spark, path: compact_canonical(spark, path),
    "merge_canonical": lambda spark, path: merge_canonical(
        spark, _batch(spark), path, key_cols=["game_id"]
    ),
    "write_canonical_version": lambda spark, path: write_canonical_version(
        spark, path, _batch(spark)
    ),
}


@pytest.mark.parametrize("committer", sorted(_COMMITTERS))
def test_concurrent_committer_fails_loudly_not_silently(spark, tmp_path, committer):
    """Writer mutual exclusion: if a competing committer publishes the same
    next version first, the second commit raises ConcurrentWriteError
    instead of silently discarding the first commit (its staged dir is
    cleaned up); the winner's data stays intact."""
    from sports_data_integration_and_forecasting_pipeline_spark.sinks import ConcurrentWriteError

    path = str(tmp_path / "canonical.parquet")
    update_canonical_table(_batch(spark), path)
    before = _rows(spark, path)

    # a competing writer publishes v00000002 (complete, but pointer not
    # yet flipped — the claim is the rename, which it has already won)
    winner = Path(path) / "v00000002"
    winner.mkdir()
    (winner / "marker").write_text("winner's files")

    with pytest.raises(ConcurrentWriteError):
        _COMMITTERS[committer](spark, path)
    # loser did not clobber the winner's version dir
    assert (winner / "marker").read_text() == "winner's files"
    # no staged debris left behind by the failed attempt
    assert not list(Path(path).glob(".v*.staged.*"))
    # table still readable at the committed version
    assert _pointer(Path(path)) == ("v00000001", "parquet")
    assert _rows(spark, path) == before


def test_compact_target_files_per_partition(spark, tmp_path):
    path = str(tmp_path / "canonical.parquet")
    rows = [
        (f"2026-08-13T10:00:{i:02d}", f"g{i}", 1.0 + i / 10) for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "timestamp string, game_id string, price double"
    )
    update_canonical_table(df, path)
    compact_canonical(spark, path, target_files_per_partition=4)
    ver = _pointer(Path(path))[0]
    files = list((Path(path) / ver).rglob("*.parquet"))
    # up to 4 salted files in the single date partition, and more than 1
    # (40 distinct rows hash across salts with overwhelming probability)
    assert 1 < len(files) <= 4
    assert len(_rows(spark, path)) == 40


def test_canonical_csv_parity(spark, tmp_path):
    """fmt='csv' mirrors the reference's CSV canonical table end-to-end:
    append, read-back, compact — same row contents (as strings)."""
    path = str(tmp_path / "canonical_csv")
    for _ in range(3):
        update_canonical_table(_batch(spark), path, fmt="csv")
    got = _rows(spark, path)
    assert len(got) == 6
    assert {r["game_id"] for r in got} == {"g1", "g2"}

    n = compact_canonical(spark, path)
    assert n == 6
    assert _pointer(Path(path)) == ("v00000002", "csv")
    assert _rows(spark, path) == got


def test_legacy_flat_table_migrates_on_compaction(spark, tmp_path):
    """Pre-pointer flat tables (parquet files directly in the root) are
    migrated to the versioned layout by their first compaction."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "legacy.parquet")
    (
        _batch(spark)
        .withColumn("snapshot_date", F.to_date("timestamp"))
        .write.partitionBy("snapshot_date")
        .parquet(path)
    )
    assert _pointer(Path(path)) is None
    before = _rows(spark, path)  # falls back to flat root

    n = compact_canonical(spark, path)
    assert n == 2
    assert _pointer(Path(path)) == ("v00000001", "parquet")
    assert _rows(spark, path) == before
    # legacy flat partition dirs are gone; only the version dir + pointer remain
    leftovers = [
        c.name
        for c in Path(path).iterdir()
        if not (c.name == "_VERSION" or c.name.startswith("v0"))
    ]
    assert leftovers == []


def test_time_travel_reads(spark, tmp_path):
    from sports_data_integration_and_forecasting_pipeline_spark.sinks import current_version

    path = str(tmp_path / "canonical.parquet")
    update_canonical_table(_batch(spark), path)
    v1_rows = _rows(spark, path)
    compact_canonical(spark, path)  # -> v2, v1 retained
    assert current_version(path) == 2
    old = [
        r.asDict()
        for r in read_canonical(spark, path, version=1)
        .orderBy("timestamp", "game_id")
        .collect()
    ]
    assert old == v1_rows

    compact_canonical(spark, path)  # -> v3, v1 pruned
    with pytest.raises(FileNotFoundError):
        read_canonical(spark, path, version=1)


def test_merge_canonical_upsert(spark, tmp_path):
    from sports_data_integration_and_forecasting_pipeline_spark.sinks import (
        current_version,
        merge_canonical,
    )

    path = str(tmp_path / "canonical.parquet")
    update_canonical_table(_batch(spark), path)  # g1@2.0, g2@1.9

    updates = spark.createDataFrame(
        [("2026-08-13T12:00:00", "g1", 2.5), ("2026-08-15T09:00:00", "g3", 3.0)],
        "timestamp string, game_id string, price double",
    )
    n = merge_canonical(spark, updates, path, key_cols=["game_id"])
    assert n == 3
    assert current_version(path) == 2

    got = {r["game_id"]: r["price"] for r in read_canonical(spark, path).collect()}
    assert got == {"g1": 2.5, "g2": 1.9, "g3": 3.0}  # g1 replaced, g3 new

    # pre-merge state still time-travel readable
    old = {
        r["game_id"]: r["price"]
        for r in read_canonical(spark, path, version=1).collect()
    }
    assert old == {"g1": 2.0, "g2": 1.9}


def test_schema_evolution_reader_across_versions(spark, tmp_path):
    """read_canonical_evolved presents an old version under the current
    schema: added columns become typed NULLs, a declared widen casts, an
    undeclared type change raises."""
    from sports_data_integration_and_forecasting_pipeline_spark.sinks import (
        read_canonical_evolved,
        write_canonical_version,
    )

    path = str(tmp_path / "evo.parquet")
    v1 = spark.createDataFrame([(1, 2.0), (2, 3.5)], "okey int, price double")
    v2 = spark.createDataFrame(
        [(3, 1.0, "HIGH")], "okey bigint, price double, priority string"
    )
    assert write_canonical_version(spark, path, v1) == 1
    assert write_canonical_version(spark, path, v2) == 2

    old = read_canonical_evolved(spark, path, version=1, cast_map={"okey": "bigint"})
    assert [f.dataType.simpleString() for f in old.schema.fields] == [
        "bigint", "double", "string",
    ]
    rows = sorted(old.collect(), key=lambda r: r["okey"])
    assert [(r["okey"], r["price"], r["priority"]) for r in rows] == [
        (1, 2.0, None), (2, 3.5, None),
    ]

    # current version needs no cast map and is unchanged
    cur = read_canonical_evolved(spark, path)
    assert cur.count() == 1

    # undeclared type change must fail loudly, never coerce silently
    with pytest.raises(ValueError, match="cast_map"):
        read_canonical_evolved(spark, path, version=1)


def test_recover_canonical_clears_wedged_unpointed_version(spark, tmp_path):
    """A committer that dies between the publish rename and the pointer
    flip strands a claimed-but-unpointed version dir that blocks every
    future commit; recover_canonical removes exactly that (plus staged
    debris), never the committed or retained versions."""
    from sports_data_integration_and_forecasting_pipeline_spark.sinks import (
        ConcurrentWriteError,
        recover_canonical,
    )

    path = str(tmp_path / "canonical.parquet")
    update_canonical_table(_batch(spark), path)
    before = _rows(spark, path)

    # simulate the wedge: published v2 (real rename target), pointer never flipped
    wedged = Path(path) / "v00000002"
    wedged.mkdir()
    (wedged / "part-stale.parquet").write_bytes(b"half-committed")
    (Path(path) / ".v00000003.staged.dead").mkdir()

    with pytest.raises(ConcurrentWriteError):
        compact_canonical(spark, path)

    removed = recover_canonical(path)
    assert set(removed) == {"v00000002", ".v00000003.staged.dead"}
    assert _pointer(Path(path)) == ("v00000001", "parquet")
    assert _rows(spark, path) == before

    # table commits again after recovery
    compact_canonical(spark, path)
    assert _pointer(Path(path)) == ("v00000002", "parquet")
    assert _rows(spark, path) == before


def test_save_snapshot_keeps_two_polls_in_one_second(spark, tmp_path):
    """Two snapshots written within the same wall-clock second both
    survive under their own names."""
    import time

    from sports_data_integration_and_forecasting_pipeline_spark.sinks import save_snapshot

    two, one = _batch(spark), _batch(spark).limit(1)
    for attempt in range(20):  # retry until both writes share one second
        out = tmp_path / str(attempt)
        time.sleep(1 - time.time() % 1)  # start at the top of a second
        t0 = time.time()
        first = save_snapshot(two, "h2h", out)
        second = save_snapshot(one, "h2h", out)
        if int(time.time()) == int(t0):
            break
    else:
        raise AssertionError("no two writes within one second")
    assert first != second
    assert sorted(p.name for p in out.iterdir()) == [Path(first).name, Path(second).name]
    assert spark.read.parquet(first).count() == 2
    assert spark.read.parquet(second).count() == 1


def test_save_snapshot_never_replaces_a_snapshot(spark, tmp_path, monkeypatch):
    """A snapshot name that is already taken raises; the snapshot on disk
    keeps its rows."""
    from datetime import datetime

    from pyspark.errors import AnalysisException

    from sports_data_integration_and_forecasting_pipeline_spark import sinks

    class _FrozenClock:
        @staticmethod
        def now():
            return datetime(2025, 1, 1, 12, 0, 0, 250_000)

    monkeypatch.setattr(sinks, "datetime", _FrozenClock)
    path = sinks.save_snapshot(_batch(spark), "h2h", tmp_path)
    assert Path(path).name == "odds_h2h_20250101_120000_250000.parquet"
    with pytest.raises(AnalysisException):
        sinks.save_snapshot(_batch(spark).limit(1), "h2h", tmp_path)
    assert spark.read.parquet(path).count() == 2
