"""Sinks (SURVEY §2.1 S5-S7): snapshot, canonical append, reports.

The reference's canonical table is read-whole + concat + rewrite-whole CSV
(``src/ingestion.py:132-142``) — O(table) per append. Parquet
``mode("append")`` reaches the same table contents with O(batch) work and
is safe for concurrent readers; partitioning by snapshot date keeps 100 TB
of history prunable.
"""

from __future__ import annotations

import errno
import os
import re
import shutil
import uuid
from datetime import datetime
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def save_snapshot(
    df: DataFrame, markets: str, out_dir: str | Path = "data", fmt: str = "parquet"
) -> str:
    """S5 timestamped snapshot write (reference ``src/ingestion.py:121-130``
    wrote ``odds_{markets}_{ts}.csv``); parquet by default, CSV for parity.

    The name carries the time to the microsecond
    (``odds_{markets}_YYYYmmdd_HHMMSS_ffffff``), so two polls in the same
    second get two snapshots and names sort in write order. The write
    never replaces an existing snapshot: a name that is already taken
    raises instead."""
    stamp = datetime.now().strftime("%Y%m%d_%H%M%S_%f")
    path = str(Path(out_dir) / f"odds_{markets}_{stamp}.{fmt}")
    _write(df.write.mode("errorifexists"), path, fmt)
    return path


def _write(writer, path: str, fmt: str) -> None:
    """Finish ``writer`` at ``path`` in ``fmt``: CSV with a header row (the
    reference's format) or parquet."""
    if fmt == "csv":
        writer.option("header", "true").csv(path)
    else:
        writer.parquet(path)


def _read(spark, path: str, fmt: str) -> DataFrame:
    """Read what :func:`_write` wrote at ``path`` in ``fmt``."""
    if fmt == "csv":
        return spark.read.option("header", "true").csv(path)
    return spark.read.parquet(path)


_VERSION_FILE = "_VERSION"


def _pointer(root) -> tuple[str, str] | None:
    """Read the manifest pointer: (version_dir_name, format), or None for a
    legacy flat table / empty root."""
    p = root / _VERSION_FILE
    if not p.exists():
        return None
    lines = p.read_text().split()
    return lines[0], (lines[1] if len(lines) > 1 else "parquet")


def _write_pointer(root, version: str, fmt: str) -> None:
    """Atomic pointer flip: write aside, then one ``os.replace`` — a single
    atomic operation on POSIX, and the direct analogue of a single
    small-object PUT on an object store (where the pointer object IS the
    manifest). Readers resolve the pointer once, then read an immutable
    version directory — they see the old or the new complete table, never
    a mix, and there is no window where the table doesn't exist."""

    tmp = root / f".{_VERSION_FILE}.tmp.{uuid.uuid4().hex[:8]}"
    tmp.write_text(f"{version}\n{fmt}\n")
    os.replace(tmp, root / _VERSION_FILE)


class ConcurrentWriteError(RuntimeError):
    """Raised when a version commit detects a competing writer."""


def _publish_version(root, staged, next_name: str) -> None:
    """Atomically claim the version name: ``os.rename(staged -> vNNNNNNNN)``
    is one atomic directory rename that FAILS (ENOTEMPTY/EEXIST) if a
    competing committer already published the same version — the second
    writer can't silently overwrite the first's files. Only those two
    errnos are classified as a race (loser's staged dir removed,
    :class:`ConcurrentWriteError` raised); any other rename failure
    (EACCES, EIO, ENOSPC…) re-raises untouched WITH the staged data kept
    — a transient fault must not destroy a fully-written version."""

    target = root / next_name
    try:
        os.rename(staged, target)
    except OSError as exc:
        if exc.errno not in (errno.ENOTEMPTY, errno.EEXIST):
            raise
        shutil.rmtree(str(staged), ignore_errors=True)
        raise ConcurrentWriteError(
            f"version directory {next_name} already exists under {root}; "
            "a concurrent writer committed first (or a previous committer "
            "crashed between publish and pointer flip — run "
            "recover_canonical() to clear an unpointed version) — re-read "
            "the table and retry"
        ) from exc


def recover_canonical(canonical_path: str) -> list[str]:
    """Crash recovery for the versioned table: remove version directories
    NEWER than the committed pointer (a committer that died between the
    publish rename and the pointer flip strands exactly such a dir, and
    its name blocks every future commit) plus any staged debris. NEVER
    touches the pointed-to version or older retained versions.

    Deliberately a separate, explicit call rather than automatic
    reclamation inside the commit path: an unpointed version dir is
    indistinguishable from a LIVE competing committer microseconds from
    its pointer flip, so only an operator who knows no writer is running
    (the documented single-writer contract) may reclaim it. Returns the
    removed directory names."""

    root = Path(canonical_path)
    ptr = _pointer(root)
    cur = int(ptr[0][1:]) if ptr else 0
    removed = []
    for child in sorted(root.iterdir()):
        if child.is_dir() and re.fullmatch(r"v\d{8}", child.name):
            if int(child.name[1:]) > cur:
                shutil.rmtree(str(child), ignore_errors=True)
                removed.append(child.name)
        elif child.is_dir() and ".staged." in child.name:
            shutil.rmtree(str(child), ignore_errors=True)
            removed.append(child.name)
    return removed


def _prune_staged_debris(root) -> None:
    """Remove staging directories stranded by crashed committers. Called
    after a successful publish, at which point any remaining staged dir is
    either debris or a competitor that will fail loudly at its own
    publish/flip (single-writer is the documented deployment contract)."""

    for child in root.iterdir():
        if child.is_dir() and ".staged." in child.name and child.name.startswith("."):
            shutil.rmtree(str(child), ignore_errors=True)


def _commit_version(root, base_version: str | None, next_name: str, fmt: str) -> None:
    """Conditional pointer flip: verify the pointer still names the base
    version this commit was computed against, then flip. Together with
    :func:`_publish_version` this turns lost-update races into loud
    failures. The check-then-replace pair is not itself atomic — true
    multi-writer mutual exclusion needs an external lock service (the same
    contract Delta documents for S3); single-writer-per-table remains the
    deployment assumption, and this guard converts violations of it from
    silent data loss into a raised :class:`ConcurrentWriteError`."""
    cur = _pointer(root)
    cur_name = cur[0] if cur else None
    if cur_name != base_version:
        raise ConcurrentWriteError(
            f"canonical table at {root} moved from {base_version!r} to "
            f"{cur_name!r} during commit; recompute against the new version"
        )
    _write_pointer(root, next_name, fmt)


def _commit_next(root, base: tuple[str, str] | None, writer, fmt: str) -> int:
    """Commit ``writer``'s output as the version after ``base``, the
    pointer the caller read before computing it: staged write → atomic
    rename claim (:func:`_publish_version`) → conditional pointer flip
    against ``base`` (:func:`_commit_version`). Returns the committed
    version number.

    The staging directory is invisible (dot-prefixed, so skipped by Spark
    readers) and unique per attempt: a writer that dies mid-write strands
    only staged debris — never a visible half-baked version."""

    version = (int(base[0][1:]) if base else 0) + 1
    next_name = f"v{version:08d}"
    staged = root / f".{next_name}.staged.{uuid.uuid4().hex[:8]}"
    _write(writer, str(staged), fmt)
    _publish_version(root, staged, next_name)
    _commit_version(root, base[0] if base else None, next_name, fmt)
    return version


def _data_dir(root) -> tuple[str, str]:
    """(absolute data path, fmt) for the current version — the versioned
    dir when a pointer exists, else the legacy flat root."""
    ptr = _pointer(root)
    if ptr is None:
        return str(root), "parquet"
    return str(root / ptr[0]), ptr[1]


def read_canonical(
    spark,
    canonical_path: str = "data/odds_canonical.parquet",
    version: int | None = None,
) -> DataFrame:
    """Read the canonical table at its current version (pointer-resolved),
    or time-travel to an earlier retained ``version`` number — version
    directories are immutable, so any still-retained version reads
    exactly as it was committed (``retain_previous`` on
    :func:`compact_canonical` controls how many stay)."""

    root = Path(canonical_path)
    if version is None:
        path, fmt = _data_dir(root)
    else:
        ptr = _pointer(root)
        fmt = ptr[1] if ptr else "parquet"
        vdir = root / f"v{version:08d}"
        if not vdir.exists():
            raise FileNotFoundError(
                f"version {version} of {canonical_path} is not retained "
                "(pruned by compaction or never written)"
            )
        path = str(vdir)
    return _read(spark, path, fmt)


def write_canonical_version(
    spark,
    canonical_path: str,
    df: DataFrame,
    fmt: str = "parquet",
    partition_col: str | None = None,
) -> int:
    """Commit ``df`` as the table's next version (staged write → atomic
    rename claim → conditional pointer flip, same protocol as
    compaction). The new version's schema is whatever ``df`` carries —
    this is the writer half of schema evolution; superseded versions keep
    their original schema and stay readable via
    :func:`read_canonical_evolved`. Returns the committed version number."""

    root = Path(canonical_path)
    root.mkdir(parents=True, exist_ok=True)
    writer = df.write.mode("overwrite")
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    return _commit_next(root, _pointer(root), writer, fmt)


def read_canonical_evolved(
    spark,
    canonical_path: str,
    version: int | None = None,
    cast_map: dict[str, str] | None = None,
) -> DataFrame:
    """Read any retained ``version`` under the CURRENT version's schema —
    the schema-evolution reader for the versioned canonical table:

    - columns the current schema added after ``version`` surface as
      typed NULLs,
    - columns whose type changed (e.g. int widened to bigint) are cast,
      but ONLY when ``cast_map`` explicitly declares the target type —
      an undeclared type change raises instead of silently coercing
      (a lossy narrow must never be implicit),
    - columns the current schema dropped are omitted.

    With ``version=None`` this is just the current table (cast_map still
    applied, so a reader can pin one schema across a fleet of mixed-age
    tables)."""

    current = read_canonical(spark, canonical_path)
    target = current.schema
    df = (
        current
        if version is None or version == current_version(canonical_path)
        else read_canonical(spark, canonical_path, version)
    )
    old_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    cast_map = cast_map or {}
    cols = []
    for f in target.fields:
        tgt_type = cast_map.get(f.name, f.dataType.simpleString())
        if f.name not in old_types:
            cols.append(F.lit(None).cast(tgt_type).alias(f.name))
            continue
        if old_types[f.name] != f.dataType.simpleString() and f.name not in cast_map:
            raise ValueError(
                f"column {f.name!r} changed type across versions "
                f"({old_types[f.name]} -> {f.dataType.simpleString()}); "
                "declare the conversion in cast_map to read across the change"
            )
        cols.append(F.col(f.name).cast(tgt_type).alias(f.name))
    return df.select(*cols)


def current_version(canonical_path: str) -> int | None:
    """The committed version number of a canonical table (None for a
    legacy flat table)."""

    ptr = _pointer(Path(canonical_path))
    return int(ptr[0][1:]) if ptr else None


def merge_canonical(
    spark,
    updates: DataFrame,
    canonical_path: str,
    key_cols: list[str],
    partition_col: str = "snapshot_date",
) -> int:
    """Copy-on-write MERGE (upsert): rows in ``updates`` replace
    current rows with the same key; new keys append. The merged table is
    written as the NEXT immutable version and committed with the same
    atomic pointer flip as compaction — readers see the pre-merge or
    post-merge table, never a mix, and the pre-merge version stays
    readable via :func:`read_canonical`'s time travel until pruned.

    The merge itself is one left-anti join (current minus updated keys)
    + union — both sides distributed, no driver-side state. At 100 TB
    the anti-join shuffles on the merge key; partition-pruned rewrites
    (only touched ``partition_col`` values) are the next refinement, as
    in Delta's dynamic partition overwrite. Returns rows in the merged
    table.
    """


    root = Path(canonical_path)
    ptr = _pointer(root)
    cur_dir, fmt = _data_dir(root)
    current = _read(spark, cur_dir, fmt)
    up = updates
    if partition_col not in up.columns and "timestamp" in up.columns:
        up = up.withColumn(partition_col, F.to_date(F.col("timestamp")))
    up = up.select(*current.columns)  # align column order/set
    merged = current.join(up.select(*key_cols), key_cols, "left_anti").unionByName(up)

    n = merged.count()
    writer = (
        merged.repartition(F.col(partition_col))
        .write.mode("overwrite")
        .partitionBy(partition_col)
    )
    _commit_next(root, ptr, writer, fmt)
    return n


def update_canonical_table(
    df: DataFrame,
    canonical_path: str = "data/odds_canonical.parquet",
    fmt: str = "parquet",
) -> str:
    """S6 canonical append (reference ``src/ingestion.py:132-142``).

    Appends the batch partitioned by snapshot date so historical replays
    prune by date; the reference's read+concat+rewrite becomes a pure
    append. ``fmt="csv"`` matches the reference's CSV canonical table
    (cosmetic parity; parquet is the scale default).

    Layout: the first write creates ``v00000001/`` plus a ``_VERSION``
    manifest pointer; appends land in the current version directory.
    Compaction writes the next version and flips the pointer atomically
    (see :func:`compact_canonical`).
    """

    root = Path(canonical_path)
    ptr = _pointer(root)
    if ptr is None and not root.exists():
        root.mkdir(parents=True, exist_ok=True)
        _write_pointer(root, "v00000001", fmt)
        ptr = ("v00000001", fmt)
    path, cur_fmt = _data_dir(root)
    out = (
        df.withColumn("snapshot_date", F.to_date(F.col("timestamp")))
        .write.mode("append")
        .partitionBy("snapshot_date")
    )
    _write(out, path, cur_fmt)
    return canonical_path


def compact_canonical(
    spark,
    canonical_path: str,
    target_files_per_partition: int = 1,
    partition_col: str = "snapshot_date",
    retain_previous: int = 1,
) -> int:
    """Small-file compaction for the canonical append table.

    Every streaming/batch append adds files; at 100 TB the canonical
    history degrades into millions of tiny parquet files whose open/footer
    overhead dominates scans. Compaction rewrites each date partition into
    at most ``target_files_per_partition`` right-sized files under a NEW
    immutable version directory, then flips the ``_VERSION`` manifest
    pointer in one atomic ``os.replace`` (one small-object PUT on an
    object store) — the catalog-swap pattern Delta/Iceberg use, with no
    directory renames at all, so it works where renames are copies and
    crashes mid-compaction leave the current version untouched.

    ``retain_previous`` superseded versions are kept for in-flight readers
    (their file lists stay valid); older ones are pruned. Legacy flat
    tables (no pointer) are migrated to the versioned layout on first
    compaction. Returns the number of rows compacted.
    """

    root = Path(canonical_path)
    ptr = _pointer(root)
    cur_dir, fmt = _data_dir(root)
    df = _read(spark, cur_dir, fmt)
    n = df.count()

    if target_files_per_partition > 1:
        # salt on a hash of the non-partition columns: up to n files per
        # date dir, co-located rows stay together. (Hash collisions can
        # merge salts — 'target' is an upper bound, which is the point.)
        # The explicit partition count keeps AQE from coalescing the salted
        # partitions back into one file.
        n_parts = df.select(partition_col).distinct().count()
        salt = F.pmod(
            F.xxhash64(*[c for c in df.columns if c != partition_col]),
            F.lit(target_files_per_partition),
        )
        compacted = df.repartition(
            max(1, n_parts) * target_files_per_partition,
            F.col(partition_col),
            salt,
        )
    else:
        compacted = df.repartition(F.col(partition_col))
    writer = compacted.write.mode("overwrite").partitionBy(partition_col)
    _commit_next(root, ptr, writer, fmt)
    _prune_staged_debris(root)

    if ptr is None:
        # legacy flat layout: data files lived in the root; remove them now
        # that the pointer owns the table (one-time migration, documented
        # as non-atomic for pre-pointer readers only).
        for child in root.iterdir():
            if child.name.startswith(("v", "_", ".")) and re.fullmatch(
                r"v\d{8}", child.name
            ):
                continue
            if child.name == _VERSION_FILE:
                continue
            if child.is_dir():
                shutil.rmtree(child, ignore_errors=True)
            elif not child.name.startswith("._VERSION"):
                child.unlink(missing_ok=True)
    else:
        # prune versions older than the retained window
        versions = sorted(
            c.name for c in root.iterdir() if re.fullmatch(r"v\d{8}", c.name)
        )
        keep = set(versions[-(retain_previous + 1):])
        for v in versions:
            if v not in keep:
                shutil.rmtree(root / v, ignore_errors=True)
    return n


def export_report(df: DataFrame, path: str, fmt: str = "csv") -> str:
    """S7 report export (reference ``widgets_ui.py:119-121``, notebook
    cell 6)."""
    _write(df.coalesce(1).write.mode("overwrite"), path, fmt)
    return path
