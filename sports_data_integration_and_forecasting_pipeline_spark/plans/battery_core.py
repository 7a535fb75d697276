"""The correctness battery (SURVEY §5.2 tier-2): every operator family
from SURVEY §2 exercised as a query over the driver's testdata tables,
each paired with an ANSI-SQL oracle DuckDB runs on the same parquet.

Float-parity discipline
-----------------------
Derived float columns are rounded with an *engine-identical* primitive:
``floor(x * 10^n + 0.5) / 10^n``. Unlike ``ROUND`` — whose tie semantics
differ between Spark (BigDecimal HALF_UP on the shortest decimal repr) and
DuckDB (C++ half-away-from-zero on the binary value) — floor/mul/div are
exact IEEE-754 ops both engines execute bit-identically, so rounded values
hash-match (SURVEY §7.5-1). Raw columns pass through unrounded.

Determinism discipline
----------------------
Every argmax/top-k pins a total order (value, then key) so results are
scan-order-independent (SURVEY §7.5-2). Aggregation output order is
irrelevant (the driver's value-hash is order-insensitive).

Scale notes are inline per query: each plan is written to survive a
1000-executor / 100 TB input (single shuffle where one suffices, map-side
partial aggregation, broadcastable build sides, no driver-side loops).

Degenerate-input discipline (arrival convention since r12)
----------------------------------------------------------
An audit operator must DEGRADE, never crash, on one-sided input: any
entry that divides by a class/group/partition count arrives WITH the
one-sided/empty-class case pinned in its property tests (NULL or a
defined sentinel, mirrored in the oracle), not acquired later from a
probe. Precedent: `rank_sum_auc` hit DIVIDE_BY_ZERO when an sf1 replica
vocabulary pushed every doc past the perplexity cut (n_pos=0) — the
class of bug this convention exists to catch at arrival (VERDICT r11
task 6).
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


# --- testdata schema self-check --------------------------------------------
# The driver regenerates testdata between rounds and has changed the time
# columns' physical type before (TIMESTAMP(NANOS) -> timestamp[us] in
# round 4, which surfaced as a DATATYPE_MISMATCH hours into the round).
# Probe the three time columns ONCE per (sf_dir, table) — a parquet
# footer read, no data scan — and fail loudly in one obvious place with
# the conversion idioms named, instead of letting 100 battery entries
# each discover it their own way.

_TIME_COLS = {"events": "ts", "orders": "o_orderdate", "lineitem": "l_shipdate"}
_TIME_OK_TYPES = {"timestamp_ntz", "timestamp"}
_SCHEMA_PROBED: set[tuple[str, str]] = set()


def _probe_time_schema(df: DataFrame, sf_dir: str, name: str) -> None:
    key = (sf_dir, name)
    if key in _SCHEMA_PROBED:
        return
    col = _TIME_COLS[name]
    field = {f.name: f for f in df.schema.fields}.get(col)
    if field is None:
        raise TypeError(
            f"testdata schema drift: {name}.{col} at {sf_dir} is MISSING "
            f"(columns: {df.columns}). The driver likely regenerated the "
            "parquet with the time column renamed or dropped — adapt "
            "_TIME_COLS and the epoch helpers in ONE place here rather "
            "than per-entry."
        )
    got = field.dataType.typeName()
    if got not in _TIME_OK_TYPES:
        raise TypeError(
            f"testdata schema drift: {name}.{col} at {sf_dir} reads as "
            f"Spark type '{got}', expected timestamp_ntz/timestamp. The "
            "driver likely regenerated the parquet with a new physical "
            "time type (it moved TIMESTAMP(NANOS) -> timestamp[us] in "
            "round 4). Battery epoch math assumes NTZ wall clocks: "
            "Spark `timestamp_diff('MICROSECOND', NTZ epoch literal, c)` "
            "== DuckDB `epoch_us(ts)` (see _epoch_us/_fdiv/_epoch_s). "
            "If the type is 'long', the session's "
            "spark.sql.legacy.parquet.nanosAsLong flag is mapping "
            "TIMESTAMP(NANOS) to nanos-since-epoch bigints — adapt the "
            "helpers in ONE place here rather than per-entry."
        )
    _SCHEMA_PROBED.add(key)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in _TIME_COLS:
        _probe_time_schema(df, sf_dir, name)
    return df


def _r(col: Column, n: int) -> Column:
    """Engine-identical rounding: floor(x*10^n + 0.5) / 10^n (see module
    docstring). Exact for |x|*10^n < 2^53."""
    scale = float(10**n)
    return F.floor(col.cast("double") * scale + 0.5) / scale


def _sql_r(expr: str, n: int) -> str:
    scale = float(10**n)
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


def _cents(col: Column) -> Column:
    """Exact integer cents: floor(x*100 + 0.5) as bigint. Summing these is
    associative/exact, so aggregate results are identical across engines
    and partition orders (unlike double sums)."""
    return F.floor(col.cast("double") * 100.0 + 0.5).cast("bigint")


# --- event-time helpers ----------------------------------------------------
# events.ts / orders.o_orderdate / lineitem.l_shipdate are parquet
# timestamp[us] columns (Spark reads TIMESTAMP_NTZ, DuckDB reads
# TIMESTAMP — both tz-naive wall clocks). Epoch math therefore derives
# microseconds as the wall-clock diff from the NTZ epoch literal, which is
# session-timezone-independent and bit-identical to DuckDB's epoch_us(ts).


def _epoch_us(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "MICROSECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), c
    )


def _fdiv(col: Column, n: int) -> Column:
    """Exact TRUNCATING division for bigint columns — the semantics
    DuckDB's integer ``//`` actually has: ``(-500000) // 1000000 = 0``
    (toward zero), verified empirically on the pinned DuckDB 1.0.0. Do
    NOT import Python's floor-``//`` intuition here: a pmod-based floor
    form was tried in round 5 and diverges from the oracle on any
    pre-1970 (negative-epoch) timestamp. ``(c - c % n) / n`` with
    Spark's dividend-signed ``%`` truncates toward zero identically.
    Exact while |c| < 2^53 (the double division is then exact, same
    discipline as _r/_cents)."""
    c = col.cast("long")
    return ((c - c % F.lit(n)) / F.lit(n)).cast("long")


def _fdiv_col(col: Column, div: Column) -> Column:
    """:func:`_fdiv` for a COLUMN divisor (e.g. an exact integer mean =
    sum DIV count): the same ``(c - c % n) / n`` truncate-toward-zero
    identity and the same exactness window (|c| < 2^53)."""
    c = col.cast("long")
    return ((c - c % div) / div).cast("long")


def _epoch_s(col: Column | str) -> Column:
    """Floor epoch seconds of a TIMESTAMP_NTZ column — matches DuckDB's
    epoch_us(ts) // 1000000."""
    return _fdiv(_epoch_us(col), 1_000_000)


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => driver runs rows-only check
    survey_ref: str  # operator ids from SURVEY §2
    description: str


QUERIES: dict[str, QuerySpec] = {}


def _register(name: str, oracle: str | None, survey_ref: str, description: str):
    def deco(fn):
        QUERIES[name] = QuerySpec(fn, oracle, survey_ref, description)
        return fn

    return deco


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql_map() -> dict[str, str]:
    return {n: s.oracle for n, s in QUERIES.items() if s.oracle is not None}


# --- hoisted by the r14 split: cross-family pair-join guards the
# monolith defined mid-file (late-bound there, a forward reference
# across modules) -------------------------------------------------
# Pair-join heavy-key guard: the self-join pair enumerators (Theil-Sen,
# U-shaped attribution) are bounded by PER-KEY row counts — O(Σ nᵢ²),
# linear in total rows only while every nᵢ stays small. The testdata
# keeps nᵢ ≈ 67-99 across SFs, but that was an UNENFORCED contract: a
# pathological key with 10⁶ rows means 5·10¹¹ pairs, a silent
# scale-killer. This guard makes the contract fail-loudly (the same
# style as the streaming late-drop watermark precondition): one cheap
# map-side-combined count-per-key aggregate + a 1-row max read before
# the join; past the bound the entry raises with the fix (repeated-
# median / per-key sampling) named, instead of launching the blowup.
_PAIR_JOIN_MAX_GROUP = 10_000  # 5·10⁷ pairs for one key — the loud ceiling


# Two-sided pair joins (clicks × purchases) bound the per-key PRODUCT
# directly against the same 5·10⁷ ceiling — bounding each side at
# _PAIR_JOIN_MAX_GROUP alone would still admit 10⁸ pairs for one key.
_PAIR_JOIN_MAX_PAIRS = 50_000_000


def _assert_bounded_group(
    df: DataFrame, key_cols: str | list[str], entry: str
) -> None:
    """Raise unless every ``key_cols`` group in ``df`` has ≤
    ``_PAIR_JOIN_MAX_GROUP`` rows.

    EAGER by design (r6 ADVICE note): this runs a real Spark job — one
    map-side-combined count-per-key aggregate + a 1-row max read — at
    ENTRY-CONSTRUCTION time, so building the guarded entries' plans
    (explain snapshots, plan-shape tests, ``queries()[name](...)``
    without an action) scans the input once. That is the point: the
    check must complete BEFORE the O(n²) pair join is even in a plan a
    caller could execute. The extra scan is a counted aggregate
    (seconds at any SF the driver runs); folding the check into the
    lazy plan (an assert_true column) was considered and rejected —
    Catalyst may prune an unused assert column, and the failure would
    surface mid-job as a SparkException instead of this named,
    actionable error.

    ``key_cols`` may be a composite key for callers whose groups are
    keyed by more than one column. (The attribution entry does NOT use
    this helper: its pair count is a two-sided product n_clicks ×
    n_purchases per user, which it bounds directly against
    ``_PAIR_JOIN_MAX_PAIRS`` — see ``multi_touch_attribution``.)
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    hi = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    if hi is not None and hi > _PAIR_JOIN_MAX_GROUP:
        key_desc = ", ".join(keys)
        raise AssertionError(
            f"{entry} pair-join precondition violated: heaviest "
            f"({key_desc}) group has {hi} rows (bound "
            f"{_PAIR_JOIN_MAX_GROUP}) — the per-key pair join would "
            f"enumerate ~{hi * (hi - 1) // 2:,} pairs for that key. "
            "Cap per-key rows upstream (sample), or switch to the "
            "banded repeated-median variant (theil_sen_banded: O(n*K) "
            "pairs per key) instead of letting the O(n²) blowup launch."
        )
