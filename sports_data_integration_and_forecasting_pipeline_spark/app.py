"""One-call pipeline wrappers for the reference's application paths.

The reference's UIs compose the same few steps — fetch (or bundled
sample) → clean → best-price summary → arbitrage view (Streamlit
``web/app.py:22-71``, ipywidgets ``Sports-Pipeline-V2/widgets_ui.py``,
minimal ``src/interface.py:10-19``). A user porting any of them needs the
composition, not the widgets; this module exposes it as single calls
returning lazy DataFrames (render with ``.toPandas()`` in whatever UI).

Everything here delegates to already-oracle-checked operators — no new
query semantics, just the app-shaped entry points.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.markets import _best_with_margin
from .operators.odds import clean_odds
from .sources.odds_api import fetch_player_props
from .sources.readers import games_from_json_strings, read_odds_json

SAMPLE_DATA_PATH = Path(__file__).parent / "data" / "sample_odds.json"


def load_sample_games(spark: SparkSession, path: str | Path | None = None) -> DataFrame:
    """The bundled sample fixture as game rows (reference
    ``web/app.py:14-19`` ships the same two-game golden file)."""
    return read_odds_json(spark, str(path or SAMPLE_DATA_PATH))


def load_data(
    spark: SparkSession,
    market: str = "h2h",
    use_live: bool = False,
    api_key: str | None = None,
    sample_path: str | Path | None = None,
    **fetch_kwargs: Any,
) -> DataFrame:
    """Fetch-or-sample → clean, the app's ``_load_data`` one-call
    (reference ``web/app.py:22-33``): live fetch when requested, falling
    back to the bundled sample when the fetch can't run (no API key —
    the same ValueError contract as the reference), sample otherwise."""
    if use_live:
        try:
            raw = fetch_player_props(markets=market, api_key=api_key, **fetch_kwargs)
            games = games_from_json_strings(spark, json.dumps(raw))
        except ValueError:
            games = load_sample_games(spark, sample_path)
    else:
        games = load_sample_games(spark, sample_path)
    return clean_odds(games, market=market)


def app_summary(cleaned: DataFrame) -> DataFrame:
    """The dashboard's long-form summary table (reference
    ``web/app.py:36-71``): one row per (game, outcome) with the best price
    and book, plus the per-game arbitrage margin pct repeated on each of
    the game's rows (NULL when no two-outcome arb exists). Unlike
    ``detect_discrepancies`` this keeps games with ≠ 2 outcomes, exactly
    as the app table does.

    Scale: the argmax and the margin are two windows over one
    ``game_id`` shuffle, no join (``markets._best_with_margin``)."""
    return _best_with_margin(cleaned).select(
        "game_id",
        "home_team",
        "away_team",
        "outcome",
        F.col("price").alias("best_price"),
        F.col("bookmaker").alias("best_bookmaker"),
        F.col("arbitrage_margin").alias("arbitrage_margin_pct"),
    )


def arbitrage_view(summary: DataFrame) -> DataFrame:
    """The app's arbitrage metrics panel (reference ``web/app.py:100-110``):
    one row per game that has a detected edge."""
    return (
        summary.filter(F.col("arbitrage_margin_pct").isNotNull())
        .groupBy("game_id")
        .agg(
            F.first("home_team").alias("home_team"),
            F.first("away_team").alias("away_team"),
            F.first("arbitrage_margin_pct").alias("arbitrage_margin_pct"),
        )
    )


def run_app_pipeline(
    spark: SparkSession,
    market: str = "h2h",
    use_live: bool = False,
    api_key: str | None = None,
    sample_path: str | Path | None = None,
) -> dict[str, DataFrame]:
    """The full dashboard data flow in one call: the three tables the
    Streamlit app renders (reference ``web/app.py:74-117``), all lazy.

    Returns ``{"cleaned", "summary", "arbitrage"}``."""
    cleaned = load_data(
        spark, market=market, use_live=use_live, api_key=api_key,
        sample_path=sample_path,
    )
    summary = app_summary(cleaned)
    return {
        "cleaned": cleaned,
        "summary": summary,
        "arbitrage": arbitrage_view(summary),
    }


def observed_pipeline(
    cleaned: DataFrame,
) -> tuple[DataFrame, "Observation"]:
    """`app_summary` with inline data-quality metrics via `df.observe`:
    row count, null-price rows, and the price range are collected AS A
    SIDE EFFECT of whatever action the caller runs on the returned
    summary — zero extra scans, which is the only acceptable cost for a
    quality gate on a 100 TB input (a separate `.count()` pass would
    double the read). Read `observation.get` AFTER an action:

        summary, obs = observed_pipeline(cleaned)
        summary.write...   # any action
        metrics = obs.get  # {'n_rows': ..., 'null_prices': ..., ...}
    """
    from pyspark.sql import Observation

    obs = Observation("odds_quality")
    instrumented = cleaned.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("price").isNull(), 1).otherwise(0)
        ).alias("null_prices"),
        F.min("price").alias("min_price"),
        F.max("price").alias("max_price"),
    )
    return app_summary(instrumented), obs


def read_log_tail(
    log_path: str | Path = Path("logs") / "app.log",
    max_lines: int | None = None,
) -> str:
    """The app's log read-back view (reference
    ``Sports-Pipeline-V2/widgets_ui.py:64-70`` renders the same content in
    an ipywidgets Textarea — the widget is presentation, this is the data
    path). Returns the log file's content, optionally only the last
    ``max_lines`` lines; empty string when no log exists yet, matching the
    reference's missing-file behavior."""
    p = Path(log_path)
    if not p.exists():
        return ""
    content = p.read_text()
    if max_lines is None:
        return content
    if max_lines <= 0:  # lines[-0:] would return everything
        return ""
    lines = content.splitlines(keepends=True)
    return "".join(lines[-max_lines:])


# ---------------------------------------------------------------------------
# Render layer — the reference ships a Streamlit dashboard (web/app.py:
# 74-117) and an ipywidgets UI (Sports-Pipeline-V2/widgets_ui.py:73-127).
# Both are thin presentation over the three tables run_app_pipeline
# returns. The engine ships the same layer in two forms: a
# dependency-free text renderer (works everywhere, golden-tested), and a
# Streamlit adapter that renders the identical tables when streamlit is
# installed (import-gated — the library is presentation, not engine).
# ---------------------------------------------------------------------------


def render_dashboard_text(
    tables: dict[str, DataFrame] | None = None,
    spark: SparkSession | None = None,
    max_rows: int = 50,
) -> str:
    """The dashboard as formatted text: the summary table (best price +
    book per outcome, arbitrage margin) and the arbitrage panel —
    the same sections the reference's Streamlit page lays out
    (``web/app.py:74-117``). Pass the ``run_app_pipeline`` dict, or a
    SparkSession to run the sample pipeline. Collects at most
    ``max_rows`` per section (render is a driver-side act; the lazy
    tables stay usable for full-scale sinks)."""
    if tables is None:
        if spark is None:
            raise ValueError("pass `tables` or `spark`")
        tables = run_app_pipeline(spark)
    sections = []
    for title, key in [
        ("Best odds summary", "summary"),
        ("Arbitrage opportunities", "arbitrage"),
    ]:
        pdf = tables[key].limit(max_rows).toPandas()
        body = pdf.to_string(index=False) if len(pdf) else "(none found)"
        sections.append(f"== {title} ==\n{body}")
    return "\n\n".join(sections)


def streamlit_app(
    spark: SparkSession | None = None,
    tables: dict[str, DataFrame] | None = None,
    max_rows: int = 500,
) -> None:
    """Streamlit page rendering the same three tables (reference
    ``web/app.py:74-117`` parity: title, summary dataframe, arbitrage
    metrics). Streamlit itself is presentation-only and import-gated —
    run with ``streamlit run`` in an environment that has it:

        import sports_data_integration_and_forecasting_pipeline_spark as eng
        eng.streamlit_app(spark)
    """
    try:
        import streamlit as st
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise ImportError(
            "streamlit is not installed; use render_dashboard_text() for "
            "the dependency-free render of the same tables"
        ) from exc
    if tables is None:
        if spark is None:
            raise ValueError("pass `tables` or `spark`")
        tables = run_app_pipeline(spark)
    st.title("Odds Dashboard")
    st.subheader("Best odds summary")
    # limit() before collecting: render is a driver-side act and must
    # never pull a production-sized table whole (same cap discipline as
    # render_dashboard_text)
    st.dataframe(tables["summary"].limit(max_rows).toPandas())
    st.subheader("Arbitrage opportunities")
    arbs = tables["arbitrage"].limit(max_rows).toPandas()
    if len(arbs):
        for _, row in arbs.iterrows():
            st.metric(
                f"{row['home_team']} vs {row['away_team']}",
                f"{row['arbitrage_margin_pct']}%",
            )
    else:
        st.write("No arbitrage found")


def render_prediction_explorer_text(
    predictions: DataFrame,
    entity_col: str = "player",
    prob_col: str = "prob",
    entity: str | None = None,
    max_rows: int = 50,
) -> str:
    """The prediction-explorer view as text (reference
    ``src/interface.py:10-19`` parity: pick one entity from the distinct
    list, show its rows, chart its probabilities). ``entity=None``
    selects the first distinct entity in sorted order — the
    deterministic stand-in for the selectbox default. The bar chart is
    ASCII (40-column scale) so the render has zero dependencies; the
    Streamlit twin below draws the real one. Driver-side caps: the
    entity list collects at most 1000 values, the view at most
    ``max_rows`` rows — render never pulls a production-sized table."""
    ents = [
        r[0]
        for r in predictions.select(entity_col)
        .distinct()
        .orderBy(entity_col)
        .limit(1000)
        .collect()
    ]
    if not ents:
        # empty input: short-circuit rather than rendering a
        # "player: None (0 available)" header over a filter on NULL
        return f"(no {entity_col} entities)"
    if entity is None:
        entity = ents[0]
    filtered = (
        predictions.filter(F.col(entity_col) == F.lit(entity))
        .limit(max_rows)
        .toPandas()
    )
    header = f"== {entity_col}: {entity} ({len(ents)} available) =="
    if entity not in ents and not len(filtered):
        # caller asked for an entity absent from the data — say so
        # instead of silently echoing it over an empty table
        header += " [not found in data]"
    lines = [
        header,
        filtered.to_string(index=False) if len(filtered) else "(no rows)",
        "",
        f"== {prob_col} ==",
    ]
    for _, row in filtered.iterrows():
        p = float(row[prob_col])
        n = max(0, min(40, int(round(p * 40))))
        lines.append(f"{str(row[entity_col])[:20]:20s} {'#' * n} {p:.3f}")
    return "\n".join(lines)


def streamlit_prediction_explorer(
    predictions: DataFrame,
    entity_col: str = "player",
    prob_col: str = "prob",
    max_rows: int = 500,
) -> None:
    """Streamlit twin of :func:`render_prediction_explorer_text`
    (reference ``src/interface.py`` parity: title, selectbox over
    distinct entities, filtered dataframe, probability bar chart).
    Import-gated like :func:`streamlit_app`."""
    try:
        import streamlit as st
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise ImportError(
            "streamlit is not installed; use "
            "render_prediction_explorer_text() for the dependency-free "
            "render of the same view"
        ) from exc
    ents = [
        r[0]
        for r in predictions.select(entity_col)
        .distinct()
        .orderBy(entity_col)
        .limit(1000)
        .collect()
    ]
    st.title("Model vs. Market")
    choice = st.selectbox(f"Choose a {entity_col}:", ents)
    filtered = (
        predictions.filter(F.col(entity_col) == F.lit(choice))
        .limit(max_rows)
        .toPandas()
    )
    st.dataframe(filtered)
    st.bar_chart(filtered[[prob_col]])


def ipywidgets_dashboard(
    spark: SparkSession | None = None,
    tables: dict[str, DataFrame] | None = None,
    max_rows: int = 500,
):
    """ipywidgets UI over the same tables (reference
    ``Sports-Pipeline-V2/widgets_ui.py:73-127`` parity: an output area
    showing the summary table and the arbitrage rows, plus the log
    tail). Import-gated like :func:`streamlit_app` — returns the root
    widget for notebook display."""
    try:
        import ipywidgets as widgets
        from IPython.display import display
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise ImportError(
            "ipywidgets is not installed; use render_dashboard_text() for "
            "the dependency-free render of the same tables"
        ) from exc
    if tables is None:
        if spark is None:
            raise ValueError("pass `tables` or `spark`")
        tables = run_app_pipeline(spark)
    out = widgets.Output()
    with out:
        # same driver-side row cap as the other renderers
        display(tables["summary"].limit(max_rows).toPandas())
        display(tables["arbitrage"].limit(max_rows).toPandas())
    log_area = widgets.Textarea(
        value=read_log_tail(), description="log", disabled=True
    )
    return widgets.VBox([out, log_area])
