"""The reference-equivalent end-to-end pipeline, composed from the
operator library and parameterized by schema/config.

Mirrors SURVEY.md §3.1 / reference code/experiment.py flow:

  clean results + events (rename, cast, date-parse, range-filter,
  entity-name normalization via literal map + regex fallback)
  → aggregate events per (game, season, team)        [§2.5]
  → inner 3-key equi-join results ⋈ aggregates       [§2.6]
  → leakage-free window features: game number, expanding season-to-
    date averages (frame unboundedPreceding..-1), last-N sliding
    averages (frame -N..-1)                          [§2.7]
  → per-column league-average defaults (coalesce)    [fill_default]
  → home ⋈ away self-join into matchups + differential features
  → temporal train/test split on max season

The pipeline is generic: any (results-like, events-like) pair of
DataFrames with the column roles declared in PipelineConfig works —
the hockey CSVs of the reference are one instantiation (tests build
reference-shaped fixtures per FIXTURES.md §A).

Scale notes (100 TB): events should land partitioned by season so the
3-key join prunes; the window partitions are (team, season) — bounded
(~82 rows) regardless of total data size; the only wide shuffles are
the event aggregation and the join, both on the same (game, season,
team) key, which Catalyst/AQE plans as one exchange reused twice.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark.functions.literals import literal_map
from bigdatafinalproject_hockey_spark.operators import (
    aggregates as agg_ops,
    joins as join_ops,
    sampling as sample_ops,
    scalar as scalar_ops,
    strings as string_ops,
    windows as win_ops,
)


@dataclass
class PipelineConfig:
    """Column roles + knobs for the reference-shaped pipeline."""

    # keys
    game_col: str = "GameID"
    season_col: str = "Season"
    team_col: str = "TeamCode"
    date_col: str = "Date"
    home_col: str = "Is_Home"
    # raw entity-name columns before normalization
    results_team_raw: str = "Ev_Team"
    events_team_raw: str = "EventTeam"
    # entity-name → code mapping (literal map + regex fallback,
    # reference code/experiment.py:58-246, 305-316)
    team_map: dict[str, str] = field(default_factory=dict)
    # event measures: sums and averages per (game, season, team)
    # (reference code/experiment.py:359-366)
    event_sum_cols: tuple[str, ...] = ("Corsi", "Fenwick", "Shot", "Goal")
    event_avg_cols: tuple[str, ...] = ("ShotDistance", "ShotAngle")
    # results measures carried into windows
    result_feature_cols: tuple[str, ...] = ("Goal", "Win", "Points", "xG")
    # range filters (reference code/experiment.py:301-302)
    min_season: int | None = None
    min_game: int | None = None
    # window lookback for "recent form" (reference: 5)
    lookback: int = 5
    # per-feature default values for empty frames
    # (reference code/experiment.py:476-494)
    feature_defaults: dict[str, float] = field(default_factory=dict)
    date_format: str = "M/d/yyyy"


def _team_code_expr(cfg: PipelineConfig, raw: str) -> F.Column:
    """Literal-map lookup with whitespace-normalize + strip-charset
    fallback (reference code/experiment.py:305-316)."""
    norm = string_ops.normalize_ws_expr(F.col(raw))
    fallback = string_ops.strip_charset_expr(norm)
    if not cfg.team_map:
        return fallback
    return F.coalesce(literal_map(cfg.team_map)[norm], fallback)


def clean_results(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Rename/cast/date-parse/filter/normalize the results table
    (reference code/experiment.py:286-316)."""
    if "Game Id" in df.columns:
        df = scalar_ops.rename_cols(df, {"Game Id": cfg.game_col})
    df = scalar_ops.cast_types(
        df,
        {
            cfg.game_col: "long",
            cfg.season_col: "int",
            cfg.home_col: "int",
            **{c: "double" for c in cfg.result_feature_cols},
        },
    )
    if dict(df.dtypes).get(cfg.date_col) != "date":
        df = scalar_ops.parse_date(df, cfg.date_col, cfg.date_format)
    bounds = {}
    if cfg.min_season is not None:
        bounds[cfg.season_col] = cfg.min_season
    if cfg.min_game is not None:
        bounds[cfg.game_col] = cfg.min_game
    df = scalar_ops.filter_range(df, bounds)
    df = df.withColumn(cfg.team_col, _team_code_expr(cfg, cfg.results_team_raw))
    return df


def clean_events(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Cast/filter/normalize the events table
    (reference code/experiment.py:328-356)."""
    df = scalar_ops.cast_types(
        df,
        {
            cfg.game_col: "long",
            cfg.season_col: "int",
            **{c: "double" for c in (*cfg.event_sum_cols, *cfg.event_avg_cols)},
        },
    )
    bounds = {}
    if cfg.min_season is not None:
        bounds[cfg.season_col] = cfg.min_season
    if cfg.min_game is not None:
        bounds[cfg.game_col] = cfg.min_game
    df = scalar_ops.filter_range(df, bounds)
    df = df.withColumn(cfg.team_col, _team_code_expr(cfg, cfg.events_team_raw))
    return df


def aggregate_events(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Per (game, season, team) sums + averages
    (reference code/experiment.py:359-366)."""
    measures: dict[str, F.Column] = {}
    for c in cfg.event_sum_cols:
        measures[f"sum_{c}"] = F.sum(c)
    for c in cfg.event_avg_cols:
        measures[f"avg_{c}"] = F.avg(c)
    return agg_ops.agg_group_multi(
        df, [cfg.game_col, cfg.season_col, cfg.team_col], measures
    )


def build_game_data(
    results: DataFrame, events: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Clean + aggregate + 3-key join; one row per (game, team)
    (reference code/experiment.py:372-405)."""
    r = clean_results(results, cfg)
    e = aggregate_events(clean_events(events, cfg), cfg)
    keys = [cfg.game_col, cfg.season_col, cfg.team_col]
    joined = join_ops.join_equi(r, e, keys, "inner")
    return scalar_ops.filter_notnull(joined, keys)


def feature_cols(cfg: PipelineConfig) -> list[str]:
    base = [f"sum_{c}" for c in cfg.event_sum_cols]
    base += [f"avg_{c}" for c in cfg.event_avg_cols]
    base += list(cfg.result_feature_cols)
    return base


def add_window_features(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Leakage-free expanding + sliding features per (team, season)
    ordered by (date, game) — the reference's signature operators
    (code/experiment.py:416-472) with the exact frames
    (unboundedPreceding,-1) and (-N,-1), then per-column defaults
    (476-494)."""
    part = [cfg.team_col, cfg.season_col]
    order = [cfg.date_col, cfg.game_col]
    df = win_ops.win_row_number(df, part, order, out="game_num")
    measures = feature_cols(cfg)
    df = win_ops.win_expanding(
        df, part, order, {f"hist_{c}": F.avg(c) for c in measures}
    )
    df = win_ops.win_sliding(
        df,
        part,
        order,
        {f"recent_{c}": F.avg(c) for c in measures},
        lookback=cfg.lookback,
    )
    defaults = {}
    for c in measures:
        d = cfg.feature_defaults.get(c, 0.0)
        defaults[f"hist_{c}"] = d
        defaults[f"recent_{c}"] = d
    return scalar_ops.fill_default(df, defaults)


def build_matchups(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Home ⋈ away self-join into one row per game, with differential
    features home-minus-away (reference code/experiment.py:502-552)."""
    keys = [cfg.game_col, cfg.season_col]
    hist_cols = [c for c in df.columns if c.startswith(("hist_", "recent_"))]
    keep = keys + [cfg.home_col, cfg.team_col, cfg.date_col, "game_num", *hist_cols]
    label_col = None
    if "Win" in df.columns:
        label_col = "Win"
        keep.append("Win")
    slim = df.select(*dict.fromkeys(keep))
    matched = join_ops.join_self_matchup(
        slim,
        keys=keys,
        split_col=cfg.home_col,
        left_value=1,
        right_value=0,
        left_prefix="home_",
        right_prefix="away_",
    )
    diffs = {
        f"diff_{c}": F.col(f"home_{c}") - F.col(f"away_{c}") for c in hist_cols
    }
    matched = scalar_ops.derive_arith(matched, diffs)
    if label_col:
        matched = matched.withColumn(
            "label",
            F.when(F.col(f"home_{label_col}") == 1, F.lit(1.0)).otherwise(F.lit(0.0)),
        )
    return matched


def run_pipeline(
    results: DataFrame, events: DataFrame, cfg: PipelineConfig
) -> dict[str, DataFrame]:
    """Full flow; returns every materialization point. The two
    reusable intermediates are persisted, mirroring the reference's
    cache() points (code/experiment.py:405, 558)."""
    game_data = build_game_data(results, events, cfg).persist()
    featured = add_window_features(game_data, cfg)
    matchups = build_matchups(featured, cfg).persist()
    train, test = sample_ops.split_temporal(matchups, cfg.season_col)
    return {
        "game_data": game_data,
        "featured": featured,
        "matchups": matchups,
        "train": train,
        "test": test,
    }
