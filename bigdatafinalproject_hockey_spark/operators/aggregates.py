"""Aggregation operators (SURVEY.md §2.5).

The reference's aggregations: a multi-measure groupBy over
(game, season, team) (reference code/experiment.py:359-366), an
ungrouped max (code/experiment.py:564), a groupBy-count confusion
matrix (678-680), and — inefficiently — four separate filter+count
jobs for tp/tn/fp/fn (645-656). This module keeps the first three
shapes and replaces the fourth with a SINGLE-PASS conditional
aggregation (`agg_count_filter`): one shuffle instead of four full
re-scans, which is the difference between one job and four at 100 TB.

Catalyst plans all of these as partial (map-side) + final hash
aggregates, so the shuffle moves only one row per (partition, key).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from bigdatafinalproject_hockey_spark.functions.literals import literal_array


def agg_group_multi(
    df: DataFrame, keys: Sequence[str], measures: Mapping[str, Column]
) -> DataFrame:
    """groupBy(keys).agg(named measures) — the reference's per-game
    event rollup (4×sum + 2×avg, code/experiment.py:359-366).
    Alias discipline: every measure is named by its dict key so result
    schemas are stable for downstream joins and oracle comparison."""
    return df.groupBy(*keys).agg(
        *[m.alias(name) for name, m in measures.items()]
    )


def agg_global_max(df: DataFrame, col: str, out: str | None = None) -> DataFrame:
    """Ungrouped max (reference code/experiment.py:564). Returns a
    1-row DataFrame; use collect_scalar to pull the value."""
    return df.agg(F.max(col).alias(out or f"max_{col}"))


def collect_scalar(df: DataFrame):
    """Pull a 1-row/1-col aggregate to the driver — the only sanctioned
    collect in the engine (reference code/experiment.py:564)."""
    return df.first()[0]


def agg_count_group(
    df: DataFrame, keys: Sequence[str], out: str = "count", sort: bool = True
) -> DataFrame:
    """groupBy(keys).count().orderBy(keys) — the displayed confusion
    matrix (reference code/experiment.py:678-680)."""
    res = df.groupBy(*keys).agg(F.count(F.lit(1)).alias(out))
    return res.orderBy(*keys) if sort else res


def agg_count_filter(
    df: DataFrame, cells: Mapping[str, Column]
) -> DataFrame:
    """Many filtered counts in ONE pass: count(CASE WHEN pred) per cell.

    Replaces the reference's 4 separate .filter(p).count() jobs for
    tp/tn/fp/fn (code/experiment.py:645-656) with a single job —
    SURVEY.md §3.3 flags the 6-job evaluation as the thing not to
    replicate."""
    return df.agg(
        *[
            F.count(F.when(pred, F.lit(1))).alias(name)
            for name, pred in cells.items()
        ]
    )


def agg_rollup(
    df: DataFrame, keys: Sequence[str], measures: Mapping[str, Column]
) -> DataFrame:
    """Hierarchical subtotals: groupBy().rollup(keys) — (k1,k2), (k1),
    and grand total in ONE pass. Catalyst expands the grouping sets
    map-side, so this still shuffles once (vs one job per level if
    composed by hand). Null key cells mark subtotal rows, as in ANSI
    ROLLUP."""
    return df.rollup(*keys).agg(*[m.alias(n) for n, m in measures.items()])


def agg_cube(
    df: DataFrame, keys: Sequence[str], measures: Mapping[str, Column]
) -> DataFrame:
    """All 2^k grouping-set combinations in one pass (ANSI CUBE)."""
    return df.cube(*keys).agg(*[m.alias(n) for n, m in measures.items()])


def agg_approx(
    df: DataFrame,
    keys: Sequence[str],
    distinct_col: str,
    quantile_col: str,
    quantiles: Sequence[float] = (0.5, 0.95),
    rsd: float = 0.05,
    accuracy: int = 10000,
) -> DataFrame:
    """Sketch-based aggregates — the 100 TB substitutes for exact
    count(DISTINCT) and sorted percentiles:

    - ``approx_count_distinct``: HyperLogLog++, fixed ~kilobytes of
      state per group vs an unbounded distinct hash set; merges
      map-side, so the shuffle carries sketches, not values.
    - ``percentile_approx``: Greenwald-Khanna sketch, bounded error
      ``1/accuracy``, vs a full sort per group.

    Sketch internals are engine-specific → rows-only driver check;
    tests/test_modules.py bounds both errors against the exact answers.
    """
    qarr = literal_array(quantiles, "double")
    return df.groupBy(*keys).agg(
        F.approx_count_distinct(distinct_col, rsd=rsd).alias("approx_distinct"),
        F.percentile_approx(quantile_col, qarr, accuracy).alias("approx_quantiles"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def agg_approx_checked(
    df: DataFrame,
    keys: Sequence[str],
    distinct_col: str,
    quantile_col: str,
    quantiles: Sequence[float] = (0.5, 0.95),
    rsd: float = 0.05,
    accuracy: int = 10000,
    rsd_sigmas: float = 3.0,
) -> DataFrame:
    """``agg_approx`` with its error guarantees VERIFIED in-engine:
    per group, compute the sketches AND the exact answers, and emit
    one ``*_within_bound`` flag (1/0 as BIGINT) per guarantee instead
    of the engine-specific sketch estimates — so a cross-engine oracle
    that asserts the documented bounds (literal 1s) can value-hash the
    result even though HLL/GK internals differ between engines.

    Bounds checked:

    - HLL++ distinct: ``|approx - exact| <= rsd_sigmas * rsd * exact + 1``
      (rsd is the sketch's relative standard deviation; 3σ + 1 covers
      integer truncation). HLL register merges are max() — commutative
      and associative — so the estimate is partitioning-independent.
    - GK quantile q: the returned value's rank must lie within
      ``q*n ± (n/accuracy + 1)`` — the sketch's worst-case rank-error
      contract, which holds for EVERY partial-sketch merge order, so
      the flag is deterministic even though the estimate itself can
      vary with task scheduling.

    Two shuffles: the grouped sketch+exact pass, then a rank probe of
    the (broadcast, keys-sized) estimates against the raw rows. At
    100 TB the probe joins a per-group constants table — map-side.
    """
    qarr = literal_array(quantiles, "double")
    sk = df.groupBy(*keys).agg(
        F.approx_count_distinct(distinct_col, rsd=rsd).alias("_approx_distinct"),
        F.percentile_approx(quantile_col, qarr, accuracy).alias("_aq"),
        F.count_distinct(F.col(distinct_col)).alias("_exact_distinct"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    probe = df.select(*keys, quantile_col).join(F.broadcast(sk), list(keys))
    rank_aggs = []
    for i in range(len(quantiles)):
        v = F.col("_aq")[i]
        rank_aggs.append(
            F.count(F.when(F.col(quantile_col) <= v, 1)).alias(f"_le_{i}")
        )
        rank_aggs.append(
            F.count(F.when(F.col(quantile_col) < v, 1)).alias(f"_lt_{i}")
        )
    checked = probe.groupBy(
        *keys, "_approx_distinct", "_exact_distinct", "n_rows"
    ).agg(*rank_aggs)
    n = F.col("n_rows")
    out = [
        *keys,
        n.alias("n_rows"),
        (
            F.abs(F.col("_approx_distinct") - F.col("_exact_distinct"))
            <= F.lit(rsd_sigmas * rsd) * F.col("_exact_distinct") + 1
        )
        .cast("long")
        .alias("distinct_within_bound"),
    ]
    for i, q in enumerate(quantiles):
        slack = n / F.lit(float(accuracy)) + 1
        out.append(
            (
                (F.col(f"_le_{i}") >= F.lit(q) * n - slack)
                & (F.col(f"_lt_{i}") <= F.lit(q) * n + slack)
            )
            .cast("long")
            .alias(f"p{int(round(q * 100)):02d}_within_bound")
        )
    return checked.select(*out)
