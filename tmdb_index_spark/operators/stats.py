"""Per-column profiling (SURVEY.md §2.6 C8, §2.4 A3-A6).

Reference ``compute_stats`` (tmdb_index.py:142-175) profiles every
column of the new frame — null count, true/false counts for booleans,
exact uniqueness of non-null values, and an updated-count against the
old frame — and renders a small all-string stats table.

Execution shape: ONE multi-aggregate pass over the new frame computes
every per-column statistic simultaneously (Catalyst fuses them into a
single scan + partial/final aggregate — no per-column scans), plus one
id-keyed full-outer-join pass against the old frame for updated counts.
The aggregate lists are named ``{name: Column}`` maps, so the run
report (``report.format_gh_step_summary``) merges them with the id,
size and row-hash aggregates instead of keeping its own copy.
The reference's positional null-padding (``_series_pad``,
tmdb_index.py:135-139) is the full outer join here: ids past the
shorter frame's length naturally pair with nulls.

Semantics preserved exactly:
* ``updated`` uses null-propagating ``!=`` — a change from null to
  value (or vice versa) is NOT counted (reference tmdb_index.py:161).
* ``unique`` is computed over non-null values only.
* formatting: ``"{n:,} ({n/row_count:.1%})"``; empty string for zero.

Delta: dtype strings are Spark's (``bigint``, ``boolean``, ...) rather
than Polars reprs (``u32``, ``bool``) — the engine's native types.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["compute_stats"]


def _fmt(n: int, row_count: int) -> str:
    if n == 0 or row_count == 0:
        return ""
    return f"{n:,} ({n / row_count:.1%})"


def agg_row(df: DataFrame, aggs: dict[str, Column]) -> dict[str, Any]:
    """Run the named aggregates as ONE pass over ``df``; the single
    result row as a dict keyed by name.  Merging two maps with the same
    name for the same expression computes it once."""
    return df.agg(*[c.alias(k) for k, c in aggs.items()]).collect()[0].asDict()


def column_aggs(df: DataFrame, approx: bool = False) -> dict[str, Column]:
    """Every per-column statistic of ``df`` plus the row count
    (``__n__``)."""
    dtypes = dict(df.dtypes)
    distinct_of = F.approx_count_distinct if approx else F.count_distinct
    aggs = {"__n__": F.count(F.lit(1))}
    for c in df.columns:
        col = F.col(c)
        aggs[f"null__{c}"] = F.sum(col.isNull().cast("long"))
        aggs[f"distinct__{c}"] = distinct_of(col)
        aggs[f"nonnull__{c}"] = F.count(col)
        if dtypes[c] == "boolean":
            aggs[f"true__{c}"] = F.sum(col.cast("long"))
            aggs[f"false__{c}"] = F.sum((~col).cast("long"))
    return aggs


def _shared(df_old: DataFrame, df_new: DataFrame) -> list[str]:
    old_cols = set(df_old.columns)
    return [c for c in df_new.columns if c in old_cols and c != "id"]


def diff_join(df_old: DataFrame, df_new: DataFrame, hashed: bool = False) -> DataFrame:
    """Full outer join of the two frames on ``id``: shared columns as
    ``__old_<c>`` / ``__new_<c>``, and with ``hashed`` each side's
    whole-row ``xxhash64`` as ``__h_old__`` / ``__h_new__``.  Ids past
    the shorter frame pair with nulls (reference ``_series_pad``)."""
    shared = _shared(df_old, df_new)
    o = [F.col(c).alias(f"__old_{c}") for c in shared]
    n = [F.col(c).alias(f"__new_{c}") for c in shared]
    if hashed:
        o.append(F.xxhash64(*df_old.columns).alias("__h_old__"))
        n.append(F.xxhash64(*df_new.columns).alias("__h_new__"))
    return df_new.select("id", *n).join(df_old.select("id", *o), on="id", how="outer")


def updated_aggs(df_old: DataFrame, df_new: DataFrame) -> dict[str, Column]:
    """Per shared column, over :func:`diff_join`: rows where both sides
    are non-null and differ (null-propagating ``!=``)."""
    return {
        f"upd__{c}": F.sum((F.col(f"__new_{c}") != F.col(f"__old_{c}")).cast("long"))
        for c in _shared(df_old, df_new)
    }


def stats_rows(
    df_new: DataFrame,
    stats: dict[str, Any],
    updated: dict[str, Any],
    approx: bool = False,
) -> list[dict[str, str]]:
    """Format the stats table rows from a :func:`column_aggs` result and
    an :func:`updated_aggs` result (empty when there was no join)."""
    dtypes = dict(df_new.dtypes)
    row_count = stats["__n__"]
    rows = []
    for c in df_new.columns:
        is_bool = dtypes[c] == "boolean"
        nonnull = int(stats[f"nonnull__{c}"] or 0)
        distinct = int(stats[f"distinct__{c}"] or 0)
        # HLL error tolerance when approx: within 5% of nonnull counts
        # as "unique". Exact mode requires equality.
        unique = (
            distinct == nonnull
            if not approx
            else nonnull > 0 and abs(distinct - nonnull) <= 0.05 * nonnull
        )
        rows.append(
            {
                "name": c,
                "dtype": dtypes[c],
                "null": _fmt(int(stats[f"null__{c}"] or 0), row_count),
                "true": _fmt(int(stats[f"true__{c}"] or 0), row_count) if is_bool else "",
                "false": _fmt(int(stats[f"false__{c}"] or 0), row_count) if is_bool else "",
                "unique": "true" if unique else "",
                "updated": _fmt(int(updated.get(f"upd__{c}") or 0), row_count),
            }
        )
    return rows


def compute_stats(
    df_old: DataFrame, df_new: DataFrame, approx: bool = False
) -> DataFrame:
    """All-string stats table ``{name, dtype, null, true, false, unique,
    updated}``, one row per column of ``df_new`` (reference
    tmdb_index.py:142-175).

    ``approx=True`` is the 100 TB path: ``approx_count_distinct`` (HLL,
    default 5% rsd) replaces the exact distinct count — same single-pass
    plan, bounded memory per column instead of an exact hash set. The
    uniqueness flag then tolerates the sketch's error margin. Exact
    remains the default for reference/oracle parity (SCALE.md).
    """
    # Pass 1: every per-column stat in one aggregate over df_new.
    stats = agg_row(df_new, column_aggs(df_new, approx))

    # Pass 2: updated counts over the id-keyed full outer join.
    updated: dict[str, Any] = {}
    upd = updated_aggs(df_old, df_new)
    if upd and "id" in df_new.columns and "id" in df_old.columns:
        updated = agg_row(diff_join(df_old, df_new), upd)

    return df_new.sparkSession.createDataFrame(
        stats_rows(df_new, stats, updated, approx),
        "name string, dtype string, null string, true string, false string, "
        "unique string, updated string",
    )
