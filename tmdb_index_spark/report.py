"""Markdown run report (SURVEY.md §2.1 S8, §2.6 C7-C9).

Mirrors the reference's GitHub step summary (``format_gh_step_summary``,
tmdb_index.py:571-600): a markdown stats table + shape/changes/rss
lines.  The stats DataFrame is tiny (one row per column) — collecting it
to the driver for rendering is the correct plan.

Deltas vs the reference's golden string (test_tmdb_index.py:797-827):
dtype names are Spark's (``bigint`` not ``u32``) and ``rss`` is a
schema-based size estimate (Spark has no ``estimated_size``); layout,
header row, and number formatting are identical.

Execution shape: three passes.  One aggregate over ``df_old`` (its id
check and row count), one over ``df_new`` (id check, every per-column
statistic, row count, string lengths) and one aggregate over the
id-keyed full outer join (per-column ``updated`` and the row-hash
``changes ~N``).  The aggregate lists are the ones ``validate_id``,
``compute_stats``, ``change_summary`` and :func:`estimated_size_mb`
run, merged by name.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tmdb_index_spark.operators.diff import changed_aggs, length_delta
from tmdb_index_spark.operators.stats import (
    agg_row,
    column_aggs,
    diff_join,
    stats_rows,
    updated_aggs,
)
from tmdb_index_spark.operators.upsert import check_id, id_aggs

__all__ = ["format_gh_step_summary", "render_markdown_table", "estimated_size_mb"]

_FIXED_WIDTHS = {
    "bigint": 8,
    "int": 4,
    "smallint": 2,
    "tinyint": 1,
    "double": 8,
    "float": 4,
    "boolean": 1,
    "date": 4,
    "timestamp": 8,
}


def _size_aggs(df: DataFrame) -> dict[str, Column]:
    aggs = {"__n__": F.count(F.lit(1))}
    for name, dtype in df.dtypes:
        if dtype in ("string", "binary"):
            aggs[f"len__{name}"] = F.sum(F.length(F.col(name)))
    return aggs


def _size_mb(df: DataFrame, row: dict[str, Any]) -> float:
    total = 0.0
    for name, dtype in df.dtypes:
        if dtype in ("string", "binary"):
            total += float(row[f"len__{name}"] or 0)
        else:
            total += _FIXED_WIDTHS.get(dtype, 8) * row["__n__"]
    return total / (1024 * 1024)


def estimated_size_mb(df: DataFrame) -> float:
    """Schema-based in-memory size estimate in MB: fixed widths per
    primitive type, summed byte lengths for strings/binary.  One
    aggregate pass; an estimate (like the reference's
    ``estimated_size``, tmdb_index.py:598), not an accounting."""
    return _size_mb(df, agg_row(df, _size_aggs(df)))


def render_markdown_table(rows: list[dict[str, str]], columns: list[str]) -> str:
    """Polars ASCII_MARKDOWN-style table: ``(str)``-suffixed headers,
    cells padded to column width (layout of the reference's golden
    output, test_tmdb_index.py:812-817)."""
    headers = [f"{c} (str)" for c in columns]
    widths = [
        max(len(h), *(len(r.get(c, "")) for r in rows)) if rows else len(h)
        for c, h in zip(columns, headers)
    ]
    out = []
    out.append("| " + " | ".join(h.ljust(w) for h, w in zip(headers, widths)) + " |")
    out.append("|" + "|".join("-" * (w + 2) for w in widths) + "|")
    for r in rows:
        out.append(
            "| "
            + " | ".join(r.get(c, "").ljust(w) for c, w in zip(columns, widths))
            + " |"
        )
    return "\n".join(out)


def format_gh_step_summary(df_old: DataFrame, df_new: DataFrame, filename: str) -> str:
    """Render the run report (reference tmdb_index.py:571-600).
    Validates both ids first, like the reference."""
    old = agg_row(df_old, id_aggs())
    check_id(old)
    new = agg_row(df_new, column_aggs(df_new) | _size_aggs(df_new) | id_aggs())
    check_id(new)

    old_len, new_len = old["__n__"], new["__n__"]
    diff = agg_row(
        diff_join(df_old, df_new, hashed=True),
        updated_aggs(df_old, df_new) | changed_aggs(min(old_len, new_len)),
    )
    added, removed = length_delta(old_len, new_len)

    table = render_markdown_table(
        stats_rows(df_new, new, diff),
        ["name", "dtype", "null", "true", "false", "unique", "updated"],
    )
    return (
        f"## {filename}\n"
        "\n"
        f"{table}\n"
        "\n"
        f"shape: ({new_len:,}, {len(df_new.columns):,})\n"
        f"changes: +{added:,} -{removed:,} ~{diff['__changed__']:,}\n"
        f"rss: {_size_mb(df_new, new):,.1f}MB\n"
    )
