"""Row-identity diffing (SURVEY.md §2.6 C7, §2.2 P13).

The reference diffs positionally — ``df[:min_len].hash_rows() !=
other[:min_len].hash_rows()`` (tmdb_index.py:117-132) — which is valid
only because row position == id (the dense-key invariant).  Here the
same comparison is keyed: join old and new on ``id`` and compare
per-side row hashes for ids below the common length.  The join is
:func:`~tmdb_index_spark.operators.stats.diff_join`, the one the
per-column ``updated`` counts read, so the run report counts both in a
single pass.

``xxhash64`` values differ from Polars' ``hash_rows`` — only the
EQUALITY STRUCTURE matters (equal rows hash equal), which both satisfy.
If the two frames have different column sets, every joined row hashes
different — same outcome as the reference (hash over different widths).

Scale notes: one shuffle on ``id`` for the join (or zero if both sides
are bucketed by id); the hash is computed map-side inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tmdb_index_spark.operators.stats import agg_row, diff_join

__all__ = ["change_summary", "change_summary_df"]


def changed_aggs(min_len: int) -> dict[str, Column]:
    """Over a hashed :func:`diff_join`: common rows below ``min_len``
    whose row hash changed."""
    return {
        "__changed__": F.count(
            F.when(
                (F.col("id") < min_len) & (F.col("__h_old__") != F.col("__h_new__")),
                1,
            )
        )
    }


def length_delta(old_len: int, new_len: int) -> tuple[int, int]:
    """(added, removed): the dense invariant makes growth append-only."""
    return max(0, new_len - old_len), max(0, old_len - new_len)


def change_summary(df_old: DataFrame, df_new: DataFrame) -> tuple[int, int, int]:
    """(added, removed, updated) between two dense-id frames (reference
    ``change_summary``, tmdb_index.py:117-132).

    added/removed are length deltas (the dense invariant means growth is
    append-only); updated counts common-id rows whose row hash changed.
    """
    old_len = df_old.count()
    new_len = df_new.count()
    changed = agg_row(
        diff_join(df_old, df_new, hashed=True), changed_aggs(min(old_len, new_len))
    )
    return (*length_delta(old_len, new_len), changed["__changed__"])


def change_summary_df(df_old: DataFrame, df_new: DataFrame) -> DataFrame:
    """Single-row DataFrame form of :func:`change_summary` (for the
    oracle harness)."""
    added, removed, updated = change_summary(df_old, df_new)
    spark = df_new.sparkSession
    return spark.createDataFrame(
        [(added, removed, updated)], "added long, removed long, updated long"
    )
