"""Golden-output test for the markdown run report (mirrors the
reference's ``test_format_gh_step_summary``, test_tmdb_index.py:797-827
— exact-string match; dtype names and rss estimation are documented
deltas, SURVEY.md §1.3)."""

from __future__ import annotations

from datetime import date

import pytest

from tmdb_index_spark.operators.diff import change_summary
from tmdb_index_spark.operators.stats import compute_stats
from tmdb_index_spark.operators.upsert import validate_id
from tmdb_index_spark.report import (
    estimated_size_mb,
    format_gh_step_summary,
    render_markdown_table,
)


def _frames(spark):
    old = spark.createDataFrame(
        [(0, True, date(2024, 5, 1)), (1, None, None)],
        "id long, adult boolean, date date",
    )
    new = spark.createDataFrame(
        [
            (0, True, date(2024, 5, 1)),
            (1, False, date(2024, 5, 2)),
            (2, None, None),
        ],
        "id long, adult boolean, date date",
    )
    return old, new


def test_golden_step_summary(spark):
    old, new = _frames(spark)
    got = format_gh_step_summary(old, new, "movie.parquet")
    expected = (
        "## movie.parquet\n"
        "\n"
        "| name (str) | dtype (str) | null (str) | true (str) | false (str) | unique (str) | updated (str) |\n"
        "|------------|-------------|------------|------------|-------------|--------------|---------------|\n"
        # adult is 'unique': n_unique counts null as a distinct value
        # (Polars semantics, reference tmdb_index.py:160); 'updated' uses
        # null-propagating != (P12), so None->False transitions don't count.
        "| id         | bigint      |            |            |             | true         |               |\n"
        "| adult      | boolean     | 1 (33.3%)  | 1 (33.3%)  | 1 (33.3%)   | true         |               |\n"
        "| date       | date        | 1 (33.3%)  |            |             | true         |               |\n"
        "\n"
        "shape: (3, 3)\n"
        "changes: +1 -0 ~1\n"
        "rss: 0.0MB\n"
    )
    assert got == expected


def test_render_markdown_table_empty_rows():
    out = render_markdown_table([], ["name", "dtype"])
    assert out.splitlines()[0] == "| name (str) | dtype (str) |"
    assert len(out.splitlines()) == 2


def test_estimated_size_counts_strings(spark):
    df = spark.createDataFrame([(0, "abcd")], "id long, s string")
    mb = estimated_size_mb(df)
    assert 0 < mb < 1
    assert abs(mb * 1024 * 1024 - (8 + 4)) < 1e-6


def _assembled_summary(old, new, filename):
    """The report assembled from the public one-purpose operators."""
    table = render_markdown_table(
        [r.asDict() for r in compute_stats(old, new).collect()],
        ["name", "dtype", "null", "true", "false", "unique", "updated"],
    )
    added, removed, updated = change_summary(old, new)
    return (
        f"## {filename}\n\n{table}\n\n"
        f"shape: ({new.count():,}, {len(new.columns):,})\n"
        f"changes: +{added:,} -{removed:,} ~{updated:,}\n"
        f"rss: {estimated_size_mb(new):,.1f}MB\n"
    )


@pytest.mark.parametrize(
    "old_rows, old_schema, new_rows, new_schema",
    [
        pytest.param(
            [(0, True), (1, False)],
            "id long, adult boolean",
            [(0, True, 7), (1, True, None), (2, None, 9)],
            "id long, adult boolean, imdb long",
            id="gains-a-column",
        ),
        pytest.param(
            [(0, None, 1), (1, 5, None), (2, 6, 3)],
            "id long, a long, b long",
            [(0, 4, 1), (1, None, None), (2, 7, 3)],
            "id long, a long, b long",
            id="null-value-flip",
        ),
        pytest.param(
            [(0, "abc"), (1, None), (2, "x")],
            "id long, s string",
            [(0, "abcd"), (1, "é"), (2, "x"), (3, None)],
            "id long, s string",
            id="string-column",
        ),
        pytest.param(
            [(0, 1, "a"), (1, 2, "b"), (2, 3, "c")],
            "id long, v long, s string",
            [(0, 1, "a"), (1, 9, "b")],
            "id long, v long, s string",
            id="new-shorter-than-old",
        ),
    ],
)
def test_step_summary_matches_public_operators(
    spark, old_rows, old_schema, new_rows, new_schema
):
    old = spark.createDataFrame(old_rows, old_schema)
    new = spark.createDataFrame(new_rows, new_schema)
    got = format_gh_step_summary(old, new, "index.parquet")
    assert got == _assembled_summary(old, new, "index.parquet")


@pytest.mark.parametrize(
    "ids, msg",
    [
        ([1, 2], "start at 0"),
        ([0, 2], "consecutive"),
        ([0, 0, 1], "unique"),
        ([0, None, 2], "nulls"),
    ],
)
@pytest.mark.parametrize("bad_side", ["old", "new"])
def test_step_summary_validates_both_ids(spark, ids, msg, bad_side):
    bad = spark.createDataFrame([(i,) for i in ids], "id long")
    good = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    old, new = (bad, good) if bad_side == "old" else (good, bad)
    with pytest.raises(AssertionError, match=msg) as want:
        validate_id(bad)
    with pytest.raises(AssertionError) as got:
        format_gh_step_summary(old, new, "index.parquet")
    assert str(got.value) == str(want.value)
