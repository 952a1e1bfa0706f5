"""Pipeline composition tests with an injected FixtureFeed, mirroring
reference test_tmdb_index.py:438-649 (process end-to-end matrices)."""

from __future__ import annotations

from datetime import UTC, date, datetime
from types import SimpleNamespace

import pytest

from tests.conftest import rows
from tmdb_index_spark.operators.selection import build_fetch_worklist
from tmdb_index_spark.operators.upsert import align_id_col, update_or_append
from tmdb_index_spark.pipeline import (
    changes_backfill_date_range,
    insert_external_ids,
    insert_latest_changes,
    parse_external_ids_row,
    process,
    update_export_flag,
)
from tmdb_index_spark.schemas import changes_schema, empty_index_schema, index_schema
from tmdb_index_spark.sources import parquet
from tmdb_index_spark.sources.fetcher import FixtureFeed, external_ids_batch

NOW = datetime(2024, 5, 3, 12, 0, 0, tzinfo=UTC)
TODAY = date(2024, 5, 3)


def _feed():
    return FixtureFeed(
        changes_by_day={
            date(2024, 5, 2): [
                {"id": 0, "adult": False},
                {"id": 2, "adult": True},
                {"id": 2, "adult": False},  # same-day duplicate → keep last
                {"id": None, "adult": True},  # dropped
            ],
            date(2024, 5, 3): [{"id": 1, "adult": False}],
        },
        exports={
            "movie": [0, 2],
            "collection": [2, 3],
            "tv_series": [0],
            "person": [0],
        },
        external={
            0: {"imdb_id": "tt0000111", "wikidata_id": "Q42"},
            1: None,  # 404
            2: {"imdb_id": "bogus", "tvdb_id": 777},
            3: {},
        },
    )


def test_changes_backfill_date_range_resume(spark):
    df = spark.createDataFrame([(0, date(2024, 5, 1))], "id long, date date")
    r = changes_backfill_date_range(df, "movie", today=TODAY)
    assert r == [date(2024, 4, 30) + (d - date(2024, 4, 30)) * 1 for d in r]
    assert r[0] == date(2024, 4, 30)  # max(date) - 1 day
    assert r[-1] == TODAY


def test_changes_backfill_date_range_epoch_fallback(spark):
    df = spark.createDataFrame([], empty_index_schema())
    r = changes_backfill_date_range(df, "movie", today=TODAY)
    assert r[0] == date(2012, 10, 5)
    assert r[-1] == TODAY


def test_insert_latest_changes_from_empty(spark):
    df = spark.createDataFrame([], empty_index_schema())
    out = insert_latest_changes(df, _feed(), "movie", days_limit=100_000, today=TODAY)
    got = rows(out)
    # dense 0..2, keep-last within day 2024-05-02 for id=2
    assert [r["id"] for r in got] == [0, 1, 2]
    assert got[0]["date"] == date(2024, 5, 2)
    assert got[1]["date"] == date(2024, 5, 3)
    assert got[2] == {"id": 2, "adult": False, "date": date(2024, 5, 2)}
    assert out.columns == ["id", "adult", "date"]


def test_insert_latest_changes_later_day_wins(spark):
    feed = FixtureFeed(
        changes_by_day={
            date(2024, 5, 2): [{"id": 0, "adult": True}],
            date(2024, 5, 3): [{"id": 0, "adult": False}],
        }
    )
    df = spark.createDataFrame([], empty_index_schema())
    out = rows(insert_latest_changes(df, feed, "movie", days_limit=100_000, today=TODAY))
    assert out == [{"id": 0, "adult": False, "date": date(2024, 5, 3)}]


def test_update_export_flag_appends_and_fills(spark):
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "id long, v long")
    out = update_export_flag(df, _feed(), "movie")
    assert out.columns == ["id", "v", "in_export"]
    assert [r["in_export"] for r in rows(out)] == [True, False, True]


def test_update_export_flag_replaces_existing(spark):
    df = spark.createDataFrame(
        [(0, True), (1, True), (9999999, True)], "id long, in_export boolean"
    )
    out = rows(update_export_flag(df, _feed(), "movie"))
    assert [(r["id"], r["in_export"]) for r in out] == [
        (0, True),
        (1, False),
        (9999999, False),
    ]


def test_insert_external_ids_backfill(spark):
    feed = _feed()
    df = spark.createDataFrame(
        [(0, date(2024, 5, 2)), (1, date(2024, 5, 3)), (2, date(2024, 5, 2))],
        "id long, date date",
    )
    out = insert_external_ids(df, feed, "movie", backfill_limit=10, refresh_limit=0, now=NOW)
    got = rows(out)
    assert out.columns == [
        "id", "date", "success", "retrieved_at", "imdb_numeric_id",
        "wikidata_numeric_id",
    ]
    assert got[0]["success"] is True
    assert got[0]["imdb_numeric_id"] == 111
    assert got[0]["wikidata_numeric_id"] == 42
    assert got[1]["success"] is False  # 404
    assert got[1]["imdb_numeric_id"] is None
    assert got[2]["imdb_numeric_id"] is None  # parse error → null
    # fetched in id order
    assert [c for c in feed.calls if c[0] == "external_ids"] == [
        ("external_ids", 0), ("external_ids", 1), ("external_ids", 2),
    ]


def test_insert_external_ids_no_work(spark):
    df = spark.createDataFrame([(0,)], "id long")
    feed = _feed()
    out = insert_external_ids(df, feed, "movie", backfill_limit=0, refresh_limit=0)
    assert rows(out) == [{"id": 0}]
    assert feed.calls == []


def test_process_end_to_end_movie(spark):
    df = spark.createDataFrame([], empty_index_schema())
    out = process(
        df, _feed(), "movie",
        days_limit=100_000, backfill_limit=10, refresh_limit=5,
        today=TODAY, now=NOW,
    )
    got = rows(out)
    assert out.columns == [
        "id", "adult", "date", "in_export", "success", "retrieved_at",
        "imdb_numeric_id", "wikidata_numeric_id",
    ]
    assert [r["id"] for r in got] == [0, 1, 2]
    assert [r["in_export"] for r in got] == [True, False, True]
    assert got[0]["imdb_numeric_id"] == 111
    assert all(r["retrieved_at"] is not None for r in got)
    # tvdb_id never appears on movie indexes
    assert "tvdb_id" not in out.columns


def test_process_tv_keeps_tvdb(spark):
    feed = _feed()
    df = spark.createDataFrame([], empty_index_schema())
    feed.changes_by_day = {date(2024, 5, 3): [{"id": 2, "adult": None}]}
    out = process(
        df, feed, "tv",
        days_limit=100_000, backfill_limit=10, refresh_limit=5,
        today=TODAY, now=NOW,
    )
    got = rows(out)
    assert "tvdb_id" in out.columns
    assert got[2]["tvdb_id"] == 777


def _reference_process(df, feed, entity_type, backfill_limit, refresh_limit):
    """The daily composition with ``align_id_col`` (its own ``max(id)``
    action) after every upsert and no pin: what ``process`` must equal."""
    spark = df.sparkSession
    last = {}
    for d in changes_backfill_date_range(df, entity_type, TODAY):
        for r in feed.changes(entity_type, d):
            if r.get("id") is not None:
                last[int(r["id"])] = {"id": int(r["id"]), "adult": r.get("adult"), "date": d}
    if last:
        df = update_or_append(df, spark.createDataFrame(list(last.values()), changes_schema()))
    df = update_export_flag(align_id_col(df), feed, entity_type)
    ids = sorted(r["id"] for r in build_fetch_worklist(df, backfill_limit, refresh_limit).collect())
    if not ids:
        return df
    fetched = [parse_external_ids_row(feed, entity_type, i, NOW) for i in ids]
    return align_id_col(update_or_append(df, external_ids_batch(spark, fetched, entity_type)))


def _assert_matches_reference(df, make_feed, entity_type, backfill_limit=10, refresh_limit=5):
    feed, ref_feed = make_feed(), make_feed()
    out = process(
        df, feed, entity_type,
        days_limit=100_000, backfill_limit=backfill_limit, refresh_limit=refresh_limit,
        today=TODAY, now=NOW,
    )
    ref = _reference_process(df, ref_feed, entity_type, backfill_limit, refresh_limit)
    assert out.schema == ref.schema  # names, order, types and nullability
    assert not out.schema["id"].nullable
    assert rows(out) == rows(ref)
    assert feed.calls == ref_feed.calls
    return out


def _published(spark, tmp_path, df):
    """``df`` as the cron reads it back: written by the sink, scanned."""
    path = str(tmp_path / "index.parquet")
    parquet.write_index(df, path)
    return parquet.scan_or_empty(spark, path)


def test_process_matches_realigning_reference_bootstrap(spark):
    df = spark.createDataFrame([], empty_index_schema())
    _assert_matches_reference(df, _feed, "movie")


def test_process_matches_realigning_reference_ids_past_max(spark, tmp_path):
    boot = process(
        spark.createDataFrame([], empty_index_schema()), _feed(), "movie",
        days_limit=100_000, backfill_limit=2, refresh_limit=0,
        today=date(2024, 5, 2), now=datetime(2024, 5, 2, 6, tzinfo=UTC),
    )
    df = _published(spark, tmp_path, boot)

    def feed():
        f = _feed()
        # ids 7 and 11 leave gaps 3..6 and 8..10 for the realignment
        f.changes_by_day[TODAY] = [{"id": 7, "adult": True}, {"id": 11, "adult": None}]
        f.exports["movie"] = [0, 7, 9]
        f.external[7] = {"imdb_id": "tt0000777"}
        return f

    out = _assert_matches_reference(df, feed, "movie", backfill_limit=4, refresh_limit=1)
    assert [r["id"] for r in rows(out)] == list(range(12))


def test_process_matches_realigning_reference_empty_worklist(spark):
    fetched = datetime(2024, 5, 2, 12, tzinfo=UTC)
    df = spark.createDataFrame(
        [
            (i, date(2024, 5, 1), False, True, True, fetched, 100 + i, None)
            for i in range(3)
        ],
        index_schema("movie"),
    )

    def feed():
        # an older change than the fetch is not stale; nothing is unfetched
        return FixtureFeed(
            changes_by_day={date(2024, 5, 1): [{"id": 1, "adult": True}]},
            exports={"movie": [0, 1]},
        )

    out = _assert_matches_reference(df, feed, "movie", backfill_limit=10, refresh_limit=0)
    assert [r["adult"] for r in rows(out)] == [False, True, False]
    assert [r["retrieved_at"] for r in rows(out)] == [r["retrieved_at"] for r in rows(df)]


def test_process_matches_realigning_reference_tv(spark, tmp_path):
    def feed():
        f = _feed()
        f.changes_by_day[TODAY] = [{"id": 4, "adult": None}]
        return f

    boot = process(
        spark.createDataFrame([], empty_index_schema()), feed(), "tv",
        days_limit=100_000, backfill_limit=3, refresh_limit=0,
        today=TODAY, now=NOW,
    )
    out = _assert_matches_reference(_published(spark, tmp_path, boot), feed, "tv")
    assert "tvdb_id" in out.columns
    assert rows(out)[2]["tvdb_id"] == 777


def test_write_single_parquet_raises_on_extra_part_files(spark, tmp_path, monkeypatch):
    two = [str(tmp_path / "part-0.parquet"), str(tmp_path / "part-1.parquet")]
    monkeypatch.setattr(parquet, "glob", SimpleNamespace(glob=lambda pattern: two))
    df = spark.createDataFrame([(0,)], "id long")
    with pytest.raises(RuntimeError, match="expected one part file"):
        parquet.write_single_parquet(df, str(tmp_path / "index.parquet"))
    assert not (tmp_path / "index.parquet").exists()


def test_read_jsonl_gz_native_scan(spark, tmp_path):
    import gzip
    import json

    from pyspark.sql import types as T

    from tmdb_index_spark.sources.parquet import read_jsonl_gz

    p = tmp_path / "export.jsonl.gz"
    with gzip.open(p, "wt", encoding="utf-8") as f:
        for i in [3, 1, 2]:
            f.write(json.dumps({"id": i, "original_title": f"t{i}"}) + "\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("original_title", T.StringType()),
        ]
    )
    got = read_jsonl_gz(spark, str(p), schema).orderBy("id").collect()
    assert [(r["id"], r["original_title"]) for r in got] == [
        (1, "t1"), (2, "t2"), (3, "t3"),
    ]


def test_partitioned_sink_dynamic_overwrite_and_pruning(spark, tmp_path):
    from tmdb_index_spark.sources.parquet import write_partitioned

    path = str(tmp_path / "part")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "id long, day string, v double",
    )
    write_partitioned(base, path, ["day"])
    # overwrite ONLY day=a; day=b must survive untouched
    patch = spark.createDataFrame([(9, "a", 99.0)], "id long, day string, v double")
    write_partitioned(patch, path, ["day"])
    got = {(r.id, r.day) for r in spark.read.parquet(path).collect()}
    assert got == {(9, "a"), (3, "b")}
    # partition pruning: a day filter must reach PartitionFilters
    plan = (
        spark.read.parquet(path)
        .filter("day = 'b'")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters")[1][:80]
