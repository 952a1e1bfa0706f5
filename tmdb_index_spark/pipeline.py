"""The incremental-index pipeline (SURVEY.md §2.6 C3-C6, §3.1).

Composition is identical to the reference's ``process``
(tmdb_index.py:546-568): fold latest changes → update export flag →
enrich external ids.  Each step builds a LAZY plan.  ``process`` itself
runs Spark work at three points, each over work that is then reused:

1. one aggregate over the loaded frame — ``max(date)`` (the changes
   resume point) and ``max(id)``, which with the driver-resident
   change batch's ``max(id)`` is the dense realignment bound;
2. one pin of the post-export-flag frame (a ledgered
   ``localCheckpoint``), which the worklist's stale / backfill /
   refresh branches, the enrichment join and the external-ids upsert
   all read;
3. one worklist collect, the pin's first reader.

The returned frame is lazy over the pin; the caller's guard, report and
sink are the remaining actions.

Spark-first deviation from the reference's loop shape: the reference
folds per-day change batches through ``update_or_append`` one day at a
time (N merges → N dedup passes).  Here the driver-resident per-day
payloads fold to one keep-last batch and merge ONCE — one shuffle
instead of N, same keep-last-by-day semantics (newest day wins per id).
"""

from __future__ import annotations

import logging
from datetime import date, timedelta
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tmdb_index_spark.operators.materialize import pin_frame
from tmdb_index_spark.operators.selection import (
    select_backfill_candidates,
    select_refresh_candidates,
    select_stale_candidates,
)
from tmdb_index_spark.operators.upsert import align_id_range, update_or_append
from tmdb_index_spark.schemas import changes_schema
from tmdb_index_spark.sources.fetcher import (
    CHANGES_EPOCH,
    TmdbFeed,
    export_batch,
    external_ids_batch,
)

logger = logging.getLogger(__name__)

__all__ = [
    "changes_backfill_date_range",
    "insert_latest_changes",
    "update_export_flag",
    "insert_external_ids",
    "process",
]

#: Export feed names per entity type; movie merges the collection export
#: with movie taking precedence on id collisions (reference
#: tmdb_index.py:330-348).
EXPORT_TYPES = {
    "movie": ("movie", "collection"),
    "tv": ("tv_series",),
    "person": ("person",),
}


def _frame_maxima(df: DataFrame) -> tuple[date | None, int | None]:
    """``(max(date), max(id))`` of ``df`` in one aggregate; None for an
    absent column or no rows."""
    aggs = [F.max(c).alias(c) for c in ("date", "id") if c in df.columns]
    row = df.agg(*aggs).collect()[0].asDict() if aggs else {}
    return row.get("date"), row.get("id")


def _resume_range(
    max_date: date | None, entity_type: str, today: date | None
) -> list[date]:
    today = today or date.today()
    if max_date is not None:
        start = max_date - timedelta(days=1)
    else:
        start = CHANGES_EPOCH[entity_type]
        logger.warning("no date column/rows; backfilling from epoch %s", start)
    days = (today - start).days + 1
    return [start + timedelta(days=i) for i in range(max(days, 0))]


def changes_backfill_date_range(
    df: DataFrame, entity_type: str, today: date | None = None
) -> list[date]:
    """Resume from ``max(date) - 1 day`` (overlap one day to absorb
    partial final days), else the per-type epoch (reference
    ``tmdb_changes_backfill_date_range``, tmdb_index.py:220-238)."""
    return _resume_range(_frame_maxima(df)[0], entity_type, today)


def insert_latest_changes(
    df: DataFrame,
    feed: TmdbFeed,
    entity_type: str,
    days_limit: int = 30,
    today: date | None = None,
) -> DataFrame:
    """C3: fetch per-day change lists, merge once, realign the dense id
    domain (reference ``insert_tmdb_latest_changes``,
    tmdb_index.py:241-256).

    The realignment bound is ``max(id)`` of the loaded frame (from the
    same aggregate as the resume date) and of the driver-side batch, so
    the upserted plan is never run just to read its maximum."""
    spark = df.sparkSession
    max_date, max_id = _frame_maxima(df)
    date_range = _resume_range(max_date, entity_type, today)[:days_limit]
    # The payloads are already driver-resident (sequential rate-limited
    # HTTP), so the keep-last fold across days happens in the same dict
    # pass that the per-day builder uses within a day: later day / later
    # arrival wins per id (reference folds one update_or_append per day,
    # tmdb_index.py:248-254 — same fixpoint).  One schema'd batch then
    # enters the plan and merges in a single shuffle, instead of N
    # unions of N tiny 32-partition frames.  The distributed keep-last
    # path (dedup_keep_last) remains the operator for table-sized inputs.
    last: dict[int, dict[str, Any]] = {}
    for d in date_range:
        for r in feed.changes(entity_type, d):
            if r.get("id") is None:
                continue
            last[int(r["id"])] = {"id": int(r["id"]), "adult": r.get("adult"), "date": d}
    if last:
        max_id = max(max(last), -1 if max_id is None else max_id)
        df = update_or_append(df, spark.createDataFrame(list(last.values()), changes_schema()))
    return align_id_range(df, max_id)


def update_export_flag(df: DataFrame, feed: TmdbFeed, entity_type: str) -> DataFrame:
    """C4: left join the daily export onto the index ids; absent → False
    (reference ``update_tmdb_export_flag``, tmdb_index.py:355-366).

    The export side is ~1M narrow rows at TMDB scale — explicitly
    broadcast so the 100 TB index side never shuffles for this step.
    """
    ids = [feed.export_ids(t) for t in EXPORT_TYPES[entity_type]]
    export = export_batch(df.sparkSession, ids)

    out_cols = list(df.columns)
    if "in_export" not in out_cols:
        out_cols.append("in_export")
    return (
        df.drop("in_export")
        .join(F.broadcast(export), on="id", how="left")
        .withColumn("in_export", F.coalesce(F.col("in_export"), F.lit(False)))
        .select(*out_cols)
    )


def insert_external_ids(
    df: DataFrame,
    feed: TmdbFeed,
    entity_type: str,
    backfill_limit: int = 10_000,
    refresh_limit: int = 1_000,
    now: Any = None,
) -> DataFrame:
    """C5: select work (stale ∪ backfill ∪ refresh), fetch driver-side in
    id order, upsert (reference ``insert_tmdb_external_ids``,
    tmdb_index.py:482-543).

    ``df`` is dense (``process`` realigns it in
    :func:`insert_latest_changes`).  It is pinned once (a ledgered
    ``localCheckpoint``, ``pin_frame(df, "checkpoint")``) before the
    worklist collect, so the three selection branches, the enrichment
    join and the upsert read the pinned rows instead of re-running its
    plan.  The returned frame reads the pin: call ``release_pins`` only
    after it has been written."""
    from datetime import UTC, datetime

    has_ra = "retrieved_at" in df.columns
    has_date = "date" in df.columns

    pickers = []
    if has_date and has_ra:
        pickers.append(select_stale_candidates)
    if backfill_limit > 0:
        pickers.append(lambda d: select_backfill_candidates(d, backfill_limit))
    if refresh_limit > 0 and has_ra:
        pickers.append(lambda d: select_refresh_candidates(d, refresh_limit))
    if not pickers:
        logger.warning("no external-id work predicates apply")
        return df

    df = pin_frame(df, "checkpoint")
    worklist = pickers[0](df).select("id")
    for pick in pickers[1:]:
        worklist = worklist.unionByName(pick(df).select("id"))
    # Collect the (bounded: backfill+refresh limits + stale set) worklist
    # to the driver — the fetch is driver-side sequential I/O by design.
    ids = sorted(r[0] for r in worklist.distinct().collect())
    if not ids:
        return df

    retrieved_at = now or datetime.now(UTC)
    rows = [
        parse_external_ids_row(feed, entity_type, i, retrieved_at) for i in ids
    ]
    batch = external_ids_batch(df.sparkSession, rows, entity_type)
    # Batch ids are worklist ids, i.e. ids of the dense df: nothing is appended, so no realign.
    return update_or_append(df, batch)


def parse_external_ids_row(
    feed: TmdbFeed, entity_type: str, tmdb_id: int, retrieved_at: Any
) -> dict[str, Any]:
    from tmdb_index_spark.sources.fetcher import parse_external_ids_payload

    payload = feed.external_ids(entity_type, tmdb_id)
    return parse_external_ids_payload(entity_type, tmdb_id, payload, retrieved_at)


def process(
    df: DataFrame,
    feed: TmdbFeed,
    entity_type: str,
    days_limit: int = 30,
    backfill_limit: int = 10_000,
    refresh_limit: int = 1_000,
    today: date | None = None,
    now: Any = None,
) -> DataFrame:
    """C6: the full daily update (reference ``process``,
    tmdb_index.py:546-568)."""
    df = insert_latest_changes(df, feed, entity_type, days_limit, today)
    df = update_export_flag(df, feed, entity_type)
    df = insert_external_ids(
        df, feed, entity_type, backfill_limit, refresh_limit, now=now
    )
    return df
