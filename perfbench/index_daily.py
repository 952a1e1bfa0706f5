"""``index_daily``: the paper's cron, then its consumers.

The input is yesterday's published index: the bootstrap of a seeded
feed, written from the model below.  Set-up is the cron's cold path:
session start, then the first cycle and a few reads in the fresh JVM.
Each timed step is one more day of the same sequence (``cli.main``
without argument parsing, on a seeded ``FixtureFeed``):
``scan_or_empty`` -> tvdb drop -> ``count`` -> ``cache`` -> ``process``
-> ``cache``/``count`` -> shrink guard -> ``format_gh_step_summary`` ->
``write_index``.  After each sink a consumer phase runs point and
range lookups on the published file.

Outputs are checked against an independent model of the same feed
(plain Python over the same payloads, read back with pyarrow): row
count, dense ids, and a digest of every column.  Lookup results are
checked against the same model.
"""

from __future__ import annotations

import hashlib
import os
import re
import time
from datetime import UTC, date, datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

#: CLI defaults (``tmdb_index_spark/cli.py``).
DAYS_LIMIT, BACKFILL, REFRESH = 30, 10_000, 1_000
#: Timed cycles per run (each, with its lookups, outlasts a 10 s
#: ``--seconds``, and the run budget allows no more), and untimed
#: lookups in the set-up.
TIMED_CYCLES, WARM_LOOKUPS = 2, 8
#: Index size and feed shape (``--size full`` / ``--size tiny``).  The
#: bootstrap fetches external ids for the first ``BACKFILL`` ids only,
#: as the cron does, so the full index leaves a never-fetched pool of
#: ``BACKFILL`` ids for each of the ``TIMED_CYCLES + 1`` cycles of a run:
#: every cycle backfills as many ids as the CLI default asks for.
SIZES = {
    "full": {
        "ids": BACKFILL * (TIMED_CYCLES + 2),
        "changes": 3_000,
        "new_ids": 40,
        "lookups": 16,
    },
    "tiny": {"ids": 600, "changes": 90, "new_ids": 5, "lookups": 4},
}
EPOCH = date(2012, 10, 5)
BOOT_DAY = EPOCH + timedelta(days=DAYS_LIMIT - 1)
COLUMNS = [
    "id",
    "adult",
    "date",
    "in_export",
    "success",
    "retrieved_at",
    "imdb_numeric_id",
    "wikidata_numeric_id",
]
UINT32_MAX = 2**32 - 1
#: Spans this workload opens in its timed region.
SPANS = [
    "parquet.scan_or_empty",
    "index.load_count",
    "pipeline.process",
    "pipeline.insert_latest_changes",
    "pipeline.update_export_flag",
    "pipeline.insert_external_ids",
    "fetcher.export_batch",
    "fetcher.external_ids_batch",
    "index.materialize",
    "report.format_gh_step_summary",
    "parquet.write_index",
    "consumer.lookup",
]
_MASK = (1 << 64) - 1


def _mix(*parts: int) -> int:
    """splitmix64 over the parts: a stable per-(seed, day, id) draw."""
    x = 0x9E3779B97F4A7C15
    for p in parts:
        x = (x ^ (p & _MASK)) * 0xBF58476D1CE4E5B9 & _MASK
        x = (x ^ (x >> 27)) * 0x94D049BB133111EB & _MASK
        x ^= x >> 31
    return x


class Payloads:
    """External-ids responses for one day, computed on demand.

    Passed to ``FixtureFeed(external=...)``, which only calls ``get``.
    About 5% are 404s, 2% carry a malformed imdb id, 1% an imdb id past
    UInt32, 1% a stray ``tvdb_id`` and 1% an empty body."""

    def __init__(self, seed: int, day: int):
        self.seed, self.day = seed, day

    def get(self, tmdb_id: int):
        r = _mix(self.seed, self.day, tmdb_id) % 1000
        if r < 50:
            return None
        if r < 70:
            return {"imdb_id": f"nm{tmdb_id}x", "wikidata_id": f"Q{tmdb_id + 7}"}
        if r < 80:
            return {"imdb_id": f"tt{UINT32_MAX + 1 + tmdb_id}"}
        if r < 90:
            return {"imdb_id": f"tt{tmdb_id:07d}", "tvdb_id": tmdb_id + 3}
        if r < 100:
            return {}
        return {
            "imdb_id": f"tt{(tmdb_id * 7 + self.day) % 9_000_000:07d}",
            "wikidata_id": f"Q{tmdb_id * 3 + r}",
        }


def _imdb(payload) -> int | None:
    if not payload or not payload.get("imdb_id"):
        return None
    m = re.search(r"tt(\d+)", str(payload["imdb_id"]))
    v = int(m.group(1)) if m else None
    return v if v is not None and 0 <= v <= UINT32_MAX else None


def _wikidata(payload) -> int | None:
    if not payload or not payload.get("wikidata_id"):
        return None
    m = re.search(r"Q(\d+)", str(payload["wikidata_id"]))
    v = int(m.group(1)) if m else None
    return v if v is not None and 0 <= v <= UINT32_MAX else None


class FeedGen:
    """Seeded TMDB feed: per-day change lists, daily exports and
    external-id payloads.  Past days keep their change lists, as the
    live API serves them."""

    def __init__(self, seed: int, size: dict):
        self.seed = seed
        self.size = size
        self.changes: dict[date, list[dict]] = {}
        self.max_id = size["ids"] - 1
        rng = _Rng(_mix(seed, 1))
        n = size["ids"]
        # bootstrap: each id appears on one of the first 30 days; about
        # 2% never appear, so the dense realignment fills them with
        # all-null rows; the top id always appears
        for i in range(n):
            if rng.below(100) < 2 and i != n - 1:
                continue
            d = EPOCH + timedelta(days=rng.below(DAYS_LIMIT))
            self.changes.setdefault(d, []).append(
                {"id": i, "adult": rng.below(10) == 0}
            )
        for d in list(self.changes):
            self.changes[d].append({"id": None})

    def add_day(self, day_index: int) -> date:
        """Changes for day ``day_index`` (1 = the day after bootstrap):
        ``changes`` ids, some past the current max id, some repeated
        within the day with a different ``adult`` (keep-last)."""
        rng = _Rng(_mix(self.seed, 2, day_index))
        d = BOOT_DAY + timedelta(days=day_index)
        rows = []
        hi = self.max_id + 1
        for _ in range(self.size["changes"]):
            rows.append({"id": rng.below(hi), "adult": rng.below(10) == 0})
        for k in range(self.size["new_ids"]):
            rows.append({"id": hi + k * 3, "adult": None})
        for r in rows[: len(rows) // 20]:
            rows.append({"id": r["id"], "adult": not r["adult"]})
        rows.append({"id": None, "adult": True})
        self.max_id = hi + (self.size["new_ids"] - 1) * 3
        self.changes[d] = rows
        return d

    def exports(self, day_index: int) -> dict[str, list[int]]:
        """About 90% of ids in the movie export; the collection export
        overlaps it and reaches past the max id."""
        rng = _Rng(_mix(self.seed, 3, day_index))
        top = self.max_id + 1
        movie = [i for i in range(top) if rng.below(10) != 0]
        coll = [rng.below(top + 100) for _ in range(max(top // 50, 1))]
        return {"movie": movie, "collection": coll}

    def feed(self, day_index: int):
        from tmdb_index_spark.sources.fetcher import FixtureFeed

        return FixtureFeed(
            changes_by_day=self.changes,
            exports=self.exports(day_index),
            external=Payloads(self.seed, day_index),
        )


class _Rng:
    """Small deterministic generator (xorshift64*)."""

    def __init__(self, state: int):
        self.s = state or 1

    def below(self, n: int) -> int:
        s = self.s
        s ^= s >> 12
        s ^= (s << 25) & _MASK
        s ^= s >> 27
        self.s = s
        return ((s * 0x2545F4914F6CDD1D) & _MASK) % n


class Model:
    """The index as the paper defines it, recomputed in plain Python:
    keep-last changes, export flag, stale ∪ backfill ∪ refresh
    external-id overwrite, dense ids."""

    def __init__(self):
        self.rows: dict[int, dict] = {}
        self.bootstrapped = False
        #: never-fetched ids each cycle backfilled
        self.backfilled: list[int] = []

    def apply(self, gen: FeedGen, day_index: int, today: date, now: datetime):
        rows = self.rows
        # changes: resume from max(date) - 1 (epoch on bootstrap)
        dates = [r["date"] for r in rows.values() if r["date"] is not None]
        start = max(dates) - timedelta(days=1) if dates else EPOCH
        n_days = (today - start).days + 1
        last: dict[int, dict] = {}
        for k in range(min(max(n_days, 0), DAYS_LIMIT)):
            d = start + timedelta(days=k)
            for r in gen.changes.get(d, []):
                if r.get("id") is None:
                    continue
                last[int(r["id"])] = {"adult": r.get("adult"), "date": d}
        for i, upd in last.items():
            row = rows.get(i) or _null_row()
            row.update(upd)
            rows[i] = row
        self._align()
        # export flag
        ex = gen.exports(day_index)
        flagged = set(ex["movie"]) | set(ex["collection"])
        for i, row in rows.items():
            row["in_export"] = i in flagged
        # external ids
        now_us = int(now.timestamp() * 1_000_000)
        if self.bootstrapped:
            stale = {
                i
                for i, r in rows.items()
                if r["date"] is not None
                and r["retrieved_at"] is not None
                and _day_us(r["date"]) >= r["retrieved_at"] // 86_400_000_000 * 86_400_000_000
            }
            never = sorted(i for i, r in rows.items() if r["retrieved_at"] is None)
            fetched = sorted(
                (r["retrieved_at"], i)
                for i, r in rows.items()
                if r["retrieved_at"] is not None
            )
            work = stale | set(never[:BACKFILL]) | {i for _, i in fetched[:REFRESH]}
            self.backfilled.append(len(never[:BACKFILL]))
        else:
            work = set(sorted(rows)[:BACKFILL])
        payloads = Payloads(gen.seed, day_index)
        for i in work:
            p = payloads.get(i)
            rows[i].update(
                success=p is not None,
                retrieved_at=now_us,
                imdb_numeric_id=_imdb(p),
                wikidata_numeric_id=_wikidata(p),
            )
        self.bootstrapped = True

    def _align(self):
        top = max(self.rows)
        for i in range(top + 1):
            if i not in self.rows:
                self.rows[i] = _null_row()

    def digests(self) -> dict[str, str]:
        ids = sorted(self.rows)
        out = {"id": _digest(ids)}
        for c in COLUMNS[1:]:
            out[c] = _digest([self.rows[i][c] for i in ids])
        return out


def _null_row() -> dict:
    return {c: None for c in COLUMNS[1:]}


def _day_us(d: date) -> int:
    return (d - date(1970, 1, 1)).days * 86_400_000_000


def _digest(values) -> str:
    return hashlib.sha256("\x00".join(map(repr, values)).encode()).hexdigest()


def read_artifact(path: str) -> dict[str, list]:
    """The published file as Python columns sorted by id, timestamps
    as UTC microseconds."""
    t = pq.read_table(path)
    t = t.sort_by("id")
    cols = {}
    for name in t.column_names:
        col = t[name]
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us")).cast(pa.int64())
        cols[name] = col.to_pylist()
    return cols


def check_artifact(path: str, model: Model) -> list[str]:
    """Differences between the published file and the model."""
    cols = read_artifact(path)
    problems = []
    if list(cols) != COLUMNS:
        problems.append(f"columns {list(cols)}")
        return problems
    n = len(cols["id"])
    if n != len(model.rows):
        problems.append(f"rows {n} != {len(model.rows)}")
    if cols["id"] != list(range(n)):
        problems.append("ids not dense 0..n-1")
    want = model.digests()
    for c in COLUMNS:
        if _digest(cols[c]) != want[c]:
            problems.append(f"column {c} digest")
    return problems


def _corrupt(path: str) -> None:
    """Self-test: flip one ``in_export`` value in the published file,
    keeping every column type Spark reads back."""
    t = pq.read_table(path)
    flags = t["in_export"].to_pylist()
    flags[len(flags) // 2] = not flags[len(flags) // 2]
    t = t.set_column(t.schema.get_field_index("in_export"), "in_export", pa.array(flags))
    ra = t.schema.get_field_index("retrieved_at")
    t = t.set_column(ra, "retrieved_at", t["retrieved_at"].cast(pa.timestamp("us", tz="UTC")))
    pq.write_table(t, path, compression="zstd")


def daily_cycle(ctx, feed, path: str, today: date, now: datetime) -> str:
    """One cron run: ``cli.main``'s sequence on a fixture feed; returns
    the step summary."""
    from tmdb_index_spark import pipeline
    from tmdb_index_spark.report import format_gh_step_summary
    from tmdb_index_spark.sources.parquet import scan_or_empty, write_index

    tr = ctx.tracer
    with tr.span("parquet.scan_or_empty"):
        df = scan_or_empty(ctx.spark, path)
    if "tvdb_id" in df.columns:
        df = df.drop("tvdb_id")
    with tr.span("index.load_count"):
        old_count = df.count()
    df = df.cache()
    with tr.span("pipeline.process"):
        df_new = pipeline.process(
            df,
            feed,
            "movie",
            days_limit=DAYS_LIMIT,
            backfill_limit=BACKFILL,
            refresh_limit=REFRESH,
            today=today,
            now=now,
        )
    with tr.span("index.materialize"):
        df_new = df_new.cache()
        new_count = df_new.count()
    if new_count < old_count:
        raise RuntimeError(f"index shrank: {old_count} -> {new_count}")
    with tr.span("report.format_gh_step_summary"):
        summary = format_gh_step_summary(df, df_new, os.path.basename(path))
    with tr.span("parquet.write_index"):
        tmp = path + ".next"
        write_index(df_new, tmp)
        os.replace(tmp, path)
    df.unpersist()
    df_new.unpersist()
    return summary


def _lookups(ctx, path: str, model: Model, rng: _Rng, n: int) -> float:
    """Consumer phase: id point, imdb point and id-range filters on the
    published file, each checked against the model.  Returns the time
    spent in lookups; in the timed region each is also a sample."""
    from pyspark.sql import functions as F

    from tmdb_index_spark.sources.parquet import scan_or_empty

    top = max(model.rows) + 1
    imdb_ids = [
        (r["imdb_numeric_id"], i)
        for i, r in model.rows.items()
        if r["imdb_numeric_id"] is not None
    ]
    spent = 0.0
    for k in range(n):
        kind = k % 5
        if kind < 3:
            i = rng.below(top)
            want = [i]
            cond = F.col("id") == i
        elif kind == 3 and imdb_ids:
            v = imdb_ids[rng.below(len(imdb_ids))][0]
            want = sorted(i for iv, i in imdb_ids if iv == v)
            cond = F.col("imdb_numeric_id") == v
        else:
            lo = rng.below(max(top - 100, 1))
            want = list(range(lo, min(lo + 100, top)))
            cond = F.col("id").between(lo, lo + 99)
        t0 = time.perf_counter()
        with ctx.tracer.span("consumer.lookup"):
            got = scan_or_empty(ctx.spark, path).filter(cond).collect()
        dt = time.perf_counter() - t0
        spent += dt
        if ctx.tracer.phase == "run":
            ctx.samples["read_ms"].append(dt * 1000.0)
            ctx.timed_s += dt
        ok = sorted(r["id"] for r in got) == want and all(
            r["in_export"] == model.rows[r["id"]]["in_export"]
            and r["imdb_numeric_id"] == model.rows[r["id"]]["imdb_numeric_id"]
            for r in got
        )
        ctx.op(ok, f"lookup {k}: {cond}")
    return spent


def _instrument(ctx) -> None:
    """Nested spans for the steps ``process`` resolves at call time."""
    from tmdb_index_spark import pipeline

    tr = ctx.tracer
    for attr in ("insert_latest_changes", "update_export_flag", "insert_external_ids"):
        tr.wrap(pipeline, attr, f"pipeline.{attr}")
    tr.wrap(pipeline, "export_batch", "fetcher.export_batch")
    def count_worklist(args) -> None:
        if tr.phase == "run":
            ctx.counters["pipeline.worklist_ids"] += len(args[1])

    ctx.counters["pipeline.worklist_ids"] = 0
    tr.wrap(
        pipeline,
        "external_ids_batch",
        "fetcher.external_ids_batch",
        on_call=count_worklist,
    )


def write_fixture(path: str, model: Model) -> None:
    """Yesterday's published index, written from the model with the
    schema the sink produces (zstd, one file)."""
    ids = sorted(model.rows)
    types = [
        pa.field("id", pa.int64(), nullable=False),
        pa.field("adult", pa.bool_()),
        pa.field("date", pa.date32()),
        pa.field("in_export", pa.bool_()),
        pa.field("success", pa.bool_()),
        pa.field("retrieved_at", pa.timestamp("us", tz="UTC")),
        pa.field("imdb_numeric_id", pa.int64()),
        pa.field("wikidata_numeric_id", pa.int64()),
    ]
    arrays = [pa.array(ids, pa.int64())] + [
        pa.array([model.rows[i][f.name] for i in ids], f.type) for f in types[1:]
    ]
    pq.write_table(pa.Table.from_arrays(arrays, schema=pa.schema(types)), path,
                   compression="zstd")


def run(ctx) -> None:
    size = SIZES["tiny" if ctx.tiny else "full"]
    gen = FeedGen(ctx.seed, size)
    model = Model()
    path = os.path.join(ctx.work, "movie.parquet")
    rng = _Rng(_mix(ctx.seed, 4))
    _instrument(ctx)

    # input: the index as bootstrapped from an empty file on BOOT_DAY
    model.apply(gen, 0, BOOT_DAY, _morning(BOOT_DAY))
    write_fixture(path, model)
    never_fetched = sum(r["retrieved_at"] is None for r in model.rows.values())

    def cycle(day: int) -> tuple[float, int]:
        today = gen.add_day(day)
        feed = gen.feed(day)
        t0 = time.perf_counter()
        summary = daily_cycle(ctx, feed, path, today, _morning(today))
        dt = time.perf_counter() - t0
        model.apply(gen, day, today, _morning(today))
        _check(ctx, path, model, summary, f"cycle {day}")
        return dt, len(feed.calls)

    # set-up: the cron's cold path, i.e. the first cycle and the first
    # reads in a fresh JVM
    dt, _ = cycle(1)
    ctx.setup_s = dt + _lookups(ctx, path, model, rng, WARM_LOOKUPS)

    ctx.tracer.phase = "run"
    feed_calls = 0
    for day in range(2, 2 + TIMED_CYCLES):
        dt, calls = cycle(day)
        feed_calls += calls
        ctx.samples["step_s"].append(dt)
        ctx.timed_s += dt
        _lookups(ctx, path, model, rng, size["lookups"])

    rows = len(model.rows)
    nbytes = os.path.getsize(path)
    ctx.bytes_per_row = nbytes / rows
    meta = pq.ParquetFile(path).metadata
    ctx.counters["parquet.row_groups"] = meta.num_row_groups
    ctx.counters["fetcher.feed_calls"] = feed_calls
    ctx.inputs = {
        "ids_bootstrap": size["ids"],
        "never_fetched_input": never_fetched,
        "backfilled_per_cycle": model.backfilled,
        "changes_per_day": size["changes"],
        "timed_cycles": TIMED_CYCLES,
        "rows_final": rows,
        "artifact_bytes": nbytes,
        "lookups": len(ctx.samples["read_ms"]),
        "backfill_limit": BACKFILL,
        "refresh_limit": REFRESH,
        "days_limit": DAYS_LIMIT,
    }


def _morning(d: date) -> datetime:
    return datetime(d.year, d.month, d.day, 6, tzinfo=UTC)


def _check(ctx, path: str, model: Model, summary: str, what: str) -> None:
    if ctx.corrupt:
        _corrupt(path)
    problems = check_artifact(path, model)
    if f"shape: ({len(model.rows):,}, {len(COLUMNS)})" not in summary:
        problems.append("report shape line")
    ctx.op(not problems, f"{what}: {problems}")
