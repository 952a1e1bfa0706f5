"""``corpus_ingest``: curate a corpus, publish it, fold in daily batches.

Set-up prepares the initial corpus (``corpus_pipeline_stats``, i.e.
``prepare_corpus`` plus its per-stage yield report, collected, then
``release_pins``), seeds a ``bucket_store`` index with it, and ingests
a first batch to warm the ingest and fold paths.  Each timed step is
one more batch: ``read_bucket_index`` -> ``ingest_corpus_batch``
-> collect its stats -> ``fold_bucket_index(kept)`` -> ``release_pins``.
After each fold a consumer phase runs ``lookup_bucket_ids`` point
lookups on the store.

Checks: the preparation report's input row is recomputed from the
documents and its stage chain must balance; each batch's deduplication
is checked against the batch and the store alone (exact copies by
text, near copies by 3-word-shingle Jaccard, see ``expected_dedup``);
after each fold the store, read back with pyarrow, is id-unique and
equals the previous store upserted with the kept documents; every
lookup returns the model's text.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Corpus shape (``--size full`` / ``--size tiny``).
SIZES = {
    "full": {"docs": 1200, "batch_new": 36, "batches": 10, "lookups": 16},
    "tiny": {"docs": 200, "batch_new": 10, "batches": 6, "lookups": 4},
}
TOKEN_RE = re.compile(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]")
N_BUCKETS = 8
#: ``ingest_corpus_batch`` drops a near duplicate: exact Jaccard of
#: 3-word shingle sets at least 0.5 against an index document.  A
#: document below ``KEEP_BELOW`` against every index document must be
#: kept (the margin absorbs rounding at the threshold).
KEEP_BELOW = 0.45
#: Spans this workload opens in its timed region.
SPANS = [
    "bucket_store.read_bucket_index",
    "corpus_pipeline.ingest_corpus_batch",
    "ingest.stats_consume",
    "bucket_store.fold_bucket_index",
    "materialize.release_pins",
    "bucket_store.lookup_bucket_ids",
]
#: Timed batches per run at least (more while ``--seconds`` last), and
#: untimed lookups in the set-up.
TIMED_MIN, WARM_LOOKUPS = 2, 8
INITIAL_SHARE = 0.7
EMBEDDED_SHARE = 0.4
DIM = 64
VOCAB = (
    "a the spark line column order small sort fast value scan hash slow "
    "group batch agg filter query big key window row part table stream "
    "merge data vector join customer"
).split()
LANGS = ["en"] * 8 + ["de"] * 3 + ["fr"] * 3 + ["es"] * 3 + ["zh"] * 3
DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


class CorpusGen:
    """Seeded documents (with exact and near duplicates), embeddings
    clustered around ten labels, and daily batches that mix new
    documents, re-sent copies of indexed ones, near copies and
    re-crawled ids."""

    def __init__(self, seed: int, size: dict):
        self.rng = np.random.default_rng(seed)
        self.size = size
        n = size["docs"]
        docs = []
        for i in range(n):
            r = self.rng.random()
            if i > 20 and r < 0.01:
                text = docs[int(self.rng.integers(i))]["text"]
            elif i > 20 and r < 0.06:
                text = docs[int(self.rng.integers(i))]["text"] + " dup"
            else:
                text = self._text()
            docs.append(self._doc(i, text))
        order = self.rng.permutation(n)
        cut = int(n * INITIAL_SHARE)
        self.initial = sorted((docs[i] for i in order[:cut]), key=lambda d: d["doc_id"])
        self.fresh = [docs[i] for i in order[cut:]]
        self.next_id = n
        n_emb = int(n * EMBEDDED_SHARE)
        centers = self.rng.normal(size=(10, DIM))
        labels = self.rng.integers(10, size=n_emb)
        vecs = centers[labels] + 0.6 * self.rng.normal(size=(n_emb, DIM))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        self.embeddings = pa.table(
            {
                "vec_id": pa.array(np.arange(n_emb), pa.int64()),
                "embedding": pa.array(
                    [v.astype(np.float32) for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array(labels, pa.int32()),
            }
        )

    def _text(self) -> str:
        k = int(self.rng.integers(10, 80))
        return " ".join(VOCAB[j] for j in self.rng.integers(len(VOCAB), size=k))

    def _doc(self, i: int, text: str) -> dict:
        return {
            "doc_id": i,
            "text": text,
            "lang": LANGS[int(self.rng.integers(len(LANGS)))],
            "source": f"src{int(self.rng.integers(20))}",
            "n_chars": len(text),
        }

    def batches(self, store: dict[int, tuple]):
        """Yield batches lazily: each depends on the store it lands in
        (re-sent and re-crawled documents come from it)."""
        k = self.size["batch_new"]
        for b in range(self.size["batches"]):
            new = self.fresh[b * k : (b + 1) * k]
            if not new:
                return
            ids = sorted(store)
            pick = [ids[int(j)] for j in self.rng.integers(len(ids), size=14)]
            extra = []
            for j, src in enumerate(pick[:10]):
                text = store[src][0] + (" dup" if j % 2 else "")
                extra.append(self._doc(self.next_id + j, text))
            self.next_id += 10
            taken = {d["doc_id"] for d in new} | {d["doc_id"] for d in extra}
            for src in pick[10:]:
                if src not in taken:
                    taken.add(src)
                    extra.append(self._doc(src, self._text()))
            yield new + extra


def write_docs(path: str, docs: list[dict]) -> None:
    pq.write_table(pa.Table.from_pylist(docs, schema=DOC_SCHEMA), path)


def committed_files(store: str) -> list[str]:
    """Data files of the bucket directories the newest manifest names."""
    mdir = os.path.join(store, "_manifest")
    versions = [
        int(n[1:-5]) for n in os.listdir(mdir) if n.startswith("m") and n.endswith(".json")
    ]
    with open(os.path.join(mdir, f"m{max(versions)}.json"), encoding="utf-8") as fh:
        man = json.load(fh)
    return [
        f
        for rel in man["buckets"].values()
        for f in sorted(glob.glob(os.path.join(store, rel, "*.parquet")))
    ]


def read_store(store: str) -> dict[int, tuple]:
    """The committed store read with pyarrow alone.  A duplicated id is
    returned as a ``None`` entry under key ``-1``."""
    rows: dict[int, tuple] = {}
    dup = 0
    for f in committed_files(store):
        t = pq.read_table(f, columns=["doc_id", "text", "lang", "source"])
        for r in zip(*(t[c].to_pylist() for c in t.column_names)):
            if r[0] in rows:
                dup += 1
            rows[r[0]] = r[1:]
    if dup:
        rows[-1] = None
    return rows


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _digest(rows: dict[int, tuple]) -> str:
    h = hashlib.sha256()
    for k in sorted(rows):
        h.update(repr((k, rows[k])).encode())
    return h.hexdigest()


def _corrupt(store: str) -> None:
    """Self-test: copy one committed data file within its bucket, so the
    store serves every id in it twice."""
    f = sorted(glob.glob(os.path.join(store, "data", "*", "*", "*.parquet")))[0]
    with open(f, "rb") as src, open(f[: -len(".parquet")] + "-copy.parquet", "wb") as dst:
        dst.write(src.read())


def _pinned_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def shingles(text: str | None) -> frozenset[str]:
    """Distinct 3-word shingles of whitespace tokens."""
    t = (text or "").split()
    return frozenset(" ".join(t[i : i + 3]) for i in range(len(t) - 2))


def _jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def expected_dedup(
    batch: list[dict], store: dict[int, tuple], store_shingles: dict[int, frozenset]
) -> tuple[set[int], set[int], set[int]]:
    """What deduplication must do to ``batch`` against ``store``,
    computed from the texts alone: ids that are exact copies of a
    lower id in the batch, ids (of the rest) that are exact copies of a
    stored text, and ids that must be kept because they are neither and
    no stored document comes near them.  The remaining ids are near
    copies, which the program may keep or drop."""
    stored_texts = {v[0] or "" for v in store.values()}
    first: dict[str, int] = {}
    for d in sorted(batch, key=lambda d: d["doc_id"]):
        first.setdefault(d["text"] or "", d["doc_id"])
    in_batch, in_index, keep = set(), set(), set()
    for d in batch:
        text = d["text"] or ""
        if first[text] != d["doc_id"]:
            in_batch.add(d["doc_id"])
        elif text in stored_texts:
            in_index.add(d["doc_id"])
        else:
            sh = shingles(text)
            if all(_jaccard(sh, o) < KEEP_BELOW for o in store_shingles.values()):
                keep.add(d["doc_id"])
    return in_batch, in_index, keep


def check_batch(
    batch: list[dict],
    stat_rows: list[dict],
    kept: dict[int, tuple],
    expected: tuple[set[int], set[int], set[int]],
) -> list[str]:
    """The batch's stats and kept set against ``expected_dedup``."""
    in_batch, in_index, keep = expected
    by_id = {d["doc_id"]: d for d in batch}
    problems = []
    stats = {r["source"]: r for r in stat_rows}
    sources = {d["source"] for d in batch}
    if set(stats) != sources:
        problems.append(f"stat sources {sorted(stats)} != {sorted(sources)}")
    for src in sources & set(stats):
        r = stats[src]
        ids = {d["doc_id"] for d in batch if d["source"] == src}
        want = (len(ids), len(ids & in_batch), len(ids & in_index))
        got = (r["n_batch"], r["n_exact_batch_dup"], r["n_exact_index_dup"])
        if got != want:
            problems.append(f"{src}: batch/exact counts {got} != {want}")
        if sum(r[c] for c in ("n_exact_batch_dup", "n_exact_index_dup",
                              "n_near_index_dup", "n_kept")) != r["n_batch"]:
            problems.append(f"{src}: stats do not sum to n_batch")
    if sum(r["n_kept"] for r in stat_rows) != len(kept):
        problems.append("n_kept != kept documents")
    if set(kept) & (in_batch | in_index):
        problems.append(f"exact copies kept: {sorted(set(kept) & (in_batch | in_index))}")
    if keep - set(kept):
        problems.append(f"documents dropped: {sorted(keep - set(kept))}")
    for i, row in kept.items():
        d = by_id.get(i)
        if d is None or row != (d["text"], d["lang"], d["source"]):
            problems.append(f"kept {i} is not the batch document")
            break
    return problems


def check_prepare(rows: list[dict], docs: list[dict]) -> list[str]:
    """Independent checks of the per-stage yield report: the input row
    recomputed from the documents (count, and tokens by the pipeline's
    regex), the stage chain's bookkeeping, and packing that drops
    nothing.  (The catalog's full DuckDB oracle for this report needs
    more than 1 GB and 40 s even at 50 documents, so it stays with
    ``tools/check_oracle.py``.)"""
    from tmdb_index_spark.operators.corpus_pipeline import STAGE_NAMES

    rows = sorted(rows, key=lambda r: r["stage"])
    problems = []
    if [r["stage_name"] for r in rows] != list(STAGE_NAMES):
        return [f"stages {[r['stage_name'] for r in rows]}"]
    n = len(docs)
    tokens = sum(len(TOKEN_RE.findall(d["text"] or "")) for d in docs)
    first = rows[0]
    if (first["docs_in"], first["docs_out"], first["tokens_out"]) != (n, n, tokens):
        problems.append(f"input row {first} != ({n}, {n}, {tokens})")
    for prev, cur in zip(rows, rows[1:]):
        if cur["docs_in"] != prev["docs_out"] and cur["stage_name"] != "pack":
            problems.append(f"{cur['stage_name']} docs_in")
        if cur["stage_name"] == "pack":
            if (cur["docs_in"], cur["docs_dropped"], cur["tokens_out"]) != (
                prev["docs_out"], 0, prev["tokens_out"]
            ):
                problems.append("pack row")
            continue
        if not 0 <= cur["docs_out"] <= cur["docs_in"]:
            problems.append(f"{cur['stage_name']} docs_out")
        if cur["docs_dropped"] != cur["docs_in"] - cur["docs_out"]:
            problems.append(f"{cur['stage_name']} docs_dropped")
        if cur["tokens_out"] > prev["tokens_out"]:
            problems.append(f"{cur['stage_name']} tokens grew")
    return problems


def run(ctx) -> None:
    from tmdb_index_spark.operators.corpus_pipeline import (
        corpus_pipeline_stats,
        ingest_corpus_batch,
    )
    from tmdb_index_spark.operators.materialize import release_pins
    from tmdb_index_spark.sources.bucket_store import (
        fold_bucket_index,
        lookup_bucket_ids,
        read_bucket_index,
    )

    size = SIZES["tiny" if ctx.tiny else "full"]
    spark, tr = ctx.spark, ctx.tracer
    gen = CorpusGen(ctx.seed, size)
    corpus_dir = os.path.join(ctx.work, "corpus")
    os.makedirs(corpus_dir)
    write_docs(os.path.join(corpus_dir, "documents.parquet"), gen.initial)
    pq.write_table(gen.embeddings, os.path.join(corpus_dir, "embeddings.parquet"))
    store = os.path.join(ctx.work, "store")
    model = {d["doc_id"]: (d["text"], d["lang"], d["source"]) for d in gen.initial}
    model_shingles = {i: shingles(v[0]) for i, v in model.items()}

    # set-up: curate the initial corpus, then publish it as the store
    t0 = time.perf_counter()
    docs = spark.read.parquet(os.path.join(corpus_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(corpus_dir, "embeddings.parquet"))
    with tr.span("corpus_pipeline.corpus_pipeline_stats"):
        stats = corpus_pipeline_stats(docs, emb)
    with tr.span("corpus.stats_consume"):
        prep_rows = stats.collect()
    if tr.enabled:
        ctx.counters["materialize.checkpoint_bytes"] = _pinned_bytes(spark)
    with tr.span("materialize.release_pins"):
        release_pins()
    with tr.span("bucket_store.fold_bucket_index"):
        fold_bucket_index(spark, store, docs, "doc_id", N_BUCKETS)
    ctx.setup_s = time.perf_counter() - t0

    problems = check_prepare([r.asDict() for r in prep_rows], gen.initial)
    ctx.op(not problems, f"prepare stats: {problems}")
    _check_store(ctx, store, model, "seed")

    rng = np.random.default_rng(ctx.seed + 1)
    batches = gen.batches(model)

    def step(k: int) -> tuple[float, list[int]]:
        """One batch, timed; returns the time and [batch docs, kept
        docs, touched buckets, bytes written]."""
        batch = next(batches)
        bpath = os.path.join(ctx.work, f"batch{k}.parquet")
        write_docs(bpath, batch)
        phase = tr.phase
        t0 = time.perf_counter()
        with tr.span("bucket_store.read_bucket_index"):
            index = read_bucket_index(spark, store)
        with tr.span("corpus_pipeline.ingest_corpus_batch"):
            out = ingest_corpus_batch(index, spark.read.parquet(bpath))
        with tr.span("ingest.stats_consume"):
            stat_rows = out["stats"].collect()
        t1 = time.perf_counter()
        tr.phase = "check"
        with tr.span("kept_collect"):
            kept_rows = out["kept"].select("doc_id", "text", "lang", "source")
            kept = {r[0]: tuple(r[1:]) for r in kept_rows.collect()}
        tr.phase = phase
        t2 = time.perf_counter()
        with tr.span("bucket_store.fold_bucket_index"):
            fold = fold_bucket_index(spark, store, out["kept"], "doc_id", N_BUCKETS)
        with tr.span("materialize.release_pins"):
            release_pins()
        dt = (t1 - t0) + (time.perf_counter() - t2)

        # checks, outside the timed region
        expected = expected_dedup(batch, model, model_shingles)
        problems = check_batch(batch, [r.asDict() for r in stat_rows], kept, expected)
        ctx.op(not problems, f"batch {k}: {problems}")
        model.update(kept)
        model_shingles.update((i, shingles(v[0])) for i, v in kept.items())
        written = 0
        if fold["touched"]:
            written = _dir_bytes(os.path.join(store, "data", f"v={fold['version']}"))
        _check_store(ctx, store, model, f"fold {k}")
        return dt, [len(batch), len(kept), len(fold["touched"]), written]

    # set-up, continued: a first batch and a few reads warm the ingest,
    # fold and lookup paths
    dt, _ = step(1)
    ctx.setup_s += dt + _lookups(ctx, store, model, rng, WARM_LOOKUPS, lookup_bucket_ids)

    tr.phase = "run"
    totals = [0, 0, 0, 0]
    k = 1
    t_loop = time.perf_counter()
    while k < size["batches"] and (
        k <= TIMED_MIN or time.perf_counter() - t_loop < ctx.seconds
    ):
        k += 1
        dt, counts = step(k)
        totals = [a + b for a, b in zip(totals, counts)]
        ctx.samples["step_s"].append(dt)
        ctx.timed_s += dt
        _lookups(ctx, store, model, rng, size["lookups"], lookup_bucket_ids)
    n_batch_docs, n_kept, touched, written = totals
    n_batches = k - 1

    live = len(model)
    store_bytes = sum(os.path.getsize(f) for f in committed_files(store))
    ctx.bytes_per_row = store_bytes / live
    ctx.inputs = {
        "docs_total": size["docs"],
        "docs_initial": len(gen.initial),
        "embeddings": gen.embeddings.num_rows,
        "batches": n_batches,
        "batch_docs": n_batch_docs,
        "kept_docs": n_kept,
        "live_docs": live,
        "store_bytes": store_bytes,
        "n_buckets": N_BUCKETS,
        "lookups": len(ctx.samples["read_ms"]),
    }
    ctx.counters["ingest.kept_ratio"] = n_kept / max(n_batch_docs, 1)
    ctx.counters["bucket_store.touched_buckets"] = touched / max(n_batches, 1)
    ctx.counters["bucket_store.bytes_written_per_kept_doc"] = written / max(n_kept, 1)


def _check_store(ctx, store: str, model: dict, what: str) -> None:
    if ctx.corrupt:
        _corrupt(store)
    rows = read_store(store)
    problems = []
    if -1 in rows:
        problems.append("duplicate ids")
    elif len(rows) != len(model):
        problems.append(f"rows {len(rows)} != {len(model)}")
    elif _digest(rows) != _digest(model):
        problems.append("content digest")
    ctx.op(not problems, f"{what}: {problems}")


def _lookups(ctx, store, model, rng, n, lookup_bucket_ids) -> float:
    """Point lookups on the store, each checked against the model.
    Returns the time spent; in the timed region each is also a sample."""
    ids = sorted(model)
    spent = 0.0
    for k in range(n):
        i = ids[int(rng.integers(len(ids)))] if k % 4 else max(ids) + 1 + k
        t0 = time.perf_counter()
        with ctx.tracer.span("bucket_store.lookup_bucket_ids"):
            got = lookup_bucket_ids(ctx.spark, store, [i], "doc_id").collect()
        dt = time.perf_counter() - t0
        spent += dt
        if ctx.tracer.phase == "run":
            ctx.samples["read_ms"].append(dt * 1000.0)
            ctx.timed_s += dt
        want = [model[i][0]] if i in model else []
        ctx.op([r["text"] for r in got] == want, f"lookup {i}")
    return spent
