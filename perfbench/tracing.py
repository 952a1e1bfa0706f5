"""Spans recorded from the benchmark's side, and the Spark event-log fold.

A span wraps one public call.  While it is open the benchmark sets the
Spark job group to ``<phase>:<span>``, so every job the call launches
from the calling thread is charged to the innermost open span; the
previous group is restored on exit.  Jobs launched from threads the
program starts itself (the corpus fit threads) carry no group: they
are charged to the module named in their ``callSite.short`` and
counted as unattributed, never dropped.

With tracing off every span is a no-op, so the untraced run times the
program alone.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import re
import time
from collections import defaultdict

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


class Tracer:
    """Span recorder for one benchmark run.

    ``phase`` tags spans ("setup", "run", or "check" for the
    benchmark's own verification jobs) so that per-layer metrics fold
    the timed region and the set-up apart.
    """

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.phase = "setup"
        self.stack: list[str] = []
        self.total: dict[str, float] = defaultdict(float)
        self.child: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.top_level_s = 0.0
        self._patched: list[tuple[object, str, object]] = []

    def key(self, name: str) -> str:
        return f"{self.phase}:{name}"

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        key = self.key(name)
        parent = self.stack[-1] if self.stack else None
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setJobGroup(key, key)
        self.stack.append(key)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self.stack.pop()
            self.total[key] += dt
            self.calls[key] += 1
            if parent is None:
                self.top_level_s += dt if self.phase == "run" else 0.0
            else:
                self.child[parent] += dt
            if prev is None:
                self.sc.setLocalProperty(_GROUP, None)
                self.sc.setLocalProperty(_DESC, None)
            else:
                self.sc.setJobGroup(prev, prev)

    def wrap(self, module, attr: str, name: str, on_call=None) -> None:
        """Replace ``module.attr`` with a spanned wrapper (tracing only).

        Used for the functions ``pipeline.process`` resolves from its own
        module globals at call time, so nested steps get their own spans
        without changing any program file.  ``on_call(args)`` may record
        counters."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            if on_call is not None:
                on_call(args)
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, spanned)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def self_seconds(self, key: str) -> float:
        return self.total.get(key, 0.0) - self.child.get(key, 0.0)


def _module_of(call_site: str) -> str:
    """``collect at /x/tmdb_index_spark/operators/similarity.py:812``
    -> ``operators.similarity``."""
    m = re.search(r"tmdb_index_spark/([\w/]+)\.py", call_site or "")
    if m:
        return m.group(1).replace("/", ".")
    m = re.search(r"([\w.]+)\.py", call_site or "")
    return m.group(1) if m else "unknown"


def fold_event_log(log_dir: str) -> dict:
    """Per job-group totals from an uncompressed, non-rolling event log.

    Returns ``{"groups": {group: {jobs, tasks, exec_ms, shuffle_bytes,
    input_bytes}}, "unattributed": {module: {...}}}``.  Shuffle bytes
    are bytes written by shuffle map tasks; input bytes are bytes read
    from files."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    files = [f for f in files if not f.endswith(".inprogress")] or files
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    stage_owner: dict[int, tuple[str, str]] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    unattributed: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(files[-1], encoding="utf-8") as fh:
        for line in fh:
            if '"SparkListenerJobStart"' in line[:60]:
                ev = json.loads(line)
                props = ev.get("Properties") or {}
                group = props.get(_GROUP)
                if group:
                    owner = ("g", group)
                    groups[group]["jobs"] += 1
                else:
                    owner = ("u", _module_of(props.get("callSite.short", "")))
                    unattributed[owner[1]]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_owner[sid] = owner
            elif '"SparkListenerTaskEnd"' in line[:60]:
                ev = json.loads(line)
                owner = stage_owner.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics") or {}
                if owner is None or not tm:
                    continue
                acc = (groups if owner[0] == "g" else unattributed)[owner[1]]
                acc["tasks"] += 1
                acc["exec_ms"] += tm.get("Executor Run Time", 0)
                acc["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                acc["input_bytes"] += (tm.get("Input Metrics") or {}).get(
                    "Bytes Read", 0
                )
    return {
        "groups": {k: dict(v) for k, v in groups.items()},
        "unattributed": {k: dict(v) for k, v in unattributed.items()},
    }


def layer_metrics(tracer: Tracer, folded: dict, spans: list[str], phase: str) -> dict:
    """``<span>.s`` (self time), ``.jobs``, ``.exec_ms`` and
    ``.shuffle_bytes`` for every listed span of one phase.  A span the
    workload never opened reports 0."""
    out: dict[str, tuple[float, str]] = {}
    for name in spans:
        key = f"{phase}:{name}"
        g = folded["groups"].get(key, {})
        out[f"{name}.s"] = (round(tracer.self_seconds(key), 6), "s")
        out[f"{name}.jobs"] = (int(g.get("jobs", 0)), "count")
        out[f"{name}.exec_ms"] = (int(g.get("exec_ms", 0)), "ms")
        out[f"{name}.shuffle_bytes"] = (int(g.get("shuffle_bytes", 0)), "bytes")
    return out


def span_table(tracer: Tracer, folded: dict) -> dict:
    """Every recorded span, both phases, for the result record."""
    table = {}
    for key in sorted(tracer.calls):
        g = folded["groups"].get(key, {})
        table[key] = {
            "calls": tracer.calls[key],
            "total_s": round(tracer.total[key], 6),
            "self_s": round(tracer.self_seconds(key), 6),
            **{k: int(v) for k, v in g.items()},
        }
    return table
