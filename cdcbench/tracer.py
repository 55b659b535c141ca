"""Span recorder for the traced benchmark run.

Spans are recorded from the benchmark's side of each layer boundary: the
public functions of every layer are wrapped in place (``install``), at
the name their caller actually resolves, and each call becomes one span
with a name, start, end, parent and run id. Spans stay in memory and are
written out when the run ends (``dump``).

Parents come from a per-thread stack. A thread whose stack is empty
(the streaming query's foreachBatch callback thread) parents its spans
under the open drain span, so each epoch nests under the drain that
caused it. Background folds on the engine's ``bucket-fold`` pool, and the
benchmark's own load and reader threads, run concurrently with the drain
and are recorded as roots of their own.

A span's self time is its duration minus the part of its interval that
its children cover. Within one drain the self times of every span in the
drain's tree add up to the drain's duration; the drain's own self time
is what no layer claimed (streaming planning, source-log writes,
foreachBatch dispatch, idle) and is reported as
``engine.trigger_overhead_s``.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Callable

# threads whose spans are roots of their own: the engine's background
# folds and the benchmark's own load and reader threads
ROOT_THREADS = ("bucket-fold", "tail-")

# layers below the drain, each reported as ``<layer>.self_s``
LAYERS = ("wal", "apply", "manifest")

# apply_batch's own phase timings → per-layer metric names
APPLY_PHASES = {
    "setup": "apply.setup_s",
    "lineage_ddl_buckets": "apply.bookkeeping_s",
    "dedup_plan": "apply.dedup_plan_s",
    "merge_write": "apply.merge_write_s",
    "lsn_gate_wait": "apply.lsn_gate_wait_s",
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.enabled = False
        self.run_id = 0
        self.root: int | None = None  # the open drain span
        self.counts: dict[str, int] = defaultdict(int)
        self.apply_results: list[dict[str, Any]] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        if st:
            parent = st[-1]
        elif threading.current_thread().name.startswith(ROOT_THREADS):
            parent = None
        else:
            parent = self.root
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "run": self.run_id,
            "thread": threading.current_thread().name,
            "start": time.perf_counter(),
        }
        st.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def drain(self):
        """Open a drain span that foreachBatch callbacks nest under."""
        with self.span("engine.drain") as rec:
            prev, self.root = self.root, rec["id"] if rec else None
            try:
                yield rec
            finally:
                self.root = prev

    def count(self, key: str, n: int = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[key] += n

    def wrap(self, owner: Any, attr: str, name: str, after=None) -> Callable:
        """Replace ``owner.attr`` with a span-recording wrapper; return the
        undo callable. ``after(result, args, kwargs)`` runs inside the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                res = orig(*args, **kwargs)
                if rec is not None and after is not None:
                    after(res, args, kwargs)
                return res

        setattr(owner, attr, wrapper)
        return lambda: setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def install(tracer: Tracer) -> Callable[[], None]:
    """Wrap every traced layer function; return a callable that undoes it.

    Each wrapper patches the name the caller resolves: ``engine.py``
    imports ``apply_batch`` at module level, so that module's binding is
    the one wrapped; the engine imports ``parquet_lsn_range`` from
    ``wal`` at call time and the gate and table methods are looked up on
    their classes, so those are wrapped where they are defined."""
    from milvus_cdc_spark import session
    from milvus_cdc_spark.plans.manifest import SnapshotTable
    from milvus_cdc_spark.streaming import engine, wal

    def after_apply(res, args, kwargs):
        if isinstance(res, dict) and not res.get("skipped"):
            tracer.apply_results.append(
                {
                    "run": tracer.run_id,
                    "n_events": int(res.get("n_events") or 0),
                    "touched": len(res.get("touched_buckets") or []),
                    "rows": int(res.get("n_keys_live_in_touched") or 0),
                    "timings": dict(res.get("timings") or {}),
                }
            )

    def after_begin(res, args, kwargs):
        files = args[2] if len(args) > 2 else kwargs.get("files", [])
        tracer.count("wal.files", len(files))

    def after_footer(res, args, kwargs):
        tracer.count("wal.footer_reads")

    orig_commit = SnapshotTable.commit

    def commit_probe(self, epoch, **kw):
        # a commit whose base is no longer CURRENT had to rebase over (or
        # lose to) a concurrent writer — the background fold on MOR
        base = kw.get("base")
        if tracer.enabled and base is not None:
            if self._current_version() != base.version:
                tracer.count("manifest.commit_conflicts")
        return orig_commit(self, epoch, **kw)

    undo = [lambda: setattr(SnapshotTable, "commit", orig_commit)]
    SnapshotTable.commit = commit_probe
    undo += [
        tracer.wrap(session, "get_spark", "session.get_spark"),
        tracer.wrap(engine, "apply_batch", "apply.epoch", after_apply),
        tracer.wrap(wal, "parquet_lsn_range", "wal.footer_read", after_footer),
        tracer.wrap(wal.WalGate, "stage", "wal.stage"),
        tracer.wrap(wal.WalGate, "groups", "wal.groups"),
        tracer.wrap(wal.WalGate, "begin", "wal.begin", after_begin),
        tracer.wrap(wal.WalGate, "done", "wal.done"),
        tracer.wrap(SnapshotTable, "current", "manifest.current"),
        tracer.wrap(SnapshotTable, "commit", "manifest.commit"),
        tracer.wrap(SnapshotTable, "compact_buckets", "manifest.fold"),
        tracer.wrap(SnapshotTable, "read", "manifest.read"),
        tracer.wrap(SnapshotTable, "stats", "manifest.stats"),
    ]

    def uninstall():
        for u in reversed(undo):
            u()

    return uninstall


# -- analysis ---------------------------------------------------------------


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict[str, Any]]) -> dict[int, float]:
    """Span id → duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - _covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def tree(spans: list[dict[str, Any]], root_id: int) -> list[dict[str, Any]]:
    """The span ``root_id`` and all its descendants."""
    kids: dict[int, list[dict[str, Any]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out, todo = [], [s for s in spans if s["id"] == root_id]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def breakdown(tracer: Tracer, drains: list[dict[str, Any]]) -> dict[str, float]:
    """Per-layer metrics, as means per traced drain.

    ``drains`` are the drain span records; each may carry ``spark_jobs``
    (jobs started while it ran). Means are additive, so the mean layer
    self times still sum to the mean drain time."""
    spans = tracer.spans
    own = self_times(spans)
    k = max(1, len(drains))
    out: dict[str, float] = defaultdict(float)
    epoch_durs: list[float] = []
    runs = set()
    for d in drains:
        runs.add(d["run"])
        members = tree(spans, d["id"])
        last_done = max(
            (s["end"] for s in members if s["name"] == "wal.done"),
            default=d["end"],
        )
        out["engine.drain_s"] += d["end"] - d["start"]
        out["engine.drain_tail_s"] += d["end"] - last_done
        out["engine.spark_jobs"] += d.get("spark_jobs", 0)
        for s in members:
            name, dur = s["name"], s["end"] - s["start"]
            layer = name.split(".", 1)[0]
            if s["id"] == d["id"]:
                out["engine.trigger_overhead_s"] += own[s["id"]]
            elif layer in LAYERS:
                out[f"{layer}.self_s"] += own[s["id"]]
            if name == "apply.epoch":
                out["engine.epochs"] += 1
                out["apply.epoch_s"] += dur
                epoch_durs.append(dur)
            elif name.startswith(("wal.", "manifest.")) and name != "wal.footer_read":
                out[f"{name}_s"] += dur
                out[f"{name}_calls"] += 1
    for s in spans:  # folds are concurrent roots, outside every drain tree
        if s["name"] == "manifest.fold" and s["run"] in runs:
            out["manifest.fold_s"] += s["end"] - s["start"]
            out["manifest.fold_calls"] += 1
    phase_sum = 0.0
    for r in tracer.apply_results:
        if r["run"] not in runs:
            continue
        out["apply.events"] += r["n_events"]
        out["apply.touched_buckets"] += r["touched"]
        out["apply.rows_written"] += r["rows"]
        for key, metric in APPLY_PHASES.items():
            v = float(r["timings"].get(key, 0.0))
            out[metric] += v
            phase_sum += v
    out["apply.commit_tail_s"] = out["apply.epoch_s"] - phase_sum
    res = {name: v / k for name, v in out.items()}
    res["apply.epoch_p50_s"] = statistics.median(epoch_durs) if epoch_durs else 0.0
    res["apply.rows_written_per_event"] = (
        out["apply.rows_written"] / out["apply.events"] if out["apply.events"] else 0.0
    )
    res["apply.events_per_busy_s"] = (
        out["apply.events"] / out["apply.epoch_s"] if out["apply.epoch_s"] else 0.0
    )
    epochs = out["engine.epochs"]
    res["wal.files_per_epoch"] = tracer.counts["wal.files"] / epochs if epochs else 0.0
    res["wal.footer_reads"] = tracer.counts["wal.footer_reads"] / k
    res["manifest.commit_conflicts"] = tracer.counts["manifest.commit_conflicts"] / k
    return res
