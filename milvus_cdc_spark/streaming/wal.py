"""The changelog source of parquet and Debezium file tasks: apply
changelog files in lsn order.

Why this exists: the changelog is a WAL — its files are lsn-ranged, and
OP_PATCH (read-modify-write, schemas.OP_PATCH) is only correct when every
event's anchor state is final before the patch applies. The changelog
writer emits its lsn-ranged files from parallel tasks, so their arrival
order and mtimes are effectively random: batching files as they appear
commits epochs over *disjoint, out-of-order* lsn ranges, and the same
patch log drained at different ``max_files_per_trigger`` values converges
to different (wrong) final states. INSERT/UPSERT/DELETE are order-
insensitive across batches (the (ts, rank, lsn) lattice in
operators/apply.py), so only batch *formation* needs fixing — in-batch
composition is already total-order correct.

This is the Spark analogue of the reference's per-channel ordered apply
(/root/reference/core/writer/replicate_message_manager.go:84-109: one
goroutine per channel draining packs strictly in seek order): the
channel's ordering contract lives in one driver-side gate over the file
queue, and everything downstream stays the same declarative plan.

Mechanism — a persistent ledger (``<checkpoint>/wal_ledger.json``) that
the task's poll loop (streaming/engine.py) drives once per tick:

- **stage**: list the changelog directory. Every data file present is a
  candidate (Spark's file-source visibility rule: no path component
  starting with ``.`` or ``_``), recorded with its (min_lsn, max_lsn)
  range read driver-side from the parquet footer statistics (pyarrow; one
  tiny metadata read per new file, cached in the ledger).
- **order**: candidates sort by (min_lsn, max_lsn, path). A candidate
  whose range cannot be read yet (mid-write) BLOCKS every file above it,
  so files landing in any order just shift work to later ticks — they can
  never reorder it.
- **apply**: the applicable prefix is cut into contiguous groups
  (≤ max_files_per_trigger files, extended over lsn-range overlaps) and
  each group applies as ONE apply_batch epoch.
- **crash safety**: a write-ahead *intent* (epoch, file-group) is
  persisted before the apply; on replay, an intent whose epoch the
  manifest already committed is skipped by the manifest's idempotence
  gate, otherwise the exact same group re-applies under the exact same
  epoch.

Append-order violations (a file appearing with lsns below the applied
high-watermark — a producer rewriting history; DLQ replay files are the
one sanctioned exception) and the disappearance of a listed-but-unapplied
file refuse loudly rather than converge to a silent wrong state.

Listing and ledger I/O go through ``plans/fs.get_fs``, so a root no
TableFS serves refuses when the gate is built instead of degrading.
Footer reads are one metadata read per new file; entries for applied
files that retention has deleted are pruned (the high-watermark keeps
the violation check alive without them). No Spark job runs unless a
group actually applies.
"""

from __future__ import annotations

import json
import os
from typing import Any, Callable

from milvus_cdc_spark.plans.fs import get_fs

LsnRange = tuple[int, int]

# log files the DLQ reprocess loop writes (plans/manifest.py::
# dlq_replay_dir): they re-inject quarantined rows at their ORIGINAL lsns
# by design, so they are exempt from the append-order check
DLQ_REPLAY_PREFIX = "dlq-replay-"


def parquet_lsn_range(path: str, col: str = "lsn") -> LsnRange | None:
    """(min, max) of ``col`` from the parquet footer, or None when the
    footer carries no usable statistics (caller falls back to a scan)."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        idx = names.index(col)
        mn: int | None = None
        mx: int | None = None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
        if mn is None:
            return (0, -1)  # zero-row file: applies anywhere, blocks nothing
        return (int(mn), int(mx))
    except Exception:
        # unreadable footer (mid-write), no statistics, or no lsn column
        # (a stray non-changelog parquet) — None means "range unknown";
        # the caller's fallback (a schema'd Spark scan) resolves it, and
        # a stray file resolves to the empty range so it flows into the
        # engine's loud malformed-event policy instead of silently
        # blocking the queue
        return None


class WalGate:
    """Per-task ordered-apply ledger over the changelog directory. Not
    thread-safe by design: one poll-loop thread drives it.

    ``order='name'`` (Debezium topic dumps: no parquet footers, files
    named in topic order) sorts by file name and reads no ranges."""

    def __init__(
        self,
        changelog_path: str,
        ledger_path: str,
        *,
        order: str = "lsn",
        range_fn: Callable[[str], LsnRange | None] | None = None,
    ):
        if order not in ("lsn", "name"):
            raise ValueError(f"order must be 'lsn' or 'name', got {order!r}")
        self.changelog_path = changelog_path
        self.ledger_path = ledger_path
        self.order = order
        self.range_fn = range_fn
        # both raise for a root no TableFS implementation serves
        self._fs = get_fs(changelog_path)
        self._ledger_fs = get_fs(ledger_path)
        self._state: dict[str, Any] | None = None
        self._listing: list[str] = []  # the last stage()'s candidates
        self._dirty = False

    # -- ledger persistence ------------------------------------------------
    def has_ledger(self) -> bool:
        return self._ledger_fs.exists(self.ledger_path)

    def _load(self) -> dict[str, Any]:
        if self._state is None:
            if self.has_ledger():
                self._state = json.loads(
                    self._ledger_fs.read_text(self.ledger_path)
                )
            else:
                self._state = {
                    "v": 1,
                    "next_epoch": 0,
                    "applied_hwm": None,
                    "files": {},
                    "intent": None,
                }
        return self._state

    def _save(self) -> None:
        self._ledger_fs.makedirs(os.path.dirname(self.ledger_path))
        self._ledger_fs.write_text_atomic(
            self.ledger_path, json.dumps(self._state)
        )
        self._dirty = False

    # -- candidate discovery ----------------------------------------------
    def _list(self) -> list[str]:
        root = self.changelog_path
        out = []
        for p, _mtime, _size in self._fs.walk_files(root):
            rel = os.path.relpath(p, root)
            if not any(s.startswith((".", "_")) for s in rel.split(os.sep)):
                out.append(p)
        return out

    def _entry(self, path: str) -> dict[str, Any]:
        files = self._load()["files"]
        e = files.get(path)
        if e is None:
            e = files[path] = {"min": None, "max": None, "applied": False}
            self._dirty = True
        if self.order == "lsn" and e["min"] is None and not e["applied"]:
            rng = (self.range_fn or parquet_lsn_range)(path)
            if rng is not None:
                e["min"], e["max"] = rng
                self._dirty = True
        return e

    # -- public surface ----------------------------------------------------
    def stage(self) -> None:
        """List the changelog directory: this tick's candidate set. Reads
        the range of every new (or still unreadable) file and refuses
        history rewrites and vanished files."""
        st = self._load()
        listing = self._list()
        present = set(listing)
        for p, e in st["files"].items():
            if not e["applied"] and p not in present:
                raise ValueError(
                    f"WAL file vanished before apply: {p} — changelog "
                    "retention deleted a listed file the gate had not yet "
                    "applied"
                )
        hwm = st["applied_hwm"]
        for p in listing:
            e = self._entry(p)
            if (
                self.order == "lsn"
                and not e["applied"]
                and e["min"] is not None
                and e["min"] <= e["max"]  # zero-row files carry no lsns
                and hwm is not None
                and e["min"] <= hwm
                and not os.path.basename(p).startswith(DLQ_REPLAY_PREFIX)
            ):
                raise ValueError(
                    f"WAL append-order violation: {p} carries lsn range "
                    f"[{e['min']}, {e['max']}] at/below the applied "
                    f"high-watermark {hwm} — the changelog producer "
                    "rewrote history"
                )
        self._listing = listing
        if self._dirty:
            self._save()

    def intent(self) -> tuple[int, list[str]] | None:
        it = self._load()["intent"]
        if it is None:
            return None
        return int(it["epoch"]), list(it["files"])

    def _sort_key(self, path: str):
        if self.order == "name":
            return (os.path.basename(path), path)
        e = self._load()["files"][path]
        # unknown range (unreadable footer / mid-write) sorts FIRST so it
        # blocks everything until it becomes readable — never reorders
        mn = e["min"] if e["min"] is not None else -(1 << 62)
        mx = e["max"] if e["max"] is not None else (1 << 62)
        return (mn, mx, path)

    def groups(self, max_files: int | None) -> list[tuple[int, list[str]]]:
        """Ordered applicable (epoch, file-group) list over the last
        stage()'s candidates. Numbers the epochs from the ledger; the
        caller must begin/done each group in order."""
        st = self._load()
        files = st["files"]
        applicable: list[str] = []
        for p in sorted(
            (p for p in self._listing if not files[p]["applied"]),
            key=self._sort_key,
        ):
            if self.order == "lsn" and files[p]["min"] is None:
                break  # unreadable range: blocks every file above it
            applicable.append(p)
        out: list[tuple[int, list[str]]] = []
        cap = max_files or len(applicable)
        group: list[str] = []
        group_max = None
        for p in applicable:
            e = files[p]
            overlap = (
                self.order == "lsn"
                and group_max is not None
                and e["min"] <= group_max
            )
            if group and len(group) >= cap and not overlap:
                out.append((st["next_epoch"] + len(out), group))
                group, group_max = [], None
            group.append(p)
            if self.order == "lsn":
                group_max = e["max"] if group_max is None else max(group_max, e["max"])
        if group:
            out.append((st["next_epoch"] + len(out), group))
        return out

    def begin(self, epoch: int, files: list[str]) -> None:
        st = self._load()
        st["intent"] = {"epoch": int(epoch), "files": list(files)}
        self._save()

    def done(self, epoch: int, files: list[str]) -> None:
        st = self._load()
        for p in files:
            e = st["files"].get(p)
            if e is not None:
                e["applied"] = True
                if self.order == "lsn" and e["max"] is not None:
                    if st["applied_hwm"] is None or e["max"] > st["applied_hwm"]:
                        st["applied_hwm"] = e["max"]
        st["intent"] = None
        st["next_epoch"] = max(st["next_epoch"], int(epoch) + 1)
        # prune: applied entries for files retention has already deleted
        present = set(self._listing)
        st["files"] = {
            p: e
            for p, e in st["files"].items()
            if p in present or not e["applied"]
        }
        self._save()

    def pending(self) -> int:
        """Listed-but-not-yet-applied file count (status surface)."""
        entries = list(self._load()["files"].values())
        return sum(1 for e in entries if not e["applied"])

    def blocker(self) -> str | None:
        """The lowest listed unapplied file whose lsn range cannot be read
        — what an lsn-ordered drain is waiting on — or None."""
        if self.order != "lsn":
            return None
        files = self._load()["files"]
        stuck = [
            p
            for p in list(self._listing)
            if p in files
            and not files[p]["applied"]
            and files[p]["min"] is None
        ]
        return min(stuck) if stuck else None

    def position(self) -> dict[str, Any]:
        """Ledger position, Spark-free: the last epoch the gate numbered,
        the applied lsn high-watermark and the pending file count."""
        st = self._load()
        return {
            "last_epoch": st["next_epoch"] - 1 if st["next_epoch"] else None,
            "applied_hwm": st["applied_hwm"],
            "pending_files": self.pending(),
        }
