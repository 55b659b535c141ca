"""Task engine: tail the changelog, apply each epoch exactly once.

The analogue of the reference's task runtime
(/root/reference/server/cdc_impl.go:504-597 ``startInternal`` building the
reader→writer graph, :796-877 the DML apply loop). A parquet or Debezium
*file task* is one driver-side poll loop over one ordering mechanism:

    changelog dir --WalGate (list, lsn-order, intent)--> apply_batch --> SnapshotTable

- **Position/resume**: the WAL ledger (``<checkpoint>/wal_ledger.json``,
  streaming/wal.py) records which files applied under which epoch
  (reference: positions persisted per pack, server/cdc_impl.go:844-873);
  pause = stop the loop, resume = start it again over the same ledger. A
  group replayed after a crash hits the epoch-idempotence gate in
  apply_batch and is skipped.
- **Pacing**: ``max_files_per_trigger`` bounds an epoch's file group
  (reference: readChanLen/backpressure, doc/cdc-usage.md:81-82). A
  continuous task ticks back to back while groups apply and at most once
  per second while idle; an ``available_now`` run returns once every
  listed file has applied.
- **Error pause**: a failing epoch stops the loop with the reason
  recorded (reference pause-on-error, server/cdc_impl.go:972-1003).
- **Multi-collection tasks** (``MultiCdcTask``) drain a MULTIPLEXED log:
  per-collection slices are MERGEd CONCURRENTLY (reference: one goroutine
  per channel stream, core/reader/replicate_channel_manager.go:809-825),
  and namespace (database) DDL — CREATE_NAMESPACE/DROP_NAMESPACE, the
  CreateDatabase/DropDatabase analogue (core/writer/channel_writer.go:
  102-114) — routes ``<ns>.<table>`` names into per-namespace directories.

Kafka tasks are the one Structured Streaming query: the broker's
per-partition order and Spark's offset checkpoint replace the gate.
"""

from __future__ import annotations

import json
import os
import threading
import time
from typing import Any, Callable

from pyspark.sql import SparkSession

from milvus_cdc_spark.operators.apply import apply_batch
from milvus_cdc_spark.plans.manifest import SnapshotTable
from milvus_cdc_spark.schemas import TRANSCRIPTS_BASE_COLUMNS
from milvus_cdc_spark.sources.changelog import read_changelog
from milvus_cdc_spark.sources.debezium import read_debezium

# a continuous file task starts at most one idle tick per this many
# seconds (the cadence of the processingTime trigger it replaced)
_IDLE_TICK_SEC = 1.0


class FailProtect:
    """Error-rate protection: a task keeps retrying transient failures,
    but >= ``max_failures`` failures inside a sliding ``window_sec`` trip
    it to Paused — the reference's writer fail-protection
    (/root/reference/core/writer/fail_protect.go:28-99: per-window failure
    counter + trip)."""

    def __init__(
        self,
        max_failures: int = 3,
        window_sec: float = 60.0,
        backoff_sec: float = 0.5,
    ):
        self.max_failures = max_failures
        self.window_sec = window_sec
        self.backoff_sec = backoff_sec
        self.failure_ts: list[float] = []

    def record_failure(self, now: float | None = None) -> bool:
        """Record one failure; True = tripped (stop retrying)."""
        now = time.time() if now is None else now
        self.failure_ts.append(now)
        self.failure_ts = [t for t in self.failure_ts if now - t <= self.window_sec]
        return len(self.failure_ts) >= self.max_failures


def _kafka_stream(
    spark, changelog_path: str, kafka_options: dict, multi_table: bool
):
    """Build the decoded Kafka changelog stream from a task's options.
    The topic defaults to ``changelog_path`` so registry specs keep one
    'log' field across all sources."""
    from milvus_cdc_spark.sources.kafka import read_kafka_stream

    ko = dict(kafka_options)
    return read_kafka_stream(
        spark,
        ko.pop("bootstrap_servers"),
        ko.pop("topic", None) or changelog_path,
        value_format=ko.pop("value_format", "native"),
        multi_table=multi_table,
        starting_offsets=ko.pop("starting_offsets", "earliest"),
        max_offsets_per_trigger=ko.pop("max_offsets_per_trigger", None),
        options=ko,
    )


class _TaskLifecycle:
    """Shared task lifecycle: start/pause/resume/drain + persisted status.

    States mirror the reference task lifecycle Initial/Running/Paused
    (server/model/meta/task.go:29-42); state is derived from the live
    query handle + a small JSON status file next to the checkpoint, which
    is what lets a CLI in ANOTHER process see/manage the task
    (streaming/registry.py)."""

    query = None
    last_error: str | None = None
    auto_compact_files: int | None = None

    def _init_lifecycle(self, checkpoint_dir: str) -> None:
        self.checkpoint_dir = checkpoint_dir
        self._status_path = os.path.join(checkpoint_dir, "task_status.json")
        self._fold_pool = None
        # MultiCdcTask calls _maybe_compact concurrently from per-table
        # worker threads; the lazy pool init must not race (two pools,
        # one leaked with a live non-daemon worker)
        self._fold_pool_lock = threading.Lock()
        self._fold_futures: dict[str, Any] = {}
        self._fold_errors: dict[str, str] = {}

    def _maybe_compact(self, table) -> None:
        """Merge-on-read housekeeping at an epoch boundary, NON-BLOCKING
        and PER-BUCKET: once a bucket's delta chain exceeds
        ``auto_compact_files`` files, fold the over-threshold buckets ONLY
        (SnapshotTable.compact_buckets — cost ∝ the offending chains, not
        table size: one hot bucket no longer imposes an O(table) rewrite
        at the epoch boundary) on a background worker, so the epoch loop
        never stalls behind the rewrite (Iceberg rewrite_data_files on a
        file-count trigger; the reference leans on Milvus target-side
        auto-compaction). Concurrency safety is owned by the storage
        layer: the fold commits by BUCKET-LEVEL CAS — buckets that gained
        a delta mid-fold are skipped and re-folded next trigger — and the
        epoch commit REBASES its delta append over a fold commit
        (manifest.commit's maintenance rebase), so neither side ever
        fails the other. One fold in flight per table; a failed fold is
        recorded (status ``fold_errors``) and retried at the next
        boundary — reads stay correct either way, just costlier until
        folded (test_mor.py pins overlap + final-state equality)."""
        if not self.auto_compact_files:
            return
        fut = self._fold_futures.get(table.root)
        if fut is not None:
            if not fut.done():
                return
            exc = fut.exception()
            self._fold_futures.pop(table.root, None)
            if exc is not None:
                self._fold_errors[table.root] = repr(exc)
        m = table.current()
        hot = [
            int(b)
            for b, v in m.files.items()
            if len(v) > self.auto_compact_files
        ]
        if not hot:
            return
        with self._fold_pool_lock:
            if self._fold_pool is None:
                from concurrent.futures import ThreadPoolExecutor

                self._fold_pool = ThreadPoolExecutor(
                    max_workers=2, thread_name_prefix="bucket-fold"
                )
        self._fold_futures[table.root] = self._fold_pool.submit(
            table.compact_buckets, self.spark, hot
        )

    def _join_folds(self) -> None:
        """Wait out in-flight background folds at a clean stop (drain
        completion / pause): the fold tolerates concurrent writers, but
        stopping shouldn't leave an orphan thread running Spark jobs."""
        for root, fut in list(self._fold_futures.items()):
            try:
                fut.result()
            except Exception as e:  # recorded, retried next start
                self._fold_errors[root] = repr(e)
            self._fold_futures.pop(root, None)

    def start(self, available_now: bool = False):  # pragma: no cover - abstract
        raise NotImplementedError

    def _poll(
        self,
        work: Callable[[threading.Event], bool],
        available_now: bool,
        idle_sec: float,
    ):
        """Start the task's poll loop. ``work(stop)`` runs one tick and
        returns whether it did anything; ticks run back to back while it
        does. An idle tick ends an ``available_now`` run once
        ``_drained()`` holds, and otherwise the next tick starts
        ``idle_sec`` after the idle one started."""

        def _loop(stop_event):
            while not stop_event.is_set():
                t0 = time.monotonic()
                if work(stop_event):
                    continue
                if available_now and self._drained():
                    return
                stop_event.wait(max(0.0, idle_sec - (time.monotonic() - t0)))

        self.query = _LoopQuery(_loop).start()
        self._write_status("Running")
        return self.query

    def _drained(self) -> bool:
        """An idle tick means drained, unless the source says otherwise."""
        return True

    def _stall_reason(self) -> str:
        """What a timed-out drain was waiting on (pause-reason suffix)."""
        return ""

    def pause(self, reason: str | None = None):
        if self.query is not None:
            self.query.stop()
            self.query = None
        self._join_folds()
        self._write_status("Paused", reason=reason)

    def _pause_on_timeout(self) -> None:
        # stop first, so the stall reason reads a quiescent source
        if self.query is not None:
            self.query.stop()
            self.query = None
        self.pause(reason="drain wall timeout" + self._stall_reason())

    def resume(self, available_now: bool = False):
        return self.start(available_now=available_now)

    def wait_drained(self, timeout_sec: float = 600.0) -> bool:
        """Block until an availableNow run finishes; record errors. A
        timeout pauses the task, naming what the drain was waiting on."""
        assert self.query is not None
        try:
            ok = self.query.awaitTermination(timeout_sec)
            if ok:
                self._join_folds()
                self._write_status("Stopped")
            else:
                self._pause_on_timeout()
            return bool(ok)
        except Exception as e:  # error → pause with reason (reference C4)
            self.last_error = str(e)
            self._write_status("Paused", reason=self.last_error[:500])
            raise

    def drain_protected(
        self,
        protect: FailProtect | None = None,
        timeout_sec: float = 600.0,
        pause_check: Callable[[], bool] | None = None,
        poll_sec: float = 0.3,
    ) -> bool:
        """Drain with error-rate protection: restart after a transient
        failure (ledger + per-epoch idempotence make the replay safe),
        pause with reason once the failure rate trips ``protect``.

        ``pause_check`` is polled between ``poll_sec`` await slices so a
        CROSS-PROCESS pause request (registry sentinel) stops a long drain
        at the next batch boundary instead of being ignored until the
        drain completes.

        Returns True when fully drained, False when paused or tripped.
        """
        protect = protect or FailProtect()
        deadline = time.time() + timeout_sec
        while True:
            try:
                if self.query is None or not self.query.isActive:
                    # a query left over from a PREVIOUS completed drain is
                    # terminated — holding onto it would make an in-process
                    # re-drain return instantly without reading anything
                    # new; restarting is free when there is nothing to do
                    # (the availableNow run sees no new input and stops).
                    # Inside the try: a Kafka query's start() can fail,
                    # and must route into fail-protect like any other
                    # batch failure.
                    self.start(available_now=True)
                while True:
                    remaining = deadline - time.time()
                    if remaining <= 0:
                        self._pause_on_timeout()
                        return False
                    if pause_check is not None and pause_check():
                        self.pause(reason="pause requested")
                        return False
                    slice_sec = (
                        remaining if pause_check is None
                        else min(poll_sec, max(0.05, remaining))
                    )
                    if self.query.awaitTermination(slice_sec):
                        self._join_folds()
                        self._write_status("Stopped")
                        return True
                    if pause_check is None:
                        self._pause_on_timeout()
                        return False
            except Exception as e:
                self.query = None
                self.last_error = str(e)
                if protect.record_failure():
                    self._write_status(
                        "Paused",
                        reason="fail-protect tripped "
                        f"({protect.max_failures} failures in "
                        f"{protect.window_sec}s): {self.last_error[:400]}",
                    )
                    return False
                time.sleep(protect.backoff_sec)

    def status(self) -> dict[str, Any]:
        st = {"state": "Running" if self.query and self.query.isActive else "Stopped"}
        if os.path.exists(self._status_path):
            with open(self._status_path) as f:
                st.update(json.loads(f.read()))
            st["state"] = (
                "Running"
                if self.query and self.query.isActive
                else st.get("persisted_state", "Stopped")
            )
        if self._fold_errors:
            st["fold_errors"] = dict(self._fold_errors)
        st.update(self._status_extra())
        return st

    def _status_extra(self) -> dict[str, Any]:
        return {}

    def _write_status(self, state: str, reason: str | None = None):
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        with open(self._status_path, "w") as f:
            f.write(
                json.dumps(
                    {"persisted_state": state, "reason": reason, "ts": time.time()}
                )
            )


class _FileTask(_TaskLifecycle):
    """What single- and multi-collection replication tasks share: one
    constructor validation block, the WAL-gated file source on the poll
    loop, and the Kafka query. Subclasses set ``_multi`` (which changelog
    schema a file group is read with) and provide ``_apply_epoch(df,
    epoch) -> skipped`` (how one epoch applies; True when it was skipped
    as already committed) and ``_table_roots()`` (the tables they
    write)."""

    _multi = False

    def __init__(
        self,
        spark: SparkSession,
        changelog_path: str,
        checkpoint_dir: str,
        *,
        max_files_per_trigger: int | None = 4,
        n_buckets: int = 16,
        write_mode: str = "cow",
        auto_compact_files: int | None = None,
        on_malformed: str = "fail",
        constraints: list[str] | None = None,
        on_violation: str = "fail",
        source: str = "parquet",
        history_path: str | None = None,
        kafka_options: dict | None = None,
    ):
        if source not in ("parquet", "debezium", "kafka"):
            raise ValueError(
                "source must be 'parquet', 'debezium', or 'kafka', got "
                f"{source!r}"
            )
        if history_path and source != "debezium":
            raise ValueError(
                "history_path only applies to source='debezium' (the "
                "native parquet/kafka changelogs carry DDL inline)"
            )
        if source == "kafka":
            if not (kafka_options or {}).get("bootstrap_servers"):
                raise ValueError(
                    "source='kafka' requires kafka_options="
                    "{'bootstrap_servers': ..., [topic/value_format/"
                    "starting_offsets/max_offsets_per_trigger/...]}; the "
                    "topic defaults to changelog_path"
                )
        elif kafka_options:
            raise ValueError("kafka_options only applies to source='kafka'")
        self.spark = spark
        self.changelog_path = changelog_path
        self.on_malformed = on_malformed
        self.constraints = list(constraints or [])
        self.on_violation = on_violation
        # 'parquet' = native changelog files; 'debezium' = JSON-lines
        # Debezium envelopes, normalized to the same schema at the scan
        # (sources/debezium.py); 'kafka' = an MQ topic decoded at the
        # value column (sources/kafka.py — the reference's own source
        # shape, core/reader/stream_creator.go:39-159) — everything
        # downstream is identical
        self.source = source
        self.kafka_options = dict(kafka_options or {})
        self.max_files_per_trigger = max_files_per_trigger
        self.n_buckets = n_buckets
        self.write_mode = write_mode
        # merge-on-read housekeeping: compact at the NEXT epoch boundary
        # once any bucket's delta chain exceeds this many files, bounding
        # read-side resolution cost without blocking the hot path mid-epoch
        # (the reference relies on Milvus auto-compaction target-side; in
        # Iceberg terms this is rewrite_data_files on a file-count trigger)
        self.auto_compact_files = auto_compact_files
        self._init_lifecycle(checkpoint_dir)
        # the WAL gate IS the file source: files apply in lsn order
        # whatever order they land in — REQUIRED for OP_PATCH correctness
        # (a patch must not commit before its anchor's epoch,
        # schemas.OP_PATCH). Kafka has no files to re-form: the broker
        # delivers each partition in order (the reference's per-channel
        # contract; sources/kafka.py ordering contract).
        self._gate = None
        if source != "kafka":
            from milvus_cdc_spark.streaming.wal import WalGate

            self._gate = WalGate(
                changelog_path,
                os.path.join(checkpoint_dir, "wal_ledger.json"),
                # debezium topic dumps carry no parquet footers; their
                # files are named in topic order, so name order IS lsn
                # order (documented producer contract)
                order="lsn" if source == "parquet" else "name",
                range_fn=self._lsn_range_fn if source == "parquet" else None,
            )
            if not self._gate.has_ledger():
                # a fresh ledger numbers epochs from 0, which the manifest
                # gate of a table that already committed them would skip
                for root in self._table_roots():
                    t = SnapshotTable(root)
                    if t.exists() and any(
                        int(e) >= 0 for e in t.current().epochs
                    ):
                        raise ValueError(
                            f"table {root} already holds committed epochs "
                            f"but {self._gate.ledger_path} is missing: a "
                            "new ledger would restart epoch ids at 0 and "
                            "the table would skip them — restore the "
                            "ledger or replicate into a fresh table"
                        )
        # Debezium schema-change topic directory, decoded CURSORED: only
        # not-yet-committed topic files decode (sources/debezium.py::
        # HistoryCursor), and the decoded DDL rides the next epoch
        self.history_path = history_path
        self._hist = None
        if history_path:
            from milvus_cdc_spark.sources.debezium import HistoryCursor

            self._hist = HistoryCursor(
                history_path,
                os.path.join(checkpoint_dir, "history_cursor.json"),
            )

    # -- the WAL-gated file source --------------------------------------------
    def _read(self, files: list[str]):
        """One file group as a plain batch DataFrame (vectorized scan)."""
        if self.source == "debezium":
            return read_debezium(self.spark, *files, multi_table=self._multi)
        return read_changelog(self.spark, *files, multi_table=self._multi)

    def _lsn_range_fn(self, path: str):
        """Footer stats first; a schema'd Spark scan as the documented
        fallback for stat-less files. A parquet file with NO lsn values
        (a stray non-changelog file) resolves to the empty range so it
        applies immediately and the malformed-event policy owns it LOUDLY
        (fail/dlq) — silent queue-blocking is reserved for files that are
        genuinely unreadable (mid-write)."""
        from milvus_cdc_spark.streaming import wal

        rng = wal.parquet_lsn_range(path)
        if rng is not None:
            return rng
        try:
            from pyspark.sql import functions as F

            r = (
                read_changelog(self.spark, path)
                .agg(F.min("lsn"), F.max("lsn"))
                .collect()[0]
            )
            if r[0] is None:
                return (0, -1)
            return (int(r[0]), int(r[1]))
        except Exception:
            return None  # truly unreadable: keep blocking, retry next tick

    def _apply_files(
        self, files: list[str], epoch: int, with_history: bool = True
    ) -> None:
        """Apply one file group as one epoch."""
        batch_df = self._read(files)
        hist = self._hist if with_history else None
        if hist is not None:
            # the cursor advances AFTER the epoch commits, so a crash
            # replays the same DDL into the idempotent manifest
            ev = hist.events(self.spark, multi_table=self._multi)
            if ev is not None:
                batch_df = batch_df.unionByName(ev)
        skipped = self._apply_epoch(batch_df, epoch)
        # never advance the cursor past DDL a SKIPPED epoch did not apply
        if hist is not None and not skipped:
            hist.commit()

    def _gate_tick(self, stop: threading.Event) -> bool:
        """One poll: list the changelog, resolve a crash-parked intent,
        apply every applicable group in lsn order (stopping early at a
        group boundary when the loop is stopped). True if anything
        applied."""
        gate = self._gate
        gate.stage()
        applied = False
        it = gate.intent()
        if it is not None:
            ep, grp = it
            # idempotent: a group whose epoch already committed is skipped
            # by the manifest gate; otherwise this is the crash replay.
            # History stays OUT of intent replays — new topic files ride
            # the next fresh group instead (the engine tolerates DDL
            # arriving after its data via the bag/pending-widen paths)
            self._apply_files(grp, ep, with_history=False)
            gate.done(ep, grp)
            applied = True
        for ep, grp in gate.groups(self.max_files_per_trigger):
            if stop.is_set():
                break
            gate.begin(ep, grp)
            self._apply_files(grp, ep)
            gate.done(ep, grp)
            applied = True
        return applied

    def _drained(self) -> bool:
        return self._gate.pending() == 0

    def _stall_reason(self) -> str:
        blocker = self._gate.blocker() if self._gate is not None else None
        return f": waiting on {blocker} (lsn range unreadable)" if blocker else ""

    # -- lifecycle (reference C1-C4, server/cdc_api.go:26-36) -------------
    def start(self, available_now: bool = False):
        if self._gate is not None:
            return self._poll(self._gate_tick, available_now, _IDLE_TICK_SEC)
        stream = _kafka_stream(
            self.spark, self.changelog_path, self.kafka_options,
            multi_table=self._multi,
        )
        writer = (
            stream.writeStream.foreachBatch(self._apply_epoch)
            .option("checkpointLocation", self.checkpoint_dir)
            .queryName(f"cdc:{self.checkpoint_dir}")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime="1 second")
        self.query = writer.start()
        self._write_status("Running")
        return self.query

    def _status_extra(self) -> dict[str, Any]:
        if self._gate is None:
            return {}
        # listed files the gate is still holding (0 on a drained log)
        return {"wal_pending_files": self._gate.pending()}


class CdcTask(_FileTask):
    """One replication task: changelog path → SnapshotTable."""

    def __init__(
        self,
        spark: SparkSession,
        changelog_path: str,
        table_root: str,
        checkpoint_dir: str,
        **kw,
    ):
        self.table = SnapshotTable(table_root)
        super().__init__(spark, changelog_path, checkpoint_dir, **kw)
        if not self.table.exists():
            self.table.create(
                TRANSCRIPTS_BASE_COLUMNS, n_buckets=self.n_buckets,
                write_mode=self.write_mode,
            )

    def _table_roots(self) -> list[str]:
        return [self.table.root]

    def _apply_epoch(self, batch_df, epoch: int) -> bool:
        res = apply_batch(
            self.spark,
            self.table,
            batch_df,
            epoch,
            on_malformed=self.on_malformed,
            constraints=self.constraints,
            on_violation=self.on_violation,
        )
        self._maybe_compact(self.table)
        return bool(res.get("skipped"))

    def _status_extra(self) -> dict[str, Any]:
        m = self.table.current()
        return {
            "snapshot_id": m.snapshot_id,
            "table_version": m.version,
            "epochs_committed": len(m.epochs),
            "summary": m.summary,
            **super()._status_extra(),
        }


class CollectionFilter:
    """The should-read predicate at engine level: wildcard-or-list minus
    excludes, the reference's task collection model (a task replicates N
    named collections or '*' minus an exclude list,
    /root/reference/server/cdc_impl.go:1195-1208).

    ``includes=None`` means wildcard '*'. Namespaced collections are named
    ``<ns>.<table>``; a bare namespace name in ``excludes`` excludes every
    collection in it."""

    def __init__(
        self, includes: list[str] | None = None, excludes: list[str] | tuple = ()
    ):
        self.includes = list(includes) if includes is not None else None
        self.excludes = set(excludes)

    def _excluded(self, name: str) -> bool:
        ns = name.split(".", 1)[0]
        return name in self.excludes or (ns != name and ns in self.excludes)

    def should_read(self, name: str) -> bool:
        if self._excluded(name):
            return False
        return self.includes is None or name in self.includes

    def should_read_namespace(self, ns: str) -> bool:
        """Namespace DDL applies when ANY subscribed collection can live in
        the namespace: wildcard (minus an excluded ns), or an include entry
        under ``ns.``."""
        if self._excluded(ns):
            return False
        if self.includes is None:
            return True
        return any(i == ns or i.startswith(ns + ".") for i in self.includes)

    def predicate(self):
        """Spark Column form — pushed into the epoch's scan so
        excluded collections' events are pruned before any shuffle.
        Namespace-level ops ride through (they're matched on the bare
        namespace name and re-checked driver-side)."""
        from pyspark.sql import functions as F

        from milvus_cdc_spark import schemas as S

        pred = F.lit(True)
        if self.includes is not None:
            pred = (
                F.col("table_name").isin(*self.includes)
                if self.includes
                else F.lit(False)  # explicit empty subscription reads nothing
            )
        if self.excludes:
            ex = sorted(self.excludes)
            pred = pred & ~F.col("table_name").isin(*ex)
            # prefix-exclude namespaced collections under an excluded ns
            from functools import reduce

            pred = pred & reduce(
                lambda acc, ns: acc
                & ~F.col("table_name").startswith(ns + "."),
                ex,
                F.lit(True),
            )
        # null table_name must REACH apply_multi's malformed gate (isin/
        # startswith on NULL yield NULL → the row would silently vanish
        # here instead of failing loudly or landing in the task dlq)
        return (
            pred
            | F.col("op").isin(*S.NAMESPACE_OPS)
            | F.col("table_name").isNull()
        )


class MultiCdcTask(_FileTask):
    """One replication task over a MULTIPLEXED changelog: N collections'
    events ride one ordered log (``table_name`` column); each epoch's batch
    is split per collection and MERGEd into that collection's own
    SnapshotTable under ``tables_root/<name>`` (``tables_root/<ns>/<table>``
    for namespaced collections).

    The reference shape: a task owns several collection readers feeding
    shared channels (server/cdc_impl.go:1195-1208 collection discovery +
    should-read; core/reader/collection_reader.go). Exactly-once holds
    PER TABLE: each table's manifest has its own epoch gate, so a batch
    retried after a partial failure skips the tables that already
    committed and applies the rest.

    Per-collection MERGEs run CONCURRENTLY from a thread pool — Spark's
    scheduler interleaves the independent jobs, so batch wall time tracks
    max(per-table) instead of sum(per-table) (the reference applies
    collections concurrently, one goroutine per channel stream,
    core/reader/replicate_channel_manager.go:809-825). The single-writer
    commit protocol holds per table: each table's manifest has exactly one
    writer thread per batch.

    Namespace DDL (reference CreateDatabase/DropDatabase,
    core/writer/channel_writer.go:102-114): CREATE_NAMESPACE is an
    idempotent mkdir + marker; DROP_NAMESPACE records a namespace-level
    truncate watermark and fans a synthetic TRUNCATE event out to every
    table in the namespace — including tables FIRST SEEN in a later batch,
    which inherit the watermark on create, so late DML older than the drop
    loses under any batch ordering (the same strict-< watermark model as
    OP_TRUNCATE; see schemas.py).
    """

    NS_MARKER = "_namespace.json"
    _multi = True

    def __init__(
        self,
        spark: SparkSession,
        changelog_path: str,
        tables_root: str,
        checkpoint_dir: str,
        *,
        collections: list[str] | None = None,
        excludes: list[str] | tuple = (),
        max_concurrency: int = 8,
        **kw,
    ):
        self.tables_root = tables_root
        self.filter = CollectionFilter(collections, excludes)
        self.max_concurrency = max_concurrency
        self.tables: dict[str, SnapshotTable] = {}
        super().__init__(spark, changelog_path, checkpoint_dir, **kw)

    def _table_roots(self) -> list[str]:
        from milvus_cdc_spark.streaming.registry import _walk_tables

        return [root for _name, root in _walk_tables(self.tables_root)]

    # -- naming / namespaces ----------------------------------------------
    def _table_path(self, name: str) -> str:
        segs = name.split(".")
        if len(segs) > 2 or any(
            (not s) or "/" in s or s.startswith((".", "_")) for s in segs
        ):
            raise ValueError(f"invalid collection name: {name!r}")
        return os.path.join(self.tables_root, *segs)

    def table(self, name: str) -> SnapshotTable:
        """Idempotent create-on-first-event (reference skip-if-exists,
        core/writer/milvus_handler.go:119-125). A table created inside a
        namespace that was ALREADY dropped inherits the namespace's
        truncate watermark via the synthetic-TRUNCATE injection in
        ``_per_table_batch`` (not here — create stays metadata-only)."""
        t = self.tables.get(name)
        if t is None:
            t = SnapshotTable(self._table_path(name))
            if not t.exists():
                t.create(
                    TRANSCRIPTS_BASE_COLUMNS, n_buckets=self.n_buckets,
                    write_mode=self.write_mode,
                )
            self.tables[name] = t
        return t

    def _ns_marker_path(self, ns: str) -> str:
        return os.path.join(self.tables_root, ns, self.NS_MARKER)

    def _ensure_namespace(self, ns: str) -> None:
        path = self._ns_marker_path(ns)
        if not os.path.exists(path):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                f.write(json.dumps({"created_ts": time.time()}))
            os.replace(tmp, path)

    def _record_ns_drop(self, ns: str, ts, lsn: int) -> None:
        """Persist max(drop watermark) for the namespace — atomic replace,
        monotonic under replays (a crash-replayed batch re-records the
        same watermark)."""
        self._ensure_namespace(ns)
        path = self._ns_marker_path(ns)
        with open(path) as f:
            meta = json.loads(f.read())
        iso = ts.isoformat(sep=" ")
        if meta.get("drop_watermark") is None or iso > meta["drop_watermark"]:
            meta["drop_watermark"] = iso
            meta["drop_lsn"] = int(lsn)
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                f.write(json.dumps(meta))
            os.replace(tmp, path)

    def _ns_watermark(self, ns: str) -> tuple[str, int] | None:
        path = self._ns_marker_path(ns)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            meta = json.loads(f.read())
        if meta.get("drop_watermark") is None:
            return None
        return meta["drop_watermark"], int(meta["drop_lsn"])

    def _existing_tables_in_ns(self, ns: str) -> list[str]:
        d = os.path.join(self.tables_root, ns)
        if not os.path.isdir(d):
            return []
        return sorted(
            f"{ns}.{t}"
            for t in os.listdir(d)
            if os.path.exists(os.path.join(d, t, "meta", "CURRENT"))
        )

    def _truncate_row(self, iso_ts: str, lsn: int):
        """Synthetic TRUNCATE changelog row carrying a namespace-drop
        watermark into one table's apply. Reuses the drop event's real log
        lsn: globally unique in the source log, so the per-batch duplicate-
        lsn gate can never collide it with genuine DML."""
        from datetime import datetime

        from milvus_cdc_spark import schemas as S

        return self.spark.createDataFrame(
            [
                (
                    lsn,
                    datetime.fromisoformat(iso_ts),
                    0,
                    S.OP_TRUNCATE,
                    None, None, None, None, None,
                    "{}",
                    None,
                )
            ],
            S.CHANGELOG_SCHEMA,
        )

    # -- the per-batch fanout ----------------------------------------------
    def apply_multi(self, batch_df, epoch_id: int) -> bool:
        """Split one multiplexed batch per collection and MERGE each slice
        concurrently. Public so batch-style callers (probes, backfills)
        can drive the same fanout the task uses. Returns whether the epoch
        was skipped as already committed on any table it touched — the
        signal that holds back the history cursor, whose DDL must reach
        every table of the epoch."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import functions as F

        from milvus_cdc_spark import schemas as S

        batch_df = batch_df.filter(self.filter.predicate())
        # ONE bookkeeping scan: which subscribed collections actually have
        # rows in THIS batch (so an N-collection subscription doesn't
        # commit N empty epochs per trigger), plus the rare namespace ops
        # fixed-width maxes only (a max(struct) buffer would plan the whole
        # scan as SortAggregate — the 50-150µs/row cliff apply.py documents).
        # ns_drop_ts / ns_drop_lsn may come from different DROP events when
        # several hit one batch; the watermark only needs max(ts) plus SOME
        # real log lsn (uniqueness vs DML is what matters, see _truncate_row)
        info = (
            batch_df.groupBy("table_name")
            .agg(
                F.count(F.lit(1)).alias("n_all"),
                F.sum(
                    F.when(~F.col("op").isin(*S.NAMESPACE_OPS), 1).otherwise(0)
                ).alias("n_rows"),
                F.max(
                    F.when(F.col("op") == S.OP_DROP_NAMESPACE, F.col("ts"))
                ).alias("ns_drop_ts"),
                F.max(
                    F.when(F.col("op") == S.OP_DROP_NAMESPACE, F.col("lsn"))
                ).alias("ns_drop_lsn"),
                F.max(
                    F.when(F.col("op") == S.OP_CREATE_NAMESPACE, F.lit(True))
                ).alias("ns_create"),
            )
            .collect()
        )
        # events with a NULL table_name are unroutable — without this gate
        # they'd silently vanish (no per-table slice ever matches NULL).
        # fail mode raises BEFORE any per-table apply commits; dlq mode
        # quarantines them at the TASK level (<tables_root>/_dlq/epoch-N —
        # there is no table to own a per-table dlq) and routes the rest.
        null_grp = next((r for r in info if r["table_name"] is None), None)
        if null_grp is not None and null_grp["n_all"]:
            if self.on_malformed != "dlq":
                raise ValueError(
                    f"epoch {epoch_id}: {null_grp['n_all']} event(s) with "
                    "null table_name — unroutable; pass on_malformed='dlq' "
                    "to quarantine them and continue"
                )
            (
                batch_df.filter(F.col("table_name").isNull())
                .withColumn("_reason", F.lit("null table_name"))
                .write.mode("overwrite")
                .parquet(
                    os.path.join(
                        self.tables_root, "_dlq", f"epoch-{epoch_id}"
                    )
                )
            )
        names: set[str] = set()
        for r in info:
            nm = r["table_name"]
            if nm is None:
                continue  # quarantined (or raised) above
            if (r["ns_create"] or r["ns_drop_ts"] is not None) and (
                self.filter.should_read_namespace(nm)
            ):
                self._ensure_namespace(nm)
                if r["ns_drop_ts"] is not None:
                    self._record_ns_drop(nm, r["ns_drop_ts"], r["ns_drop_lsn"])
                    # the drop must also reach tables with NO rows in this
                    # batch — fan the watermark out to every existing table
                    names.update(
                        t
                        for t in self._existing_tables_in_ns(nm)
                        if self.filter.should_read(t)
                    )
            if r["n_rows"] and self.filter.should_read(nm):
                names.add(nm)

        ordered = sorted(names)
        # create-on-first-event OUTSIDE the pool: self.tables isn't locked
        tables = {n: self.table(n) for n in ordered}

        def one(name: str):
            df = batch_df.filter(F.col("table_name") == name).drop("table_name")
            if "." in name:
                wm = self._ns_watermark(name.split(".", 1)[0])
                if wm is not None:
                    df = df.unionByName(self._truncate_row(*wm))
            res = apply_batch(
                self.spark,
                tables[name],
                df,
                epoch_id,
                on_malformed=self.on_malformed,
                constraints=self.constraints,
                on_violation=self.on_violation,
            )
            self._maybe_compact(tables[name])
            return res

        if len(ordered) <= 1:
            return any(one(name).get("skipped") for name in ordered)
        results = []
        with ThreadPoolExecutor(
            max_workers=min(self.max_concurrency, len(ordered))
        ) as ex:
            futures = [(n, ex.submit(one, n)) for n in ordered]
            errors = []
            for n, fut in futures:
                try:
                    results.append(fut.result())
                except Exception as e:  # collect, let siblings finish
                    errors.append((n, e))
            if errors:
                # fail the epoch → the task's retry; per-table epoch gates
                # skip the tables that already committed
                name, err = errors[0]
                raise RuntimeError(
                    f"epoch {epoch_id}: {len(errors)} collection(s) failed, "
                    f"first = {name}"
                ) from err
        return any(r.get("skipped") for r in results)

    def _apply_epoch(self, batch_df, epoch: int) -> bool:
        return self.apply_multi(batch_df, epoch)

    def _status_extra(self) -> dict[str, Any]:
        out: dict[str, Any] = {"tables": {}}
        for name in sorted(self.tables):
            m = self.tables[name].current()
            out["tables"][name] = {
                "snapshot_id": m.snapshot_id,
                "table_version": m.version,
                "epochs_committed": len(m.epochs),
            }
        return {**out, **super()._status_extra()}


class _LoopQuery:
    """Duck-typed StreamingQuery over a driver-side poll loop.

    File tasks and the table-tailing tasks have no Spark streaming source,
    so there is no real StreamingQuery to manage — this shim runs the poll
    loop (``_TaskLifecycle._poll``) on a thread and exposes the members
    ``_TaskLifecycle`` actually uses (``awaitTermination``/``stop``/
    ``isActive``/``exception``), so the ENTIRE task surface
    (drain_protected's fail-protect + cross-process pause polling, tail's
    duration loop, pause/resume, persisted status) works unchanged. A
    loop exception surfaces from ``awaitTermination`` exactly like a
    StreamingQueryException would, which is what routes it into
    drain_protected's retry/trip path."""

    def __init__(self, fn: Callable[[threading.Event], None]):
        self._stop = threading.Event()
        self._done = threading.Event()
        self._exc: BaseException | None = None

        def _run():
            try:
                fn(self._stop)
            except BaseException as e:  # surfaced via awaitTermination
                self._exc = e
            finally:
                self._done.set()

        self._thread = threading.Thread(
            target=_run, name="task-loop", daemon=True
        )

    def start(self) -> "_LoopQuery":
        self._thread.start()
        return self

    @property
    def isActive(self) -> bool:
        return not self._done.is_set()

    def exception(self) -> BaseException | None:
        return self._exc

    def awaitTermination(self, timeout: float | None = None) -> bool:
        finished = self._done.wait(timeout)
        if finished and self._exc is not None:
            exc, self._exc = self._exc, None
            raise exc
        return finished

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._exc = None  # a pause() must not raise; drain paths re-raise


class CascadeTask(_TaskLifecycle):
    """Managed second-level replication: tail one SnapshotTable into
    another through its ``changes()`` diff, as a TASK with the same
    lifecycle every first-level tail has (create/drain/tail/pause/resume/
    position, fail-protect, cross-process pause) — the reference's
    always-on source→target topology (server/cdc_impl.go:213-320 runs
    replication as a managed task, not a one-shot), where the one-shot
    ``cascade`` CLI verb is its manual backfill cousin.

    Self-positioning: each hop commits under the SOURCE version as the
    target epoch (streaming/cascade.py), so the restart position is the
    target's own max applied epoch — no separate offset log, and a
    crash-replayed hop lands on the epoch gate and no-ops. availableNow
    semantics: drain until the target has caught the source's CURRENT,
    then stop; continuous mode keeps polling the source manifest (an O(1)
    int read) every ``poll_sec``."""

    def __init__(
        self,
        spark: SparkSession,
        src_root: str,
        table_root: str,
        checkpoint_dir: str,
        *,
        hop_versions: int | None = None,
        n_buckets: int | None = None,
        write_mode: str = "cow",
        poll_sec: float = 0.5,
        auto_compact_files: int | None = None,
    ):
        self.spark = spark
        self.src = SnapshotTable(src_root)
        self.table = SnapshotTable(table_root)
        if not self.table.exists():
            from milvus_cdc_spark.streaming.cascade import create_target_like

            create_target_like(
                self.src, self.table,
                n_buckets=n_buckets, write_mode=write_mode,
            )
        self.hop_versions = hop_versions
        self.poll_sec = poll_sec
        self.auto_compact_files = auto_compact_files
        self._init_lifecycle(checkpoint_dir)

    def _position(self) -> int:
        """Last replicated source version = max applied target epoch
        (bootstrap's reserved epoch −1 excluded)."""
        eps = [int(e) for e in self.table.current().epochs if int(e) >= 0]
        return max(eps) if eps else 0

    def start(self, available_now: bool = False):
        return self._poll(self._tick, available_now, self.poll_sec)

    def _tick(self, stop: threading.Event) -> bool:
        from milvus_cdc_spark.streaming.cascade import cascade_until_current

        from_v = self._position()
        if self.src.current().version <= from_v:
            return False
        cascade_until_current(
            self.spark,
            self.src,
            self.table,
            from_v,
            hop_versions=self.hop_versions,
        )
        self._maybe_compact(self.table)
        return True

    def _status_extra(self) -> dict[str, Any]:
        m = self.table.current()
        src_v = self.src.current().version
        pos = self._position()
        return {
            "snapshot_id": m.snapshot_id,
            "table_version": m.version,
            "epochs_committed": len(m.epochs),
            "src_version": src_v,
            "replicated_src_version": pos,
            "versions_behind": max(0, src_v - pos),
            "summary": m.summary,
        }


class ViewTask(_TaskLifecycle):
    """Managed continuously-maintained serving view: tail a
    SnapshotTable's versions and advance a grouped-aggregate view store
    by each new ``changes()`` diff (operators/rollup.py::
    run_rollup_round) — the always-on cousin of the one-shot ``rollup``
    CLI verb, the same relation :class:`CascadeTask` has to ``cascade``.
    This closes the reference's actual end-to-end story: the point of
    replicating a collection is the serving view downstream of it, and
    here that view refreshes within ``poll_sec`` of every source commit,
    at O(|diff|) cost per refresh.

    Self-positioning: ``run_rollup_round``'s ``cursor.json`` IS the
    position (written last via temp + os.replace), so a crash-replayed
    round redoes itself idempotently and restart needs no extra state.
    availableNow semantics: drain until the view has caught the source's
    CURRENT version, then stop; continuous mode keeps polling the source
    manifest (an O(1) int read) every ``poll_sec``."""

    def __init__(
        self,
        spark: SparkSession,
        src_root: str,
        view_store: str,
        checkpoint_dir: str,
        *,
        poll_sec: float = 0.5,
    ):
        self.spark = spark
        self.src = SnapshotTable(src_root)
        self.view_store = view_store
        self.poll_sec = poll_sec
        self._init_lifecycle(checkpoint_dir)

    def _position(self) -> int:
        import json as _json

        cursor = os.path.join(self.view_store, "cursor.json")
        if not os.path.exists(cursor):
            return 0
        with open(cursor) as f:
            return int(_json.load(f)["version"])

    def start(self, available_now: bool = False):
        return self._poll(self._tick, available_now, self.poll_sec)

    def _tick(self, stop: threading.Event) -> bool:
        from milvus_cdc_spark.operators.rollup import run_rollup_round

        if self.src.current().version <= self._position():
            return False
        run_rollup_round(self.spark, self.src, self.view_store)
        return True

    def _status_extra(self) -> dict[str, Any]:
        src_v = self.src.current().version
        pos = self._position()
        return {
            "src_version": src_v,
            "view_version": pos,
            "versions_behind": max(0, src_v - pos),
        }


class PublishTask(_TaskLifecycle):
    """Managed Debezium egress: tail a SnapshotTable's versions and
    publish each advance as envelope JSON lines
    (streaming/publish.py::publish_round) — the always-on cousin of the
    one-shot ``publish`` CLI verb, completing the task-family symmetry
    (ingest → CdcTask, table→table → CascadeTask, serving view →
    ViewTask, CDC feed out → this). Downstream consumers tail the out
    directory; the reference's users run a Kafka connector for exactly
    this hop.

    Self-positioning: publish_round's ``_cursor.json`` IS the position
    (committed last via temp + os.replace), so a crash-replayed round
    republishes the same files under the same names — consumers dedupe
    by filename or last-writer merge. availableNow semantics: publish
    until the feed has caught the source's CURRENT version, then stop;
    continuous mode polls the source manifest (an O(1) int read) every
    ``poll_sec``."""

    def __init__(
        self,
        spark: SparkSession,
        src_root: str,
        out_dir: str,
        checkpoint_dir: str,
        *,
        poll_sec: float = 0.5,
        n_files: int = 1,
    ):
        self.spark = spark
        self.src = SnapshotTable(src_root)
        self.out_dir = out_dir
        self.poll_sec = poll_sec
        self.n_files = n_files
        self._init_lifecycle(checkpoint_dir)

    def _position(self) -> int:
        import json as _json

        cursor = os.path.join(self.out_dir, "_cursor.json")
        if not os.path.exists(cursor):
            return 0
        with open(cursor) as f:
            return int(_json.load(f)["version"])

    def start(self, available_now: bool = False):
        return self._poll(self._tick, available_now, self.poll_sec)

    def _tick(self, stop: threading.Event) -> bool:
        from milvus_cdc_spark.streaming.publish import publish_round

        if self.src.current().version <= self._position():
            return False
        publish_round(self.spark, self.src, self.out_dir, n_files=self.n_files)
        return True

    def _status_extra(self) -> dict[str, Any]:
        src_v = self.src.current().version
        pos = self._position()
        return {
            "src_version": src_v,
            "published_version": pos,
            "versions_behind": max(0, src_v - pos),
        }


class MultiCascadeTask(_TaskLifecycle):
    """Instance-level cascade: replicate EVERY SnapshotTable under
    ``src_tables_root`` (the dst tree of a MultiCdcTask — plain and
    ``ns.table`` namespaced dirs alike) into ``tables_root``, as ONE
    managed task. This is the reference's actual deployment shape — one
    whole Milvus (all collections) replicated into another
    (server/cdc_impl.go:213-320 iterates the instance's collections;
    '*'-subscription tasks are the norm, server/cdc_impl.go:1195-1208) —
    so the cascade surface has to speak it too, with the same
    ``collections``/``excludes`` subscription model the first-level
    MultiCdcTask uses.

    Discovery is per poll round: a collection created upstream mid-task
    starts replicating at the next round (no restart). Per-table hops run
    CONCURRENTLY on a bounded pool (wall ≈ max per-table diff, not the
    sum — same shape as MultiCdcTask.apply_multi); each table
    self-positions from its own target epochs, so tables catch up
    independently and a crash resumes each exactly where it stopped."""

    def __init__(
        self,
        spark: SparkSession,
        src_tables_root: str,
        tables_root: str,
        checkpoint_dir: str,
        *,
        collections: list[str] | None = None,
        excludes: list[str] | tuple = (),
        hop_versions: int | None = None,
        write_mode: str = "cow",
        poll_sec: float = 0.5,
        auto_compact_files: int | None = None,
        max_concurrency: int = 8,
    ):
        self.spark = spark
        self.src_tables_root = src_tables_root
        self.tables_root = tables_root
        self.filter = CollectionFilter(collections, excludes)
        self.hop_versions = hop_versions
        self.write_mode = write_mode
        self.poll_sec = poll_sec
        self.auto_compact_files = auto_compact_files
        self.max_concurrency = max_concurrency
        self._init_lifecycle(checkpoint_dir)

    def _pairs(self) -> list[tuple[str, SnapshotTable, SnapshotTable]]:
        from milvus_cdc_spark.streaming.registry import _walk_tables

        out = []
        for name, root in _walk_tables(self.src_tables_root):
            if not self.filter.should_read(name):
                continue
            dst = SnapshotTable(
                os.path.join(self.tables_root, *name.split("."))
            )
            out.append((name, SnapshotTable(root), dst))
        return out

    @staticmethod
    def _position(dst: SnapshotTable) -> int:
        eps = [int(e) for e in dst.current().epochs if int(e) >= 0]
        return max(eps) if eps else 0

    def _hop(self, src: SnapshotTable, dst: SnapshotTable) -> None:
        from milvus_cdc_spark.streaming.cascade import cascade_until_current

        if not dst.exists():
            from milvus_cdc_spark.streaming.cascade import create_target_like

            os.makedirs(os.path.dirname(dst.root), exist_ok=True)
            create_target_like(src, dst, write_mode=self.write_mode)
        cascade_until_current(
            self.spark,
            src,
            dst,
            self._position(dst),
            hop_versions=self.hop_versions,
        )
        self._maybe_compact(dst)

    def start(self, available_now: bool = False):
        return self._poll(self._tick, available_now, self.poll_sec)

    def _tick(self, stop: threading.Event) -> bool:
        from concurrent.futures import ThreadPoolExecutor

        behind = [
            (src, dst)
            for _name, src, dst in self._pairs()
            if not dst.exists() or src.current().version > self._position(dst)
        ]
        if len(behind) == 1:
            self._hop(*behind[0])
        elif behind:
            with ThreadPoolExecutor(
                max_workers=min(self.max_concurrency, len(behind)),
                thread_name_prefix="cascade-hop",
            ) as pool:
                futs = [pool.submit(self._hop, s, d) for s, d in behind]
                for f in futs:  # surface the FIRST failure
                    f.result()
        return bool(behind)

    def _status_extra(self) -> dict[str, Any]:
        tables: dict[str, Any] = {}
        worst = 0
        for name, src, dst in self._pairs():
            src_v = src.current().version
            pos = self._position(dst) if dst.exists() else 0
            lag = max(0, src_v - pos)
            worst = max(worst, lag)
            tables[name] = {
                "src_version": src_v,
                "replicated_src_version": pos,
                "versions_behind": lag,
            }
        return {"tables": tables, "versions_behind": worst}


def run_until_drained(
    spark: SparkSession,
    changelog_path: str,
    table_root: str,
    checkpoint_dir: str,
    **kw,
) -> CdcTask:
    """Batch-drain mode: apply every file currently in the log, then stop.

    The run still honors ``max_files_per_trigger``, so it is a sequence of
    bounded epochs — identical semantics to the continuous task, minus
    the idle polling.
    """
    task = CdcTask(spark, changelog_path, table_root, checkpoint_dir, **kw)
    task.start(available_now=True)
    task.wait_drained()
    return task
