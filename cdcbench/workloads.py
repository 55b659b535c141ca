"""The three benchmark workloads and their correctness gate.

``sources.changelog_gen`` is the load generator: its time is never
counted. Every final table state is fingerprinted with one aggregate job
and compared with the fingerprint of ``oracle.replay`` over the same log,
computed once per run outside the timed region.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import nullcontext
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from milvus_cdc_spark.oracle import replay
from milvus_cdc_spark.plans.manifest import SnapshotTable
from milvus_cdc_spark.sources.changelog_gen import generate_changelog, write_changelog
from milvus_cdc_spark.streaming import engine, wal

N_BUCKETS = 16
READS_PER_CHECK = 3

# backlog workloads: a pre-written log drained closed-loop into CoW
BACKLOG = {
    "backfill_cow": dict(events=120_000, files=8, max_files=4, gen={}),
    "patch_cow": dict(
        events=60_000, files=8, max_files=2, gen=dict(patch_pct=15, ties_group=1)
    ),
}
# tail_mor: small files land on a fixed open-loop schedule
TAIL_INTERVAL_S = 0.1
TAIL_EVENTS_PER_FILE = 400
TAIL_AUTO_COMPACT = 2
# one read per trigger interval: a steady reader that leaves the engine
# most of the CPU (a reader at 0.7 s made lag track host noise more)
TAIL_READ_EVERY_S = 1.0


class CommitClock:
    """Wall time at which each changelog file's epoch committed.

    ``WalGate.done`` runs right after the epoch's ``apply_batch`` (whose
    last step is the manifest commit) returns, so its entry time is the
    commit end. One timestamp per epoch: cheap enough for untraced runs."""

    def __init__(self) -> None:
        self.committed: dict[str, float] = {}
        self._orig = wal.WalGate.done
        clock = self

        def done(gate, epoch, files):
            now = time.perf_counter()
            for p in files:
                clock.committed.setdefault(os.path.basename(p), now)
            return clock._orig(gate, epoch, files)

        wal.WalGate.done = done

    def close(self) -> None:
        wal.WalGate.done = self._orig


def fingerprint(df: DataFrame) -> tuple[int, int, tuple[str, ...]]:
    """Order-insensitive (hash sum, row count, columns) of a table state:
    one aggregate job, no driver materialization. Nulls hash as a marker
    so values cannot shift between columns unnoticed."""
    cols = tuple(sorted(df.columns))
    h = F.xxhash64(
        *[F.coalesce(F.col(c).cast("string"), F.lit("\u0000null")) for c in cols]
    )
    r = df.agg(
        F.sum(h.cast("decimal(38,0)")).alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    return int(r["s"] or 0), int(r["n"]), cols


def read_log(paths: list[str]):
    """The changelog files as one lsn-sorted arrow table, timestamps as
    UTC microseconds (what Spark reads back as TimestampType)."""
    t = pa.concat_tables([pq.read_table(p) for p in paths]).sort_by("lsn")
    i = t.schema.get_field_index("ts")
    return t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("us", tz="UTC")))


def log_events(t) -> list[dict[str, Any]]:
    """The changelog as row dicts for the oracle (no Spark job)."""
    rows = t.to_pylist()
    for r in rows:
        if r["extra"] is not None:
            r["extra"] = dict(r["extra"])
    return rows


class Oracle:
    """Expected final state of one log, from ``oracle.replay``; its
    fingerprint is taken lazily against the engine's read schema (known
    after the first drain)."""

    def __init__(self, paths: list[str]) -> None:
        self.rows, self.cols = replay(log_events(read_log(paths)))
        self._fp = None

    def matches(self, spark: SparkSession, got_df: DataFrame, got) -> bool:
        if self._fp is None:
            if sorted(self.cols) != sorted(got_df.columns):
                return False
            schema = got_df.schema
            data = [tuple(r[f.name] for f in schema.fields) for r in self.rows]
            self._fp = fingerprint(spark.createDataFrame(data, schema))
        return got == self._fp


def part_files(d: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.startswith("part-") and f.endswith(".parquet")
    )


def next_job_id(spark: SparkSession) -> int:
    """The scheduler's monotone job counter: jobs started between two
    reads, from every thread and job group (streaming batches included)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


class Run:
    """State shared by one benchmark process."""

    def __init__(self, spark: SparkSession, work: str, cores: int, tracer=None):
        self.spark = spark
        self.work = work
        self.cores = cores
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._n = 0
        self._lock = threading.Lock()  # the tail's reader thread counts too

    def fresh(self, tag: str) -> tuple[str, str]:
        self._n += 1
        base = os.path.join(self.work, f"{tag}{self._n}")
        return os.path.join(base, "table"), os.path.join(base, "ckpt")

    def count(self, n: int = 1) -> None:
        """Record ``n`` attempted operations."""
        with self._lock:
            self.attempted += n

    def fail(self, what: str, e: BaseException | str) -> None:
        with self._lock:
            self.failed += 1
            self.errors.append(f"{what}: {e!r}"[:500])

    def check(self, table: SnapshotTable, oracle: Oracle, reads: int = 1) -> list[float]:
        """Final-state checks (one operation each): a full read plus the
        fingerprint aggregate, compared with the oracle. Returns the read
        times."""
        times = []
        for _ in range(reads):
            self.count()
            try:
                t = time.perf_counter()
                df = table.read(self.spark)
                got = fingerprint(df)
                times.append(time.perf_counter() - t)
                if not oracle.matches(self.spark, df, got):
                    self.fail("final state", f"fingerprint {got[:2]} != oracle")
            except Exception as e:  # noqa: BLE001 - a failed check is counted
                self.fail("final state", e)
        return times


def _gen(spark, n, seed, cores, **kw):
    return generate_changelog(
        spark,
        n,
        seed=seed,
        n_parts=8,
        n_convs=max(200, n // 500),
        turns_per_conv=50,
        num_partitions=cores,
        **kw,
    )


# -- backlog workloads: backfill_cow, patch_cow -------------------------------


class Backlog:
    def __init__(self, run: Run, name: str, seed: int):
        self.run = run
        self.cfg = BACKLOG[name]
        self.log = os.path.join(run.work, "log")
        write_changelog(
            _gen(run.spark, self.cfg["events"], seed, run.cores, **self.cfg["gen"]),
            self.log,
            n_files=self.cfg["files"],
        )
        self.files = part_files(self.log)
        self.oracle = Oracle(self.files)
        self.clock = CommitClock()

    def construct(self) -> None:
        """Task construction, as timed in setup_s."""
        table, ckpt = self.run.fresh("setup")
        engine.CdcTask(
            self.run.spark, self.log, table, ckpt,
            max_files_per_trigger=self.cfg["max_files"], n_buckets=N_BUCKETS,
        )

    def drain(self, traced: bool = False, reads: int = READS_PER_CHECK) -> dict[str, Any] | None:
        """One timed drain of the whole log into a fresh table, then the
        final-state check. Returns the drain's figures, or None if it
        failed."""
        run, tr = self.run, self.run.tracer
        table, ckpt = run.fresh("drain")
        self.clock.committed.clear()
        jobs0 = next_job_id(run.spark)
        if tr is not None:
            tr.enabled = traced
            tr.run_id += 1
        t0 = time.perf_counter()
        try:
            with (tr.drain() if tr is not None else nullcontext()) as span:
                task = engine.run_until_drained(
                    run.spark, self.log, table, ckpt,
                    max_files_per_trigger=self.cfg["max_files"],
                    n_buckets=N_BUCKETS,
                )
        except Exception as e:  # noqa: BLE001 - a failed epoch is counted
            run.count()
            run.fail("drain", e)
            return None
        finally:
            if tr is not None:
                tr.enabled = False
        wall = time.perf_counter() - t0
        run.count(len(task.table.current().epochs))
        if span is not None:
            span["spark_jobs"] = next_job_id(run.spark) - jobs0
        lags = [
            self.clock.committed[os.path.basename(p)] - t0
            for p in self.files
            if os.path.basename(p) in self.clock.committed
        ]
        read_s = run.check(task.table, self.oracle, reads=reads)
        return {
            "wall": wall,
            "lags": lags,
            "read_s": read_s,
            "span": span,
            "table": task.table,
            "ckpt": ckpt,
        }

    def warmup(self, min_drains: int = 3, max_drains: int = 4, steady: float = 0.05) -> list[float]:
        """Drain until two consecutive walls agree within ``steady``."""
        walls: list[float] = []
        while len(walls) < max_drains:
            d = self.drain(reads=1)
            if d is None:
                break
            walls.append(d["wall"])
            if len(walls) >= min_drains and abs(walls[-1] - walls[-2]) <= steady * walls[-2]:
                break
        return walls

    def measure(self, seconds: float, traced: bool) -> dict[str, Any]:
        """Repeat drains for ``seconds``. In a traced run the drains
        alternate untraced/traced, so the tracing overhead is measured on
        the same JVM and log."""
        drains: list[dict[str, Any]] = []
        min_drains = 4 if traced else 3
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(drains) < min_drains:
            d = self.drain(traced=traced and len(drains) % 2 == 1)
            if d is None:
                break
            drains.append(d)
        if not drains:
            return {"drains": []}
        ev = self.cfg["events"]
        last = drains[-1]
        res: dict[str, Any] = {}
        if traced:
            traced_d = [d for d in drains if d["span"] is not None]
            res["trace_overhead_s"] = _median(d["wall"] for d in traced_d) - _median(
                d["wall"] for d in drains if d["span"] is None
            )
            drains = traced_d
        return res | {
            "drains": drains,
            "walls": [d["wall"] for d in drains],
            "events_per_sec": statistics.median(ev / d["wall"] for d in drains),
            "lag_p50_s": statistics.median(_pct(d["lags"], 50) for d in drains),
            "lag_p90_s": statistics.median(_pct(d["lags"], 90) for d in drains),
            "read_final_s": _median(t for d in drains for t in d["read_s"]),
            "read_beside_writes_s": 0.0,
            "ledger_bytes": _size(os.path.join(last["ckpt"], "wal_ledger.json")),
            "stats": last["table"].stats(),
            "late_max_s": 0.0,
        }

    def close(self) -> None:
        self.clock.close()


# -- tail_mor: open-loop tail into merge-on-read -------------------------------


class Tail:
    def __init__(self, run: Run, seed: int, seconds: float):
        self.run = run
        n_files = max(10, int(round(seconds / TAIL_INTERVAL_S)))
        gen_dir = os.path.join(run.work, "gen")
        write_changelog(
            _gen(run.spark, n_files * TAIL_EVENTS_PER_FILE, seed, run.cores),
            gen_dir,
            n_files=run.cores,
        )
        log = read_log(part_files(gen_dir))
        # one small lsn-contiguous file per schedule slot, named in lsn order
        self.staging = os.path.join(run.work, "staged")
        os.makedirs(self.staging)
        self.files = []
        for i in range(n_files):
            p = os.path.join(self.staging, f"part-{i:05d}.parquet")
            pq.write_table(log.slice(i * TAIL_EVENTS_PER_FILE, TAIL_EVENTS_PER_FILE), p)
            self.files.append(p)
        self.oracle = Oracle(self.files)
        self.clock = CommitClock()

    def _task(self, live: str, table: str, ckpt: str, max_files: int = 64):
        return engine.CdcTask(
            self.run.spark, live, table, ckpt,
            max_files_per_trigger=max_files, n_buckets=N_BUCKETS,
            write_mode="mor", auto_compact_files=TAIL_AUTO_COMPACT,
        )

    def construct(self) -> None:
        table, ckpt = self.run.fresh("setup")
        live = os.path.join(os.path.dirname(table), "live")
        os.makedirs(live)
        self._task(live, table, ckpt)

    def warmup(self) -> list[float]:
        """One untimed tail session over the first half of the files: a
        cold JVM's first session runs the continuous trigger path at about
        half speed."""
        t = time.perf_counter()
        self.session(traced=False, files=self.files[: len(self.files) // 2])
        return [time.perf_counter() - t]

    def measure(self, seconds: float, traced: bool) -> dict[str, Any]:
        """One tail session. A traced run brackets a traced session with
        two untraced ones and reports the difference in median lag as the
        tracing overhead, so the JVM still warming up biases neither side."""
        res = before = self.session(traced=False)
        if traced and res["drains"]:
            res = self.session(traced=True)
            after = self.session(traced=False)
            if res["drains"] and after["drains"]:
                untraced = [s["lag_p50_s"] for s in (before, after)]
                res["trace_overhead_s"] = res["lag_p50_s"] - statistics.mean(untraced)
        return res

    def session(self, traced: bool, files: list[str] | None = None) -> dict[str, Any]:
        """Tail ``files`` (default: all) into a fresh table; with the full
        log, check the final state against the oracle."""
        files = files or self.files
        run, tr = self.run, self.run.tracer
        table, ckpt = run.fresh("tail")
        base = os.path.dirname(table)
        live, staging = os.path.join(base, "live"), os.path.join(base, "staging")
        os.makedirs(live)
        os.makedirs(staging)
        names = [os.path.basename(p) for p in files]
        for p, name in zip(files, names):
            os.link(p, os.path.join(staging, name))
        due = [i * TAIL_INTERVAL_S for i in range(len(names))]
        self.clock.committed.clear()
        late = [0.0]
        stop = threading.Event()

        def land(t0: float) -> None:
            # open loop: the schedule never waits for the engine
            for name, d in zip(names, due):
                delay = t0 + d - time.perf_counter()
                if delay > 0 and stop.wait(delay):
                    return
                late[0] = max(late[0], time.perf_counter() - (t0 + d))
                os.rename(os.path.join(staging, name), os.path.join(live, name))

        beside: list[float] = []

        def read_beside_writes(table: SnapshotTable) -> None:
            # a reader of the committed table while epochs and folds land
            while not stop.wait(TAIL_READ_EVERY_S):
                run.count()
                try:
                    t = time.perf_counter()
                    fingerprint(table.read(run.spark))
                    beside.append(time.perf_counter() - t)
                except Exception as e:  # noqa: BLE001 - a failed read is counted
                    run.fail("read beside writes", e)

        if tr is not None:
            tr.enabled = traced
            tr.run_id += 1
        jobs0 = next_job_id(run.spark)
        task = None
        threads: list[threading.Thread] = []
        try:
            with (tr.drain() if tr is not None else nullcontext()) as span:
                task = self._task(live, table, ckpt)
                task.start(available_now=False)
                t0 = time.perf_counter() + 0.5
                threads = [
                    threading.Thread(target=land, args=(t0,), name="tail-load"),
                    threading.Thread(
                        target=read_beside_writes, args=(task.table,), name="tail-reader"
                    ),
                ]
                for th in threads:
                    th.start()
                deadline = t0 + due[-1] + 60.0
                while len(self.clock.committed) < len(names):
                    if not task.query.isActive:
                        raise RuntimeError(f"tail query stopped: {task.query.exception()}")
                    if time.perf_counter() > deadline:
                        raise TimeoutError("tail did not commit every file in time")
                    time.sleep(0.02)
                stop.set()
                for th in threads:
                    th.join()
                task.pause()
        except Exception as e:  # noqa: BLE001 - a failed epoch is counted
            run.count()
            run.fail("tail", e)
            if task is not None and task.query is not None:
                task.query.stop()
                task._join_folds()
            return {"drains": []}
        finally:
            stop.set()
            for th in threads:
                th.join()
            if tr is not None:
                tr.enabled = False
        if span is not None:
            span["spark_jobs"] = next_job_id(run.spark) - jobs0
        run.count(len(task.table.current().epochs))
        lags = [self.clock.committed[n] - (t0 + d) for n, d in zip(names, due)]
        span_s = max(self.clock.committed.values()) - t0
        final = []
        if files == self.files:
            final = run.check(task.table, self.oracle, reads=READS_PER_CHECK)
        return {
            "drains": [{"span": span}],
            "events_per_sec": len(names) * TAIL_EVENTS_PER_FILE / span_s,
            "lag_p50_s": _pct(lags, 50),
            "lag_p90_s": _pct(lags, 90),
            "read_final_s": _median(final),
            "read_beside_writes_s": _median(beside),
            "ledger_bytes": _size(os.path.join(ckpt, "wal_ledger.json")),
            "stats": task.table.stats(),
            "late_max_s": late[0],
            "n_files": len(names),
        }

    def close(self) -> None:
        self.clock.close()


# -- helpers ------------------------------------------------------------------


def _pct(values: list[float], p: int) -> float:
    """The p-th percentile (inclusive method); 0.0 for no values."""
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def _median(values) -> float:
    vals = list(values)
    return statistics.median(vals) if vals else 0.0


def _size(path: str) -> int:
    try:
        return os.path.getsize(path)
    except OSError:
        return 0
