"""SnapshotTable — a MERGE-capable Parquet + versioned-manifest table format.

The local stand-in for an Iceberg table (no iceberg-spark-runtime jar ships
in this sandbox; SURVEY.md §7.4 names this fallback). It provides exactly
the properties the CDC sink needs, each an Iceberg analogue:

- **Snapshots**: every commit writes an immutable ``meta/v{N}.json`` and
  atomically swings the ``meta/CURRENT`` pointer (os.replace). Readers see
  a consistent file list; time travel = read an older manifest.
- **Epoch-idempotent commits**: the manifest records ``epochs: {epoch →
  snapshot_id}``; replaying a micro-batch whose epoch is already committed
  is a no-op. Snapshot ids are a deterministic function of (table, epoch)
  so a crash-replay produces byte-identical metadata. Reference analogue:
  positions persisted after each applied pack + idempotent creates
  (/root/reference/server/cdc_impl.go:844-873,
  core/writer/milvus_handler.go:119-125).
- **Bucketed layout**: data files are grouped by ``bucket =
  pmod(xxhash64(conv_id), n_buckets)``; a MERGE rewrites only touched
  buckets (copy-on-write) and carries the rest forward by reference —
  at 100 TB this is what keeps a micro-batch commit O(batch), not O(table).
- **Schema evolution**: the manifest owns the column list and a
  physical→logical rename map. ADD_COLUMN is metadata-only (old files read
  back NULL via explicit-schema parquet scan); RENAME_COLUMN is
  metadata-only (projection alias at read). Reference analogue: dynamic
  field flag (core/reader/etcd_op.go:646-649).
- **Partition-drop watermarks**: DROP_PARTITION is metadata-only — the
  manifest stores ``drop_watermarks: {part → ts}`` applied as a read-time
  filter (merge-on-read for drops), compacted away on the next rewrite of
  each bucket. Reference analogue: drop barrier + dropped-set skip
  (core/reader/data_barrier.go:21-49,
  core/reader/replicate_channel_manager.go:1281-1305).

Single-writer commit protocol, ENFORCED at this layer: every manifest
commit runs under a short filesystem lease (``meta/LEASE``, O_EXCL create
with stale-holder takeover) and re-verifies that the table version it
planned against is still CURRENT — a second writer racing the same table
fails loudly with :class:`CommitConflictError` instead of silently losing
the other writer's buckets. Registry-level dup-table validation
(streaming/registry.py) is advisory; this is the backstop a process that
bypasses the registry still hits. On a shared filesystem a real deployment
would swap the pointer write for an Iceberg/Hive catalog CAS — the apply
logic above this layer would not change.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field, replace
from typing import Any


class CommitConflictError(RuntimeError):
    """Another writer holds the table's commit lease or has advanced the
    table past the manifest this commit was planned against. The analogue
    of an Iceberg CAS failure: the loser of a two-writer race must fail
    loudly (reference single-ownership: one task owns a collection's
    write path, server/cdc_impl.go:371-497 dup-task validation)."""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SPARK_TYPES = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "float": T.FloatType(),
    "timestamp": T.TimestampType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    # FLOAT_VECTOR field analogue — the reference replicates collections
    # whose payload includes dense vectors (test schema INT64 / FLOAT /
    # VARCHAR / FLOAT_VECTOR(dim=128), reference tests/base/checker.py:
    # 17-25). Vectors are first-class column types: storable at create or
    # via ADD_COLUMN, carried through merge/MOR-resolution untouched
    # (parquet list columns), recovered from the dynamic bag via JSON
    # parse (see bag_decode — a string→array cast is undefined in Spark).
    "array<float>": T.ArrayType(T.FloatType()),
    "array<double>": T.ArrayType(T.DoubleType()),
}


def consumer_pin_name(root_or_dir: str, kind: str) -> str:
    """Deterministic retention-pin name for an incremental consumer
    identified by a filesystem path (cascade target root, publish feed
    dir, view/pipeline store dir): stable across processes/restarts,
    filesystem-safe."""
    h = hashlib.sha1(os.path.abspath(root_or_dir).encode()).hexdigest()[:12]
    return f"{kind}-{h}"


def bag_decode(c: "F.Column", typ: str) -> "F.Column":
    """Decode a dynamic-bag (``map<string,string>``) value into a typed
    column — THE one definition shared by every bag-recovery site (logical
    read, changes() old side, apply-time promotion), so the encoding
    contract cannot drift. Scalars cast; vector/array types parse the
    stored JSON array text (``from_json``), the format
    ``bootstrap_from_snapshot`` and any JSON-bag producer emit."""
    if typ.startswith("array"):
        return F.from_json(c, typ)
    return c.cast(_SPARK_TYPES[typ])

# Iceberg-spec type-promotion lattice ("Schema Evolution": int → long,
# float → double — the lossless widenings). Promotion is METADATA-ONLY:
# the manifest column type flips and Spark 4's parquet readers upcast the
# old narrower files at scan time (verified: explicit LongType/DoubleType
# read schema over int32/float32-written files), so no data rewrite ever
# happens. Anything not on a lattice edge (narrowing, cross-family) is an
# invalid promotion and is ignored as a documented no-op — replayed or
# stale WIDEN events must converge, not corrupt.
_WIDEN_NEXT = {"int": "bigint", "float": "double"}


def is_widening(cur: str, new: str) -> bool:
    """True iff ``cur`` → ``new`` is a (transitive) lossless promotion."""
    while cur in _WIDEN_NEXT:
        cur = _WIDEN_NEXT[cur]
        if cur == new:
            return True
    return False


# The engine's total order (ts, rank, lsn) packed into one decimal(38,0)
# so last-writer reduction stays a whole-stage-codegen HashAggregate —
# the single source of truth for the packing; operators/apply.py imports
# these factors for the changelog (op-ranked) variant. Bounds documented
# at apply._ord_col.
ORD_TS_FACTOR = "10000000000000000000000BD"  # 10^22
ORD_RANK_FACTOR = "1000000000000000000000BD"  # 10^21


def stored_ord_col():
    """Ordering scalar for STORED rows, where rank derives from the alive
    flag (tombstone = DELETE rank 0) instead of the changelog op — the
    exact mirror of apply._ord_col, so merge-on-read resolution agrees
    with write-time merge decisions bit-for-bit."""
    rank = (
        F.when(F.coalesce(F.col("alive"), F.lit(True)), F.lit(2))
        .otherwise(F.lit(0))
        .cast("int")
    )
    return (
        F.unix_micros(F.col("ts")).cast("decimal(38,0)") * F.expr(ORD_TS_FACTOR)
        + rank.cast("decimal(38,0)") * F.expr(ORD_RANK_FACTOR)
        + F.col("lsn").cast("decimal(38,0)")
    )


def resolve_last_writer_stored(df: DataFrame) -> DataFrame:
    """Merge-on-read resolution: one winner per (conv_id, turn_idx) by
    max (ts, rank, lsn) over multi-version stored rows.

    Same skew-proof two-phase shape as the write-side dedup
    (operators/apply.py::dedup_last_writer): a fixed-width decimal
    HashAggregate with map-side partial merge, then winner recovery by a
    SHUFFLE_HASH join on (key, ord) — ord embeds lsn, so even a
    conversation that dominates the table hashes uniformly across
    reducers. lsn uniqueness (the WAL-offset contract apply_batch
    enforces per epoch) guarantees exactly one winner per key."""
    keyed = df.withColumn("_ord", stored_ord_col())
    w = keyed.groupBy("conv_id", "turn_idx").agg(F.max("_ord").alias("_ord"))
    return keyed.join(
        w.hint("shuffle_hash"), on=["conv_id", "turn_idx", "_ord"]
    ).drop("_ord")


def _ts_to_str(v) -> str:
    return v.isoformat(sep=" ")


def dead_by_watermark(watermarks: dict, truncate_ts: str | None = None) -> "F.Column":
    """Rows strictly older than a partition-drop watermark — or than the
    table-level TRUNCATE watermark — are dead. The ONE definition shared
    by the read path (drop_predicate) and the apply path
    (operators/apply.py), so the semantics cannot drift apart."""
    pred = F.lit(False)
    for part, ts in watermarks.items():
        pred = pred | (
            (F.col("part") == int(part))
            & (F.col("ts") < F.lit(ts).cast("timestamp"))
        )
    if truncate_ts is not None:
        pred = pred | (F.col("ts") < F.lit(truncate_ts).cast("timestamp"))
    return pred


@dataclass
class Manifest:
    version: int
    snapshot_id: str
    n_buckets: int
    columns: list[list[str]]  # [[physical_name, type], ...] in logical order
    renames: dict[str, str]  # physical -> logical (only where different)
    drop_watermarks: dict[str, str]  # part(str) -> ts iso string (strictly-less rows dead)
    files: dict[str, list[str]]  # bucket(str) -> [relative paths]
    epochs: dict[str, str]  # epoch(str) -> snapshot_id
    added: list[str] = field(default_factory=list)  # columns from ADD_COLUMN
    summary: dict[str, Any] = field(default_factory=dict)
    # table-level TRUNCATE watermark (iso ts): rows strictly older are dead
    # (DropCollection analogue). None = never truncated. Declared last with
    # a default so pre-truncate manifests keep parsing.
    truncate_watermark: str | None = None
    # WIDEN_COLUMN requests for columns the table doesn't have YET
    # (out-of-order batching can deliver the widen before the ADD_COLUMN);
    # applied — and cleared — by the commit that finally adds the column.
    # Default keeps pre-widen manifests parsing.
    pending_widens: dict[str, str] = field(default_factory=dict)
    # "cow" (default): every epoch MERGEs touched buckets copy-on-write —
    # reads are resolution-free, writes rewrite O(live rows in touched
    # buckets). "mor" (Iceberg v2 merge-on-read analogue): every epoch
    # APPENDS its deduped actions as delta files — writes are O(batch),
    # reads resolve last-writer per key until compaction folds the
    # deltas. Fixed at create; default keeps pre-MOR manifests parsing.
    write_mode: str = "cow"
    # wall-clock commit time (UTC epoch seconds), stamped by
    # _write_manifest — powers timestamp-based time travel
    # (at_timestamp, the Iceberg as-of-timestamp analogue). NOT part of
    # the deterministic snapshot id; None on pre-stamp manifests.
    committed_at: float | None = None
    # DROP_COLUMN retirement set (sorted list; schemas.OP_DROP_COLUMN):
    # every name a drop ever targeted — the logical name at drop time AND
    # the physical column it resolved to. ADD_COLUMN on a retired name is
    # a no-op, which is what makes drop order-independent across batches
    # (the set is monotone under union) and makes resurrection of a
    # dropped physical column impossible (it can never re-enter
    # ``columns``). Default keeps pre-drop manifests parsing.
    dropped: list[str] = field(default_factory=list)

    def physical_schema(self) -> T.StructType:
        # System columns: `alive` — False rows are delete tombstones kept so
        # that late-arriving DML with an older (ts, lsn) still loses the merge
        # comparison under ANY micro-batch ordering; `extra` — the winning
        # event's dynamic-field bag, letting an ADD_COLUMN recover values for
        # rows applied before the DDL was seen (reference dynamic-field bag,
        # etcd_op.go:646-649). Both filtered/projected out of logical reads
        # and removable by compaction.
        return T.StructType(
            [T.StructField(n, _SPARK_TYPES[t], True) for n, t in self.columns]
            + [
                T.StructField("alive", T.BooleanType(), True),
                T.StructField(
                    "extra", T.MapType(T.StringType(), T.StringType()), True
                ),
            ]
        )

    def logical_name(self, physical: str) -> str:
        return self.renames.get(physical, physical)

    def to_json(self) -> str:
        return json.dumps(self.__dict__, indent=1, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "Manifest":
        return Manifest(**json.loads(s))


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, "meta")
        self.data_dir = os.path.join(root, "data")
        # every manifest/pins/DLQ byte goes through this (plans/fs.py):
        # POSIX here; the object-store verb mapping is specified there
        from milvus_cdc_spark.plans.fs import get_fs

        self.fs = get_fs(root)

    # -- lifecycle -------------------------------------------------------
    def exists(self) -> bool:
        return self.fs.exists(os.path.join(self.meta_dir, "CURRENT"))

    def create(
        self,
        columns: list[tuple[str, str]],
        n_buckets: int = 16,
        overwrite: bool = False,
        write_mode: str = "cow",
        renames: dict[str, str] | None = None,
    ) -> Manifest:
        """``renames`` (physical → logical, optional) seeds the table's
        rename map at birth — what a cascade target mirroring a source
        with rename history needs: wire envelopes carry renamed-column
        values in their PHYSICAL slots, so the replica must store them
        under the same physical names and expose the logical ones."""
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")
        phys = {c[0] for c in columns}
        for frm in renames or {}:
            if frm not in phys:
                raise ValueError(
                    f"rename source {frm!r} is not a created column"
                )
        if self.exists():
            if not overwrite:
                # idempotent create (reference skip-if-exists,
                # milvus_handler.go:119-125)
                return self.current()
            self.fs.rmtree(self.root)
        self.fs.makedirs(self.meta_dir)
        self.fs.makedirs(self.data_dir)
        m = Manifest(
            version=0,
            snapshot_id=self._snapshot_id(-1),
            n_buckets=n_buckets,
            columns=[list(c) for c in columns],
            renames=dict(renames or {}),
            drop_watermarks={},
            files={},
            epochs={},
            summary={},
            write_mode=write_mode,
        )
        self._write_manifest(m)
        return m

    def current(self) -> Manifest:
        return self.at_version(self._current_version())

    def _current_version(self) -> int:
        return int(
            self.fs.read_text(os.path.join(self.meta_dir, "CURRENT")).strip()
        )

    def at_version(self, v: int) -> Manifest:
        return Manifest.from_json(
            self.fs.read_text(os.path.join(self.meta_dir, f"v{v}.json"))
        )

    def earliest_retained_version(self) -> int:
        """Oldest version whose manifest vacuum has not expired — the
        floor below which ``changes()``/``at_version`` raise. An
        incremental consumer positioned below it must re-bootstrap."""
        vs = [
            int(fn[1:-5])
            for fn in self.fs.listdir(self.meta_dir)
            if fn.startswith("v") and fn.endswith(".json")
        ]
        if not vs:
            raise FileNotFoundError(f"{self.root}: no retained manifests")
        return min(vs)

    def at_timestamp(self, ts: float) -> Manifest:
        """The snapshot CURRENT as of wall-clock ``ts`` (UTC epoch
        seconds) — the Iceberg ``as-of-timestamp`` travel analogue:
        the latest retained manifest whose ``committed_at`` ≤ ts.
        Raises ValueError if every retained version is newer (the
        asked-for state is expired or predates the table)."""
        best = None
        for fn in self.fs.listdir(self.meta_dir):
            if not (fn.startswith("v") and fn.endswith(".json")):
                continue
            m = self.at_version(int(fn[1:-5]))
            if m.committed_at is not None and m.committed_at <= ts:
                if best is None or m.version > best.version:
                    best = m
        if best is None:
            raise ValueError(
                f"{self.root}: no retained snapshot at or before "
                f"ts={ts} (expired by vacuum, or before table creation)"
            )
        return best

    def _snapshot_id(self, label) -> str:
        """Deterministic snapshot id; ``label`` is an epoch int or a
        maintenance label like 'compact-3' — distinct label spaces so a
        compaction at version N can never collide with an epoch id."""
        raw = f"{os.path.basename(self.root)}:{label}".encode()
        return "snap-" + hashlib.sha1(raw).hexdigest()[:16]

    def _write_manifest(self, m: Manifest) -> None:
        m.committed_at = time.time()
        # version files are immutable (write-once); only the tiny CURRENT
        # pointer is replaced — an atomic PUT on any store (fs.py)
        self.fs.write_text_atomic(
            os.path.join(self.meta_dir, f"v{m.version}.json"), m.to_json()
        )
        self.fs.write_text_atomic(
            os.path.join(self.meta_dir, "CURRENT"), str(m.version)
        )

    # -- single-writer lease ---------------------------------------------
    LEASE_TTL_SEC = 30.0

    def _lease_path(self) -> str:
        return os.path.join(self.meta_dir, "LEASE")

    @contextmanager
    def commit_lease(
        self,
        owner: str | None = None,
        ttl_sec: float | None = None,
        timeout_sec: float | None = None,
    ):
        """Exclusive commit section. O_EXCL create arbitrates racers; a
        lease older than ``ttl_sec`` belongs to a dead holder and is taken
        over (unlink + re-race the O_EXCL create, so concurrent takeover
        attempts still elect exactly one winner). The default acquire
        timeout exceeds the TTL, so a crash-orphaned lease delays the next
        writer at most one TTL instead of failing it."""
        ttl = self.LEASE_TTL_SEC if ttl_sec is None else ttl_sec
        timeout = (ttl * 1.5 + 1.0) if timeout_sec is None else timeout_sec
        path = self._lease_path()
        who = owner or f"pid-{os.getpid()}"
        payload = json.dumps({"owner": who, "ts": time.time()})
        deadline = time.monotonic() + timeout
        while True:
            if self.fs.create_exclusive(path, payload):  # put-if-absent
                break
            try:
                token = self.fs.read_token(path)
                held = json.loads(self.fs.read_text(path) or "{}")
            except (OSError, ValueError):
                token, held = None, {}
            held_ts = held.get("ts")
            if held_ts is None:
                # a lease readable but without a ts is mid-write (the
                # exclusive create lands before its payload) or corrupt:
                # age it by the file's mtime token, NOT 0 — treating it
                # as infinitely stale let a contender take over a lease
                # created microseconds ago (observed under a barrier test)
                if isinstance(token, tuple) and token and isinstance(
                    token[0], int
                ):
                    held_ts = token[0] / 1e9
                else:
                    held_ts = time.time()  # unknown age: assume fresh
            if time.time() - held_ts > ttl:
                # stale holder: CONDITIONAL delete (fs.py ETag analogue)
                # then re-race the exclusive create — concurrent takeover
                # attempts still elect exactly one winner, and a holder
                # that renewed between our read and our delete survives
                if token is not None:
                    self.fs.delete_if_unchanged(path, token)
                continue
            if time.monotonic() >= deadline:
                raise CommitConflictError(
                    f"{self.root}: commit lease held by "
                    f"{held.get('owner', '?')} (acquire timed out after "
                    f"{timeout:.1f}s)"
                )
            time.sleep(0.05)
        my_token = [self.fs.read_token(path)]

        def renew() -> None:
            """Refresh the lease ts so a long holder (vacuum walking a
            big data dir) isn't TTL-taken-over mid-section; cheap enough
            to call per work batch."""
            self.fs.write_text_atomic(
                path, json.dumps({"owner": who, "ts": time.time()})
            )
            my_token[0] = self.fs.read_token(path)

        try:
            yield renew
        finally:
            # CONDITIONAL release: if the lease no longer matches the one
            # we hold (a TTL takeover replaced it), leave the new holder's
            # lease alone — an unconditional delete here would evict a
            # legitimate successor and let a third writer enter
            self.fs.delete_if_unchanged(path, my_token[0])

    # -- read ------------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        manifest: Manifest | None = None,
        buckets: list[int] | None = None,
        apply_drops: bool = True,
        logical: bool = True,
        resolve: bool = True,
    ) -> DataFrame:
        """Scan the table at a snapshot with logical schema.

        ``buckets`` restricts the scan to a file subset (manifest-level
        pruning — the analogue of Iceberg partition pruning in a MERGE).

        On a merge-on-read table (``write_mode="mor"``) multi-version rows
        are resolved to one winner per key (``resolve=False`` opts out for
        callers that want the raw delta history). Fast path: a bucket
        whose file list has a single file holds at most one version per
        key (per-epoch dedup + compaction both guarantee it), so
        resolution is skipped when every selected bucket is single-file.
        """
        m = manifest or self.current()
        keys = [str(b) for b in buckets] if buckets is not None else list(m.files)
        paths = [
            os.path.join(self.root, rel) for k in keys for rel in m.files.get(k, [])
        ]
        schema = m.physical_schema()
        if not paths:
            df = spark.createDataFrame([], schema)
        else:
            # explicit schema → files from before an ADD_COLUMN read NULL
            df = spark.read.schema(schema).parquet(*paths)
        if apply_drops and (m.drop_watermarks or m.truncate_watermark):
            df = df.filter(~self.drop_predicate(m))
        if (
            resolve
            and m.write_mode == "mor"
            and any(len(m.files.get(k, [])) > 1 for k in keys)
        ):
            df = resolve_last_writer_stored(df)
        if not logical:
            return df
        # logical view: live rows only; added columns recover pre-DDL values
        # from the stored dynamic-field bag; rename projection applied
        def _logical(n: str, t: str):
            c = F.col(n)
            if n in m.added:
                c = F.coalesce(c, bag_decode(F.col("extra").getItem(n), t))
            return c.alias(m.logical_name(n))

        return df.filter(F.coalesce(F.col("alive"), F.lit(True))).select(
            *[_logical(n, t) for n, t in m.columns]
        )

    @staticmethod
    def drop_predicate(m: Manifest):
        """Rows strictly older than a partition-drop or table-truncate
        watermark are dead."""
        return dead_by_watermark(m.drop_watermarks, m.truncate_watermark)

    def lookup(
        self,
        spark: SparkSession,
        conv_id: str,
        turn_idx: int | None = None,
        manifest: Manifest | None = None,
    ) -> DataFrame:
        """Point read: one conversation (optionally one turn) out of the
        table — the serving-path primitive a replicated transcript store
        exists for.

        Routing is DRIVER-SIDE and O(1): ``functions/keyhash.bucket_of``
        reproduces Spark's ``pmod(xxhash64(conv_id), n_buckets)`` bit-for-
        bit in pure Python (pinned against Spark in tests/test_lookup.py),
        so the scan opens ONLY the key's bucket — 1/n_buckets of a 100 TB
        table — without launching a job to find it. The key equality then
        reaches the parquet scan as a pushed filter (Catalyst pushes it
        through the logical projection and, on a merge-on-read table,
        through the resolution aggregate's grouping key), and files
        compacted with the default sort order skip non-matching row
        groups via their min/max stats. Plan-guarded:
        test_lookup_scans_only_key_bucket / _filter_pushed_to_scan.

        Reference analogue: point queries against the replicated Milvus
        collection route by the same shard-key hash the writer used
        (core/writer/channel_writer.go partition-key routing).
        """
        m = manifest or self.current()
        from milvus_cdc_spark.functions.keyhash import bucket_of

        b = bucket_of(conv_id, m.n_buckets)
        df = self.read(spark, manifest=m, buckets=[b]).filter(
            F.col(m.logical_name("conv_id")) == conv_id
        )
        if turn_idx is not None:
            df = df.filter(F.col(m.logical_name("turn_idx")) == turn_idx)
        return df

    def changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> "DataFrame":
        """Row-level diff between two snapshot versions — the Iceberg
        changelog-scan / incremental-read analogue (``create_changelog_view``
        in Iceberg's Spark procedures): what would a downstream consumer
        have to apply to move a copy of the table from ``from_version`` to
        ``to_version`` (default: CURRENT)?

        Returns the ``to_version`` logical columns plus ``change_type`` ∈
        insert | update | delete; update rows carry the POST-image, delete
        rows the last pre-image. Detection: a key present only in the new
        snapshot is an insert, only in the old is a delete, in both with a
        different applied ``(ts, lsn)`` an update; unchanged rows are
        filtered out.

        Scale shape: one SHUFFLE_HASH full-outer join of two MANIFEST-
        PRUNED reads — buckets whose file lists are byte-identical between
        the two manifests are skipped before any file is opened (data
        files are immutable, so an identical list ⇒ identical content in
        both write modes), making a day-over-day incremental read of a
        100 TB table cost ∝ changed buckets, not two full table scans
        (Iceberg's changelog scan likewise reads only added/removed
        files). The pruning is disabled only when the two versions differ
        in drop/truncate watermarks — a metadata-only DROP_PARTITION can
        kill rows in a bucket whose file list never changed. No driver-
        side state, no per-epoch bookkeeping, correct for ANY version
        pair (including across compactions, which rewrite every bucket's
        list and therefore prune nothing).

        Columns added/renamed between the versions align on the NEW
        names: the old snapshot is read at its PHYSICAL schema and
        projected through the new manifest's rename map, so a delete
        row's pre-image surfaces renamed/widened column values wherever
        the old physical column carries them; only columns added after
        ``from_version`` read back NULL on the old side.
        """
        new_m = (
            self.current() if to_version is None else self.at_version(to_version)
        )
        old_m = self.at_version(from_version)
        buckets = None
        if (
            old_m.drop_watermarks == new_m.drop_watermarks
            and old_m.truncate_watermark == new_m.truncate_watermark
        ):
            buckets = sorted(
                int(b)
                for b in set(old_m.files) | set(new_m.files)
                if old_m.files.get(b) != new_m.files.get(b)
            )
        # old side at PHYSICAL schema, projected through the NEW manifest's
        # logical names/types: values survive renames and type promotions
        old_phys = self.read(
            spark, manifest=old_m, buckets=buckets, logical=False
        ).filter(F.coalesce(F.col("alive"), F.lit(True)))
        old_have = set(old_phys.columns)

        def _old_logical(n: str, t: str):
            if n not in old_have:
                return F.lit(None).cast(_SPARK_TYPES[t]).alias(new_m.logical_name(n))
            c = F.col(n)
            if n in new_m.added:
                c = F.coalesce(c, bag_decode(F.col("extra").getItem(n), t))
            return c.cast(_SPARK_TYPES[t]).alias(new_m.logical_name(n))

        old_df = old_phys.select(*[_old_logical(n, t) for n, t in new_m.columns])
        new_df = self.read(spark, manifest=new_m, buckets=buckets)
        keys = ["conv_id", "turn_idx"]
        new_cols = new_df.columns
        o = old_df.select(
            *[F.col(c).alias(f"_old_{c}") for c in new_cols]
        )
        cond = [new_df[k] == o[f"_old_{k}"] for k in keys]
        j = new_df.join(o.hint("shuffle_hash"), cond, "full_outer")
        is_ins = o["_old_conv_id"].isNull()
        is_del = new_df["conv_id"].isNull()
        changed = (new_df["lsn"] != o["_old_lsn"]) | (
            new_df["ts"] != o["_old_ts"]
        )
        change = (
            F.when(is_ins, F.lit("insert"))
            .when(is_del, F.lit("delete"))
            .when(changed, F.lit("update"))
        )
        out = j.withColumn("change_type", change).filter(
            F.col("change_type").isNotNull()
        )
        return out.select(
            "change_type",
            *[
                F.when(is_del, o[f"_old_{c}"]).otherwise(new_df[c]).alias(c)
                for c in new_cols
            ],
        )

    # -- commit ----------------------------------------------------------
    def committed_epoch(self, epoch: int) -> bool:
        return str(epoch) in self.current().epochs

    @staticmethod
    def _maintenance_only(old: Manifest, cur: Manifest) -> bool:
        """True iff every commit between ``old`` and ``cur`` was content-
        preserving maintenance (compaction/fold): no new epochs, no schema
        or watermark change. Under the single-writer protocol this is the
        ONLY legitimate way CURRENT advances under a planning writer — a
        background fold racing the epoch loop (engine._maybe_compact) —
        and a fold never changes logical content, so the writer may
        REBASE: its replaced/appended buckets are just as valid against
        ``cur``'s file lists. Anything else (a new epoch = a second
        writer) stays a loud CommitConflictError."""
        return (
            cur.epochs == old.epochs
            and cur.columns == old.columns
            and cur.renames == old.renames
            and cur.added == old.added
            and cur.drop_watermarks == old.drop_watermarks
            and cur.truncate_watermark == old.truncate_watermark
            and cur.pending_widens == old.pending_widens
            and cur.dropped == old.dropped
            and cur.write_mode == old.write_mode
            # a REBUCKET is content-preserving but NOT rebasable: the
            # planning writer's buckets were computed against the old
            # layout, so merging them would scatter keys across wrong
            # buckets — it must fail loudly instead
            and cur.n_buckets == old.n_buckets
        )

    def commit(
        self,
        epoch: int,
        *,
        replaced_buckets: dict[int, list[str]] | None = None,
        append_buckets: dict[int, list[str]] | None = None,
        add_columns: list[tuple[str, str]] | None = None,
        renames: dict[str, str] | None = None,
        widen_columns: dict[str, str] | None = None,
        drop_columns: list[str] | None = None,
        drop_watermarks: dict[int, str] | None = None,
        truncate_watermark: str | None = None,
        summary_delta: dict[str, Any] | None = None,
        base: Manifest | None = None,
    ) -> Manifest:
        """Atomically produce the next snapshot. Idempotent per epoch.

        ``replaced_buckets`` swaps a bucket's file list wholesale (the CoW
        merge); ``append_buckets`` extends the CURRENT list (the MOR delta
        append — expressed as a delta so the commit composes with a
        concurrent compaction fold instead of resurrecting folded files).

        ``base`` lets the (single) writer reuse the manifest it already
        loaded for the batch instead of re-reading and re-parsing it —
        manifest size grows with table history, and this is on the
        per-epoch fixed-cost path. Under the lease, the commit re-checks
        (cheap int read) that ``base`` is still CURRENT. If a racing
        commit advanced the table: a chain of pure MAINTENANCE commits
        (background fold — content-preserving by construction) is rebased
        over; anything else makes THIS commit the loser, raising
        CommitConflictError — its buckets were computed against a
        superseded table state and must not be merged."""
        m = base if base is not None else self.current()
        if str(epoch) in m.epochs:
            return m
        with self.commit_lease():
            cur_v = self._current_version()
            if cur_v != m.version:
                cur = self.at_version(cur_v)
                if str(epoch) in cur.epochs:
                    return cur  # crash-replay raced a re-apply: already landed
                if self._maintenance_only(m, cur):
                    m = cur  # rebase over the background fold
                else:
                    raise CommitConflictError(
                        f"{self.root}: planned against v{m.version} but "
                        f"CURRENT is v{cur_v} — a second writer advanced "
                        "this table (single-writer protocol violated)"
                    )
            return self._commit_locked(
                m,
                epoch,
                replaced_buckets=replaced_buckets,
                append_buckets=append_buckets,
                add_columns=add_columns,
                renames=renames,
                widen_columns=widen_columns,
                drop_columns=drop_columns,
                drop_watermarks=drop_watermarks,
                truncate_watermark=truncate_watermark,
                summary_delta=summary_delta,
            )

    def _commit_locked(
        self,
        m: Manifest,
        epoch: int,
        *,
        replaced_buckets=None,
        append_buckets=None,
        add_columns=None,
        renames=None,
        widen_columns=None,
        drop_columns=None,
        drop_watermarks=None,
        truncate_watermark=None,
        summary_delta=None,
    ) -> Manifest:
        files = dict(m.files)
        for b, rels in (replaced_buckets or {}).items():
            if rels:
                files[str(b)] = rels
            else:
                files.pop(str(b), None)
        for b, rels in (append_buckets or {}).items():
            if rels:
                files[str(b)] = files.get(str(b), []) + list(rels)
        columns = [list(c) for c in m.columns]
        added = list(m.added)
        have = {c[0] for c in columns}
        # DROP_COLUMN retirement (schemas.OP_DROP_COLUMN): a retired name
        # never rejoins the schema, so adds filter against the retired set
        # FIRST — an add and a drop of one name in either order (same
        # batch or split across out-of-order batches) converge to "absent"
        dropped = set(m.dropped)
        drop_set = set(drop_columns or [])
        for name, typ in add_columns or []:
            if name not in have and name not in dropped and name not in drop_set:
                columns.append([name, typ])
                added.append(name)
                have.add(name)  # dedupe replayed ADD_COLUMNs in one batch
        # type promotion: fold this batch's WIDEN requests into any still
        # pending, keeping the widest per column (replays and stale widens
        # converge by lattice max); apply every request whose column now
        # exists, keep the rest pending for a later ADD_COLUMN.
        pending = dict(m.pending_widens)
        for name, typ in (widen_columns or {}).items():
            if typ not in _SPARK_TYPES:
                continue
            old = pending.get(name)
            if old is None or is_widening(old, typ):
                pending[name] = typ
        for col in columns:
            req = pending.get(col[0])
            if req is not None:
                if is_widening(col[1], req):
                    col[1] = req
                # applied, already-wide, or invalid (narrowing/cross-family
                # documented no-op) — either way it is no longer pending
                pending.pop(col[0])
        ren = dict(m.renames)
        for frm, to in (renames or {}).items():
            # `frm` is a logical name; resolve through the IN-PROGRESS map
            # so a rename chain inside one batch (a→b then b→c) lands on
            # the same physical column as the same chain split across
            # batches — the any-batching-converges invariant
            physical = next((p for p in have if ren.get(p, p) == frm), frm)
            ren[physical] = to
        # drops run AFTER renames so "rename a→b, drop b" in one batch
        # resolves to physical a; a name that is itself a physical column
        # (e.g. "drop b, rename b→c" — the rename already retargeted the
        # logical view) falls back to the direct-physical match. BOTH the
        # drop-time logical name and the physical slot retire.
        for name in drop_set:
            physical = next((p for p in have if ren.get(p, p) == name), None)
            if physical is None and name in have:
                physical = name
            if physical is not None:
                from milvus_cdc_spark import schemas as _S

                if physical in _S.PROTECTED_COLUMNS:
                    raise ValueError(
                        f"DROP_COLUMN may not remove key/system column "
                        f"{physical!r} (requested as {name!r})"
                    )
                columns = [c for c in columns if c[0] != physical]
                have.discard(physical)
                if physical in added:
                    added.remove(physical)
                ren.pop(physical, None)
                pending.pop(physical, None)
                dropped.add(physical)
            pending.pop(name, None)
            dropped.add(name)
        wm = dict(m.drop_watermarks)
        for part, ts in (drop_watermarks or {}).items():
            old = wm.get(str(part))
            wm[str(part)] = max(old, ts) if old else ts
        trunc = m.truncate_watermark
        if truncate_watermark is not None:
            trunc = max(trunc, truncate_watermark) if trunc else truncate_watermark
        summary = dict(m.summary)
        for k, v in (summary_delta or {}).items():
            summary[k] = summary.get(k, 0) + v if isinstance(v, (int, float)) else v
        summary["last_epoch"] = epoch  # absolute, never summed
        snap = self._snapshot_id(epoch)
        nm = replace(
            m,
            version=m.version + 1,
            snapshot_id=snap,
            columns=columns,
            renames=ren,
            drop_watermarks=wm,
            files=files,
            epochs={**m.epochs, str(epoch): snap},
            added=added,
            summary=summary,
            truncate_watermark=trunc,
            pending_widens=pending,
            dropped=sorted(dropped),
        )
        self._write_manifest(nm)
        return nm

    # -- maintenance (Iceberg rewrite_data_files / expire_snapshots) -----
    def bucket_files(self, rel_dir: str, buckets) -> dict[int, list[str]]:
        """Parquet files a ``partitionBy("bucket")`` write left under
        ``rel_dir`` (relative to the root), per bucket, as the relative
        paths a manifest file list holds; a bucket with no file maps to
        ``[]``. The one listing every epoch write and fold goes through."""
        out: dict[int, list[str]] = {}
        for b in buckets:
            sub = os.path.join(rel_dir, f"bucket={b}")
            out[b] = [
                os.path.join(sub, f)
                for f in sorted(self.fs.listdir(os.path.join(self.root, sub)))
                if f.endswith(".parquet")
            ]
        return out

    def _rewrite_buckets(
        self, df: DataFrame, n_buckets: int, buckets: list[int], out_rel: str
    ) -> dict[int, list[str]]:
        """Fold rewrite shared by ``compact`` and ``compact_buckets``: one
        file per bucket of ``buckets``, rows sorted by key. Returns the new
        file lists (``bucket_files``)."""
        (
            df.withColumn(
                "bucket",
                F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int"),
            )
            .repartition(len(buckets), "bucket")
            # Iceberg sort-order analogue (rewrite_data_files sort
            # strategy): folded files are ordered by (conv_id, turn_idx),
            # so every row group's min/max stats form tight disjoint key
            # ranges and a point lookup's pushed filter skips all but ~one
            # row group per file. Leading "bucket" satisfies the
            # dynamic-partition writer's required ordering, so it adds NO
            # extra sort of its own. Epoch writes stay unsorted — sorting
            # belongs in the read-optimizing step, not the ingest hot path.
            .sortWithinPartitions("bucket", "conv_id", "turn_idx")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(self.root, out_rel))
        )
        return self.bucket_files(out_rel, buckets)

    def _commit_if_current(self, planned: Manifest, nm: Manifest, op: str) -> Manifest:
        """Commit ``nm`` under the lease iff CURRENT is still the version
        ``planned`` was read at; otherwise raise — the offline maintenance
        operations (``op``: compact/convert/rollback) never rebase."""
        with self.commit_lease():
            cur_v = self._current_version()
            if cur_v != planned.version:
                raise CommitConflictError(
                    f"{self.root}: {op} planned against v{planned.version} "
                    f"but CURRENT is v{cur_v} — a writer committed "
                    f"meanwhile; pause the task and re-run {op}"
                )
            self._write_manifest(nm)
        return nm

    def compact(
        self,
        spark: SparkSession,
        *,
        drop_tombstones: bool = False,
        clear_drop_watermarks: bool = False,
        n_buckets: int | None = None,
    ) -> Manifest:
        """Rewrite every bucket into one file, physically removing rows
        dead under a partition-drop watermark (clearing the merge-on-read
        read cost) — the analogue of Iceberg's ``rewrite_data_files``.

        Drop AND truncate WATERMARKS are RETAINED by default even though
        the stored rows they killed are physically gone: apply_batch still
        needs them to defeat late-arriving DML older than the drop (the
        engine's any-batch-order convergence invariant).
        ``clear_drop_watermarks=True`` — like ``drop_tombstones=True`` for
        delete tombstones — is only safe once the changelog guarantees no
        event older than the watermark can still arrive (past the
        source's lag watermark).

        ``n_buckets`` additionally CHANGES the table's bucket count while
        rewriting (see :meth:`rebucket` for the semantics)."""
        m = self.current()
        nb = n_buckets or m.n_buckets
        df = self.read(spark, manifest=m, logical=False)  # drops applied
        if drop_tombstones:
            df = df.filter(F.coalesce(F.col("alive"), F.lit(True)))
        written = self._rewrite_buckets(
            df, nb, list(range(nb)), f"data/compact-v{m.version}"
        )
        summary = {**m.summary, "last_compaction_version": m.version}
        if nb != m.n_buckets:
            summary["rebucketed_from"] = m.n_buckets
        nm = replace(
            m,
            version=m.version + 1,
            snapshot_id=self._snapshot_id(
                f"compact-{m.version}"
                if nb == m.n_buckets
                else f"rebucket-{m.version}-{nb}"
            ),
            n_buckets=nb,
            drop_watermarks={} if clear_drop_watermarks else m.drop_watermarks,
            files={str(b): rels for b, rels in written.items() if rels},
            summary=summary,
            truncate_watermark=None if clear_drop_watermarks else m.truncate_watermark,
        )
        return self._commit_if_current(m, nm, "compact")

    def compact_buckets(self, spark: SparkSession, buckets: list[int]) -> dict[str, Any]:
        """Fold ONLY the given buckets' file chains (per-bucket
        ``rewrite_data_files``) — the merge-on-read housekeeping primitive:
        cost ∝ the offending delta chains, never O(table), so one hot
        bucket cannot impose a whole-table rewrite at an epoch boundary
        (the latency cliff full ``compact`` has inline in a batch loop).

        Commutes with a concurrent epoch writer by BUCKET-LEVEL
        PREFIX-CAS instead of failing: the fold plans against CURRENT,
        rewrites the selected buckets, then — under the lease — re-reads
        CURRENT and, for each bucket whose current list still STARTS WITH
        the planned list (MOR epochs only ever append), swaps the planned
        prefix for the folded file and carries the mid-fold deltas on top
        — sound because last-writer resolution is order-independent, so
        ``[folded] + suffix ≡ planned + suffix``. A bucket whose planned
        prefix is gone (a CoW epoch REWRITES content, making the fold
        output stale) is SKIPPED and re-folded next trigger. The epoch
        writer on its side rebases its append over this fold's commit
        (see ``commit``) — neither side ever fails the other.
        Drop/truncate watermarks are retained (same late-DML rationale as
        ``compact``); dead rows in folded buckets are physically removed.

        Returns {"folded": [...], "skipped": [...], "version": N}.
        """
        m = self.current()
        planned = {int(b): list(m.files.get(str(b), [])) for b in buckets}
        planned = {b: fl for b, fl in planned.items() if fl}
        if not planned:
            return {"folded": [], "skipped": [], "version": m.version}
        df = self.read(
            spark, manifest=m, buckets=sorted(planned), logical=False
        )  # drops applied; MOR chains resolved to one winner per key
        # a bucket whose every row was dead folds to [] → it empties
        folded_files = self._rewrite_buckets(
            df, m.n_buckets, list(planned), f"data/fold-v{m.version}"
        )
        with self.commit_lease():
            cur = self.current()
            folded, skipped = [], []
            files = dict(cur.files)
            for b, old_list in planned.items():
                cur_list = cur.files.get(str(b), [])
                if cur_list[: len(old_list)] == old_list:
                    merged = folded_files[b] + cur_list[len(old_list):]
                    if merged:
                        files[str(b)] = merged
                    else:
                        files.pop(str(b), None)
                    folded.append(b)
                else:
                    skipped.append(b)  # bucket rewritten mid-fold (CoW)
            if not folded:
                return {"folded": [], "skipped": sorted(skipped),
                        "version": cur.version}
            nm = replace(
                cur,
                version=cur.version + 1,
                snapshot_id=self._snapshot_id(f"fold-{cur.version}"),
                files=files,
                summary={**cur.summary, "last_fold_version": cur.version},
            )
            self._write_manifest(nm)
        return {"folded": sorted(folded), "skipped": sorted(skipped),
                "version": nm.version}

    def rebucket(self, spark: SparkSession, n_buckets: int) -> Manifest:
        """Change the table's bucket count in place — the Iceberg
        partition-spec-evolution analogue, the lifecycle operation a
        table growing toward 10^10 events needs: a layout sized for the
        first month (buckets ≈ cores) eventually makes each bucket's
        rewrite-per-epoch (CoW) or fold (MOR) too large, and point
        lookups read 1/n_buckets of the table, so n_buckets must grow
        with it. A full rewrite is the honest cost (every row changes
        bucket — unlike Iceberg spec evolution, which lazily applies the
        new spec to new data only, the merge write requires ONE layout
        for join co-partitioning, so the rewrite happens eagerly).

        Offline operation under the commit lease: a racing epoch commit
        planned against the old layout fails loudly (``n_buckets`` is
        excluded from the maintenance rebase — its buckets would scatter
        keys). Everything else follows CURRENT automatically: the next
        ``apply_batch`` and every ``lookup`` read ``n_buckets`` from the
        manifest. Epochs, schema, watermarks, and write_mode are all
        preserved; the rewrite is sorted (tight row-group stats).
        Idempotent (same count = no-op)."""
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        m = self.current()
        if n_buckets == m.n_buckets:
            return m
        return self.compact(spark, n_buckets=n_buckets)

    def convert(self, spark: SparkSession, write_mode: str) -> Manifest:
        """Migrate the table's write mode in place (CoW ⇄ MOR) — the
        documented 10^10 path for a grown CoW table whose per-epoch write
        amplification has started to dominate (BASELINE.md: CoW decays
        with table size, MOR holds flat). compact-then-flip: a freshly
        compacted table is one file per bucket, which both modes read
        identically, so the flip itself is metadata-only and the next
        epoch simply takes the new write path. Idempotent (same mode =
        no-op). Offline operation: runs under the commit lease; a drain
        racing it fails loudly (write_mode is excluded from the
        maintenance rebase) — pause the task first."""
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")
        m = self.current()
        if m.write_mode == write_mode:
            return m
        m = self.compact(spark)
        nm = replace(
            m,
            version=m.version + 1,
            snapshot_id=self._snapshot_id(f"convert-{m.version}-{write_mode}"),
            summary={**m.summary, "converted_from": m.write_mode},
            write_mode=write_mode,
        )
        return self._commit_if_current(m, nm, "convert")

    def stats(self) -> dict[str, Any]:
        """Table inspection WITHOUT a Spark session — the Iceberg
        metadata-tables analogue (``files`` / ``partitions`` /
        ``snapshots``): per-bucket file counts, physical rows and bytes
        read from parquet FOOTERS (no data pages touched), the max
        delta-chain depth (the MOR housekeeping signal auto-compaction
        triggers on), schema at logical names, watermarks, epoch span,
        and the retained time-travel window. Drives the CLI ``stats``
        verb (Spark-free, like ``vacuum``).

        ``physical_rows`` counts stored rows — including delete
        tombstones and unresolved multi-version MOR rows — so it is an
        upper bound on the logical count, not equal to it. A production
        manifest would record per-file stats at commit time (Iceberg
        does); reading footers keeps this implementation honest at
        O(#files) metadata fetches, never a data scan."""
        import pyarrow.parquet as pq

        m = self.current()
        buckets: dict[str, dict[str, int]] = {}
        total_rows = total_bytes = total_files = max_chain = 0
        for b, rels in sorted(m.files.items(), key=lambda kv: int(kv[0])):
            rows = size = 0
            for rel in rels:
                full = os.path.join(self.root, rel)
                rows += pq.ParquetFile(full).metadata.num_rows
                size += os.path.getsize(full)
            buckets[b] = {"files": len(rels), "rows": rows, "bytes": size}
            total_rows += rows
            total_bytes += size
            total_files += len(rels)
            max_chain = max(max_chain, len(rels))
        retained = sorted(
            int(f[1:-5])
            for f in self.fs.listdir(self.meta_dir)
            if f.startswith("v") and f.endswith(".json")
        )
        epochs = [int(e) for e in m.epochs]
        return {
            "version": m.version,
            "snapshot_id": m.snapshot_id,
            "write_mode": m.write_mode,
            "n_buckets": m.n_buckets,
            "columns": [[m.logical_name(n), t] for n, t in m.columns],
            "n_files": total_files,
            "physical_rows": total_rows,
            "bytes": total_bytes,
            "max_delta_chain": max_chain,
            "epochs": {
                "count": len(epochs),
                "min": min(epochs) if epochs else None,
                "max": max(epochs) if epochs else None,
            },
            "drop_watermarks": dict(m.drop_watermarks),
            "truncate_watermark": m.truncate_watermark,
            "retained_versions": (
                [retained[0], retained[-1]] if retained else []
            ),
            "pins": self.pins(),
            "buckets": buckets,
        }

    def rollback(self, to_version: int) -> Manifest:
        """Restore the table to an earlier snapshot — the Iceberg
        ``rollback_to_snapshot`` analogue (and the recovery story the
        reference delegates to "reset the position and replay",
        /root/reference/server/cdc_impl.go:844-873): a bad epoch is undone
        by swinging CURRENT forward to a NEW version whose content is the
        old manifest's, byte for byte.

        Forward-rolling (never rewinds CURRENT) keeps the version history
        linear and time travel intact. The epoch registry is restored to
        the target's, so re-draining from the matching checkpoint REPLAYS
        the undone epochs instead of skipping them — exactly-once
        composes with rollback. Data files are untouched (the rolled-back
        version still references them; ``vacuum`` reclaims the undone
        epochs' files once their manifests age out). Runs under the
        commit lease with a CAS check — a racing writer fails loudly.
        """
        m = self.current()
        if to_version == m.version:
            return m
        if to_version > m.version:
            raise ValueError(
                f"rollback target v{to_version} is ahead of CURRENT v{m.version}"
            )
        try:
            old = self.at_version(to_version)
        except FileNotFoundError:
            raise ValueError(
                f"rollback target v{to_version} is expired — its manifest "
                f"was removed by vacuum (retention window); earliest "
                f"retained versions are visible in {self.meta_dir}"
            ) from None
        nm = replace(
            old,
            version=m.version + 1,
            snapshot_id=self._snapshot_id(f"rollback-{to_version}-at-{m.version}"),
            summary={**old.summary, "rolled_back_from": m.version,
                     "rolled_back_to": to_version},
        )
        return self._commit_if_current(m, nm, "rollback")

    # ---- consumer version pins (retention coordination) ------------------
    # (naming helper `consumer_pin_name` lives at module level below)
    # An incremental consumer (publish feed, cascade replica, any
    # changes()-based pipeline) is only sound while its diff base's
    # manifest is retained — vacuum expiring it forces a re-bootstrap or,
    # worse, silent delete loss (see publish_round / cascade_until_current
    # guards). Pins close the loop: a consumer records the version it will
    # next diff FROM, and vacuum never expires at or above the lowest pin.
    # The reference keeps consumer replay positions in etcd for the same
    # reason (server/cdc_impl.go task positions gate what the source MQ
    # may drop); Iceberg's analogue is branch/tag retention refs. Pins are
    # tiny JSON files (atomic tmp+replace, same protocol as every other
    # meta commit) so they work from any process, Spark-free.

    @property
    def pins_dir(self) -> str:
        return os.path.join(self.meta_dir, "pins")

    def pin_version(self, name: str, version: int) -> None:
        """Record (or advance) consumer ``name``'s pin: vacuum keeps every
        manifest ≥ the lowest pinned version. Re-pinning overwrites —
        consumers pin their new cursor after each consumed round."""
        if not name or not all(c.isalnum() or c in "._-" for c in name):
            raise ValueError(
                f"pin name must be non-empty [A-Za-z0-9._-], got {name!r}"
            )
        self.fs.makedirs(self.pins_dir)
        # under the commit lease, paired with vacuum holding it across
        # its pin-read → expiry window: a pin either lands before vacuum
        # reads pins (and is respected) or after vacuum released (and the
        # floor check below fails LOUDLY instead of the manifest being
        # expired out from under a silently-accepted pin — the TOCTOU a
        # lease-less read left open)
        with self.commit_lease(owner=f"pin-{name}"):
            p = os.path.join(self.pins_dir, f"{name}.json")
            self.fs.write_text_atomic(
                p,
                json.dumps(
                    {"version": int(version), "pinned_at": time.time()}
                ),
            )
            floor = self.earliest_retained_version()
            if int(version) < floor:
                self.fs.delete(p)
                raise ValueError(
                    f"{self.root}: pin {name}@{version} is below the "
                    f"retained floor {floor} (expired by vacuum) — the "
                    "consumer must re-bootstrap from a retained snapshot"
                )

    def unpin(self, name: str) -> bool:
        """Drop a consumer's pin (e.g. the feed was decommissioned);
        returns whether it existed."""
        p = os.path.join(self.pins_dir, f"{name}.json")
        if self.fs.exists(p):
            self.fs.delete(p)
            return True
        return False

    def pins(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for fn in sorted(self.fs.listdir(self.pins_dir)):
            if fn.endswith(".json") and not fn.startswith("_"):
                out[fn[:-5]] = int(
                    json.loads(
                        self.fs.read_text(os.path.join(self.pins_dir, fn))
                    )["version"]
                )
        return out

    def vacuum(
        self, keep_versions: int = 2, min_age_sec: float = 3600.0
    ) -> dict[str, int]:
        """Delete data files unreferenced by the last ``keep_versions``
        manifests, and expire older manifests — Iceberg's
        ``expire_snapshots``. Keeping >1 version preserves short-horizon
        time travel and in-flight readers. Consumer pins (``pin_version``)
        FLOOR the expiry: every manifest at or above the lowest pin stays
        retained no matter how small ``keep_versions`` is, so a lagging
        feed or replica can always take its incremental diff. (A consumer
        pinned far in the past therefore blocks reclamation — ``pins()``
        in the returned dict / ``stats`` surfaces who.)

        ``min_age_sec`` protects the write-then-commit window: an epoch's
        data files land on disk BEFORE its manifest commit (see
        operators/apply.py), so a file younger than the threshold may
        belong to an in-flight batch and is never touched — the same
        reason Iceberg's orphan-file removal has an age cutoff."""
        import time as _time

        # the COMMIT LEASE brackets the pin-read → expiry window, paired
        # with pin_version also pinning under it: a concurrent consumer's
        # pin either lands before the read below (respected) or after
        # expiry completes (its own floor check fails loudly) — never in
        # between, where the manifest it pinned would be expired anyway
        # (the TOCTOU the round-4 review flagged)
        with self.commit_lease(owner="vacuum") as renew:
            now = _time.time()
            cur = self.current()
            lo = max(0, cur.version - keep_versions + 1)
            pin_map = self.pins()
            if pin_map:
                lo = min(lo, min(pin_map.values()))
            keep: set[str] = set()
            for v in range(lo, cur.version + 1):
                try:
                    mv = self.at_version(v)
                except FileNotFoundError:
                    continue
                for rels in mv.files.values():
                    keep.update(os.path.normpath(r) for r in rels)
            deleted = freed = 0
            n_seen = 0
            for full, mtime, size in self.fs.walk_files(self.data_dir):
                n_seen += 1
                if n_seen % 2000 == 0:
                    renew()  # big tables: outlive the lease TTL safely
                fn = os.path.basename(full)
                rel = os.path.normpath(os.path.relpath(full, self.root))
                if fn.endswith(".parquet") and rel not in keep:
                    if now - mtime < min_age_sec:
                        continue  # possibly an in-flight uncommitted epoch
                    freed += size
                    self.fs.delete(full)
                    deleted += 1
                elif fn.startswith(("_SUCCESS", "._")) or fn.endswith(".crc"):
                    self.fs.delete(full)
            self.fs.prune_empty_dirs(self.data_dir)
            expired = 0
            for v in range(lo):
                p = os.path.join(self.meta_dir, f"v{v}.json")
                if self.fs.exists(p):
                    self.fs.delete(p)
                    expired += 1
            out = {
                "deleted_files": deleted,
                "freed_bytes": freed,
                "expired_manifests": expired,
            }
            if pin_map:
                out["pin_floor"] = min(pin_map.values())
            return out

    # ---- dead-letter queue (quarantined poison events) -------------------
    # apply_batch(on_malformed='dlq') lands rejects under
    # <root>/dlq/epoch-<N>/ with a ``_reason`` column (the Kafka-Connect/
    # Debezium DLQ pattern; the reference instead pauses the whole task,
    # server/cdc_impl.go:972-1003). All three verbs are driver-side pyarrow
    # — DLQ volume is exception-scale, never data-scale. The module-level
    # ``dlq_*_dir`` functions serve any reject directory (a MultiCdcTask
    # also keeps a TASK-level one at <tables_root>/_dlq for events whose
    # table_name itself is null — unroutable to any per-table dlq).

    @property
    def dlq_dir(self) -> str:
        return os.path.join(self.root, "dlq")

    def dlq_summary(self) -> dict[str, dict[str, int]]:
        """Per-epoch quarantine counts by reason:
        ``{"epoch-3": {"null ts": 2, "null key (conv_id/turn_idx)": 1}}``."""
        return dlq_summary_dir(self.dlq_dir)

    def dlq_replay(self, log_dir: str, purge: bool = True) -> dict[str, int]:
        """Move quarantined events back into a changelog directory — the
        DLQ reprocess loop: inspect, repair the parquet in place (or fix
        the producer), then replay. Each epoch's rejects become ONE new
        log file named ``dlq-replay-<table>-<epoch>.parquet`` (stable name
        → idempotent against a crashed replay), with ``_reason`` dropped;
        the tailing task picks them up as an ordinary file-source trigger.
        Rows still malformed simply re-quarantine on the next apply —
        replay can never corrupt the table. Original lsn/ts are preserved,
        so repaired rows merge at their true ordering position
        (last-writer-wins is replay-order-independent)."""
        tag = os.path.basename(os.path.normpath(self.root))
        return dlq_replay_dir(self.dlq_dir, log_dir, tag, purge=purge)

    def dlq_purge(self) -> dict[str, int]:
        """Drop all quarantined events (after inspection or replay)."""
        return dlq_purge_dir(self.dlq_dir)


def _dlq_files(dlq_dir: str) -> list[tuple[str, str]]:
    """(epoch-dirname, absolute parquet path) pairs, sorted."""
    from milvus_cdc_spark.plans.fs import get_fs

    fs = get_fs(dlq_dir)
    out = []
    for ep in sorted(fs.listdir(dlq_dir)):
        epd = os.path.join(dlq_dir, ep)
        for fn in sorted(fs.listdir(epd)):
            if fn.endswith(".parquet"):
                out.append((ep, os.path.join(epd, fn)))
    return out


def dlq_summary_dir(dlq_dir: str) -> dict[str, dict[str, int]]:
    from collections import Counter

    import pyarrow.parquet as pq

    out: dict[str, Counter] = {}
    for ep, path in _dlq_files(dlq_dir):
        reasons = pq.read_table(path, columns=["_reason"])
        out.setdefault(ep, Counter()).update(
            reasons.column("_reason").to_pylist()
        )
    return {ep: dict(c) for ep, c in out.items()}


def dlq_replay_dir(
    dlq_dir: str, log_dir: str, tag: str, purge: bool = True
) -> dict[str, int]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from milvus_cdc_spark.streaming.wal import DLQ_REPLAY_PREFIX

    os.makedirs(log_dir, exist_ok=True)
    by_epoch: dict[str, list] = {}
    for ep, path in _dlq_files(dlq_dir):
        by_epoch.setdefault(ep, []).append(path)
    replayed = files = 0
    for ep, paths in by_epoch.items():
        tables = [pq.read_table(p).drop_columns(["_reason"]) for p in paths]
        merged = pa.concat_tables(tables, promote_options="permissive")
        # normalize timestamps to micros/UTC: Spark lands dlq files with
        # INT96 ts, which pyarrow surfaces as ns — and a ns/NTZ rewrite is
        # unreadable by a Spark timestamp schema (nanos unsupported)
        fields = [
            f.with_type(pa.timestamp("us", tz="UTC"))
            if pa.types.is_timestamp(f.type)
            else f
            for f in merged.schema
        ]
        merged = merged.cast(pa.schema(fields))
        name = f"{DLQ_REPLAY_PREFIX}{tag}-{ep}.parquet"
        dst = os.path.join(log_dir, name)
        # hidden temp name: a tailing task never lists the partial file
        tmp = os.path.join(log_dir, f".{name}.inprogress")
        pq.write_table(merged, tmp)
        os.replace(tmp, dst)  # atomic: the tail never sees a partial file
        replayed += merged.num_rows
        files += 1
    if purge and replayed:
        dlq_purge_dir(dlq_dir)
    return {"replayed_rows": replayed, "files_written": files}


def dlq_purge_dir(dlq_dir: str) -> dict[str, int]:
    from milvus_cdc_spark.plans.fs import get_fs

    n = len(_dlq_files(dlq_dir))
    get_fs(dlq_dir).rmtree(dlq_dir)
    return {"purged_files": n}
