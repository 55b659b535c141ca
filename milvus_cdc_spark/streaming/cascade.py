"""Cascaded (table→table) replication: tail one SnapshotTable's
``changes()`` diff and apply it into another table — the topology the
reference actually ships (one Milvus replicated into another,
/root/reference/server/cdc_impl.go:213-320: source's replicate channel →
target writes), re-expressed lake-native: the SOURCE's snapshot diff IS
the replicate channel, and the TARGET consumes it through the same
idempotent ``apply_batch`` MERGE every first-level tail uses.

Why this shape scales: ``changes()`` is manifest-pruned (cost ∝ changed
buckets, see plans/manifest.py:411), the diff is the NET per-key change
(at most one event per key per hop, so a cascade hop shuffles |diff|
rows no matter how hot the upstream epoch was), and the target's epoch
gate makes every hop idempotent — a crashed cascade re-runs from the
same (from_version, to_version) pair and lands byte-identical state.

Scope: DML cascades fully (insert/update → UPSERT, delete → DELETE, the
net diff per key); schema evolution over a hop is replayed onto the
target as metadata-only DDL synthesized from the source's manifest diff
(ADD_COLUMN / RENAME_COLUMN / WIDEN_COLUMN), so the target's logical
schema tracks the source's hop by hop.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from milvus_cdc_spark import schemas as S
from milvus_cdc_spark.operators.apply import apply_batch

# consumer_pin_name is re-exported here for compatibility — cascade was
# its original home; the definition lives with the pin store
from milvus_cdc_spark.plans.manifest import SnapshotTable, consumer_pin_name

# key + bookkeeping columns every transcripts table carries; everything
# else in the diff is an evolved payload column that rides `extra`
_FIXED = ("conv_id", "turn_idx", "ts", "part", "lsn")

# Tombstone envelopes carry the PRE-IMAGE's lsn (the delete event's own
# offset is gone after the source's merge) — but re-emitting it verbatim
# would collide with the pre-image's insert envelope whenever a consumer
# batches two feed rounds into one trigger (apply_batch's duplicate-lsn
# integrity gate counts distinct lsns and fails loudly). Offset deletes by
# 2^62: deterministic (exactly-once re-publish lands the same value),
# disjoint from any real log offset (a 10^10-event log tops out ~2^34),
# unique across rounds (a pre-image can only be deleted once per insert,
# and pre-image lsns are unique), and still inside the decimal ord
# packing's lsn digit budget (2^62 ≈ 4.6e18 < 10^21, see apply.py:70).
_DELETE_LSN_OFFSET = 1 << 62




def changes_to_ops(
    changes: DataFrame,
    physical_map: dict[str, str] | None = None,
) -> DataFrame:
    """Convert a ``SnapshotTable.changes()`` diff into changelog events
    (schemas.CHANGELOG_SCHEMA) applicable by ``apply_batch``.

    insert|update → OP_UPSERT carrying the post-image; delete →
    OP_DELETE carrying only the key (+ the pre-image's ts for ordering
    and its lsn offset by ``_DELETE_LSN_OFFSET`` so the tombstone never
    collides with the pre-image's own insert envelope when a consumer
    batches several feed rounds into one trigger). ``physical_map`` (logical → physical, from the source
    manifest) routes each diff column into the changelog slot the target
    stores it under — a RENAMED column's values travel in its physical
    base column exactly like first-level events do, and evolved columns
    ride the ``extra`` string bag, the same dynamic-field channel the
    reference uses for evolved payloads (etcd_op.go:646-649 analogue)."""
    cols = [c for c in changes.columns if c != "change_type"]
    payload = [c for c in cols if c not in _FIXED]
    physical_map = physical_map or {}
    dest = {c: physical_map.get(c, c) for c in payload}
    direct = {d: c for c, d in dest.items() if d in S.PAYLOAD_COLUMNS}
    extra_cols = sorted(c for c in payload if dest[c] not in S.PAYLOAD_COLUMNS)
    is_del = F.col("change_type") == "delete"
    dtypes = dict(changes.dtypes)

    def _bag_encode(c: str):
        # vector/array payloads (FLOAT_VECTOR columns) travel as JSON
        # array text — the format manifest.bag_decode parses back on the
        # target; scalars cast to string
        if dtypes.get(c, "").startswith(("array", "map", "struct")):
            return F.to_json(F.col(c))
        return F.col(c).cast("string")

    extra = (
        F.when(
            ~is_del,
            F.create_map(
                *[x for c in extra_cols for x in (F.lit(c), _bag_encode(c))]
            ),
        )
        if extra_cols
        else F.lit(None).cast("map<string,string>")
    )
    # delete rows carry the PRE-IMAGE's (ts, lsn) — the source's actual
    # delete event ordering is gone after its CoW merge. A tombstone at
    # the pre-image's own ts would LOSE last-writer-wins to the stored row
    # it targets (equal ts, DELETE rank < UPSERT rank, O1 semantics), so
    # bump it one microsecond: strictly above the stored row, and provably
    # below any future hop's winner for the key — the source's real delete
    # event had ts_d > pre_ts (it beat the pre-image at DELETE rank, which
    # requires strictly-greater ts), and any later winner beat THAT, so
    # (ts_n, UPSERT) >= (ts_d, ...) >= (pre_ts + 1µs, DELETE). Within one
    # hop the diff is net-per-key, so the tombstone races nothing else.
    ts = F.when(
        is_del, F.col("ts") + F.expr("INTERVAL 1 MICROSECOND")
    ).otherwise(F.col("ts"))
    return changes.select(
        F.when(
            is_del, F.col("lsn").cast("bigint") + F.lit(_DELETE_LSN_OFFSET)
        )
        .otherwise(F.col("lsn").cast("bigint"))
        .alias("lsn"),
        ts.cast("timestamp").alias("ts"),
        F.col("part").cast("int").alias("part"),
        F.when(is_del, F.lit(S.OP_DELETE))
        .otherwise(F.lit(S.OP_UPSERT))
        .alias("op"),
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        *[
            F.when(~is_del, F.col(direct[d]) if d in direct else F.lit(None))
            .cast("string")
            .alias(d)
            for d in S.PAYLOAD_COLUMNS
        ],
        F.lit(None).cast("string").alias("ddl_arg"),
        extra.alias("extra"),
    )


def create_target_like(
    src: SnapshotTable,
    dst: SnapshotTable,
    *,
    n_buckets: int | None = None,
    write_mode: str = "cow",
):
    """Create a fresh cascade/replication target mirroring the SOURCE's
    PHYSICAL layout + rename map — not the flattened logical names.

    Why physical: ``changes_to_ops`` routes a renamed column's values
    into its physical base slot on the wire (exactly like first-level
    events), so a target whose physical column is the post-rename logical
    name would silently DROP those values — apply_batch only reads base
    payload slots that exist physically. Mirroring (columns, renames)
    makes the replica accept the same wire format the source's own tail
    does, while logical reads expose the renamed names identically."""
    sm = src.current()
    return dst.create(
        [(n, t) for n, t in sm.columns],
        n_buckets=n_buckets or sm.n_buckets,
        write_mode=write_mode,
        renames=dict(sm.renames),
    )


def cascade_epoch(
    spark: SparkSession,
    src: SnapshotTable,
    dst: SnapshotTable,
    from_version: int,
    *,
    to_version: int | None = None,
    epoch: int | None = None,
) -> dict[str, Any]:
    """One cascade hop: move ``dst`` forward by ``src``'s diff between
    ``from_version`` and ``to_version`` (default: src CURRENT).

    The target epoch defaults to ``to_version`` — src versions are
    monotonic, so re-running a hop after a crash hits dst's epoch gate
    and is a no-op (exactly-once per hop, same protocol as a first-level
    tail). The source's schema evolution over the hop is REPLAYED onto
    the target as metadata-only DDL synthesized from the manifest diff —
    RENAME_COLUMN where a physical column's logical name moved,
    WIDEN_COLUMN where its type was promoted, ADD_COLUMN for logical
    names the target still lacks — riding the same batch, lsn'd below
    the DML so they apply first (the reference likewise forwards DDL to
    the target ahead of the data stream, server/cdc_impl.go:213-320)."""
    new_m = src.at_version(to_version) if to_version else src.current()
    to_version = new_m.version
    old_sm = src.at_version(from_version)
    diff = src.changes(spark, from_version, to_version)
    ops = changes_to_ops(
        diff, {new_m.logical_name(n): n for n, _t in new_m.columns}
    )

    dst_m = dst.current()
    dst_logical = {dst_m.logical_name(n) for n, _t in dst_m.columns}
    ddl_args: list[tuple[str, str]] = []  # (op, json ddl_arg), apply order
    old_logical = {n: old_sm.logical_name(n) for n, _t in old_sm.columns}
    old_types = {n: t for n, t in old_sm.columns}
    for n, t in new_m.columns:
        new_log = new_m.logical_name(n)
        old_log = old_logical.get(n)
        if (
            old_log is not None
            and old_log != new_log
            and old_log in dst_logical
            and new_log not in dst_logical
        ):
            ddl_args.append(
                (S.OP_RENAME_COLUMN, json.dumps({"from": old_log, "to": new_log}))
            )
            dst_logical.discard(old_log)
            dst_logical.add(new_log)
        if old_types.get(n) is not None and old_types[n] != t:
            ddl_args.append(
                (S.OP_WIDEN_COLUMN, json.dumps({"column": new_log, "type": t}))
            )
    for n, t in new_m.columns:
        new_log = new_m.logical_name(n)
        if new_log not in dst_logical:
            ddl_args.append(
                (S.OP_ADD_COLUMN, json.dumps({"column": new_log, "type": t}))
            )
            dst_logical.add(new_log)
    if ddl_args:
        lo = diff.agg(F.min("lsn")).collect()[0][0] or 0
        epoch_zero = datetime.fromtimestamp(0, tz=timezone.utc).replace(tzinfo=None)
        ddl = spark.createDataFrame(
            [
                (
                    lo - len(ddl_args) + i, epoch_zero, -1, op,
                    None, None, None, None, None, arg, None,
                )
                for i, (op, arg) in enumerate(ddl_args)
            ],
            S.CHANGELOG_SCHEMA,
        )
        ops = ddl.unionByName(ops)

    res = apply_batch(
        spark, dst, ops, epoch if epoch is not None else to_version
    )
    res["from_version"] = from_version
    res["to_version"] = to_version
    return res


def snapshot_hop(
    spark: SparkSession,
    src: SnapshotTable,
    dst: SnapshotTable,
) -> dict[str, Any]:
    """Full-snapshot bootstrap hop: apply ``src`` CURRENT as insert
    envelopes in ONE epoch committed at the current source version — the
    hop a fresh target takes when the incremental diff base has been
    expired by vacuum (Debezium's snapshot-read phase, replica-side).
    Each row rides at its stored (ts, lsn), so a subsequent incremental
    hop arbitrates snapshot-vs-diff overlap through the ordinary
    last-writer merge; re-runs land on the epoch gate and no-op."""
    m = src.current()
    phys = {m.logical_name(n): n for n, _t in m.columns}
    full = src.read(spark).withColumn("change_type", F.lit("insert"))
    res = apply_batch(spark, dst, changes_to_ops(full, phys), m.version)
    res["from_version"] = None
    res["to_version"] = m.version
    res["snapshot_bootstrap"] = True
    return res


def cascade_until_current(
    spark: SparkSession,
    src: SnapshotTable,
    dst: SnapshotTable,
    from_version: int,
    *,
    hop_versions: int | None = None,
) -> list[dict[str, Any]]:
    """Catch ``dst`` up to ``src`` CURRENT in one or more hops.

    ``hop_versions`` bounds the version span per hop (None = one hop for
    the whole span). Smaller hops trade more MERGE rounds for smaller
    diffs — the knob a resumable backfill uses.

    If ``from_version``'s manifest has been EXPIRED by the source's
    vacuum, an incremental hop is impossible: a fresh target (no applied
    epochs) takes a ``snapshot_hop`` bootstrap instead; a target that
    already holds state fails loudly — diffing from a retained-but-later
    version would silently lose every row untouched since the expired
    base."""
    results: list[dict[str, Any]] = []
    cur = src.current().version
    v = from_version
    earliest = src.earliest_retained_version() if v < cur else 0
    if v < cur and v < earliest:
        dst_eps = [int(e) for e in dst.current().epochs if int(e) >= 0]
        pos = max(dst_eps) if dst_eps else None
        if pos is not None and pos >= earliest:
            # caller passed a stale base (e.g. a crash-retry with an
            # explicit --from-version) but the target itself is already
            # past the retention floor: continue from its real position
            v = pos
        elif pos is not None:
            raise ValueError(
                f"{src.root}: cascade base v{v} expired by vacuum "
                f"(earliest retained is v{earliest}) and the target "
                f"already holds epochs up to {pos} — an incremental hop "
                "from an expired base silently loses rows. Rebuild the "
                "target (drop it and re-run for a fresh snapshot "
                "bootstrap), or vacuum the source with more "
                "keep_versions."
            )
        else:
            results.append(snapshot_hop(spark, src, dst))
            src.pin_version(
                consumer_pin_name(dst.root, "cascade"),
                results[-1]["to_version"],
            )
            return results
    pin = consumer_pin_name(dst.root, "cascade")
    while v < cur:
        nxt = min(cur, v + hop_versions) if hop_versions else cur
        results.append(
            cascade_epoch(spark, src, dst, v, to_version=nxt)
        )
        v = nxt
        # retention coordination: advance the pin PER HOP (not once at
        # the end) so a crash mid-way through a multi-hop catch-up never
        # leaves the replica's new base unpinned against vacuum
        src.pin_version(pin, v)
    # no-hop call (already caught up): still record/advance the position
    # this replica will next diff FROM
    if not results:
        src.pin_version(pin, v)
    return results
