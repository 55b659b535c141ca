"""The apply core: micro-batch changelog → dedup → MERGE → snapshot commit.

This is the engine's analogue of the reference hot path
(/root/reference/core/reader/replicate_channel_manager.go:1169-1491
``handlePack`` + core/writer/channel_writer.go:139-212 + the relational
batcher core/writer/devon_handler.go:120-254), re-expressed as three
declarative Spark stages instead of a goroutine graph:

1. **DDL split** — DROP_PARTITION / ADD_COLUMN / RENAME_COLUMN rows are
   peeled off (driver-side; O(#DDL) tiny) and become manifest metadata.
2. **Last-writer-wins dedup** — ``groupBy(conv_id, turn_idx).agg(
   max(ord))`` over a decimal-packed (ts, rank, lsn) scalar (a
   whole-stage-codegen HashAggregate with map-side partial merge — the
   skew answer), then a skew-proof winner-recovery join keyed on
   (key, ord); see ``dedup_last_writer``. Ordering semantics: higher
   ``(ts, rank, lsn)`` wins, rank DELETE(0) < INSERT/UPSERT(2) — i.e.
   delete applies before insert at equal ts, exactly the reference's
   intra-pack sort rule (replicate_channel_manager.go:1170-1173).
3. **MERGE (copy-on-write, bucket-pruned)** — touched buckets =
   ``pmod(xxhash64(conv_id), n_buckets)`` over the actions; ONLY those
   buckets are scanned and rewritten; the manifest carries every other
   file forward. The join is 1:1 (both sides unique per key) so it cannot
   skew. An incoming action beats a stored row iff its (ts, rank, lsn)
   triple is greater — which makes apply order-insensitive ACROSS batches
   too: any partitioning of the log into micro-batches converges to the
   same final table (stronger than the reference's per-channel serial
   apply, replicate_message_manager.go:84-100, and what lets Spark run
   the batch fully parallel).

Exactly-once: data files are written first, then the manifest commit
records the epoch; a crash-replay of a committed epoch is detected and
skipped (see plans/manifest.py).
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from milvus_cdc_spark import schemas as S
from milvus_cdc_spark.plans.manifest import SnapshotTable

_BASE_PAYLOAD = list(S.PAYLOAD_COLUMNS)  # role, text, tool
_LOG = logging.getLogger("milvus_cdc_spark.apply")

# runs the per-epoch offset-integrity scan concurrently with the merge
# (see apply_batch); sized at 2x MultiCdcTask's default per-batch table
# concurrency (max_concurrency=8) so gates rarely queue even when a user
# raises the task's concurrency — and queueing only delays, never breaks,
# the .result() ordering
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

_GATE_POOL = ThreadPoolExecutor(max_workers=16, thread_name_prefix="lsn-gate")


def _rank_col(op_col):
    return (
        F.when(op_col == S.OP_DELETE, F.lit(S.RANK_DELETE))
        .otherwise(F.lit(S.RANK_UPSERT))
        .cast("int")
    )


# (ts_micros, rank, lsn) packed into ONE decimal(38,0):
#   ord = ts_us * 10^22 + rank * 10^21 + lsn
# Why a scalar and not max_by(struct, struct): ANY aggregate whose buffer
# holds a struct is planned as SortAggregate (the buffer isn't mutable in
# an UnsafeRow), which re-sorts every micro-batch on both the map and
# reduce side — measured at 50-150µs/row vs ~2µs for HashAggregate.
# max(decimal(38,0)) keeps the dedup in whole-stage-codegen hash
# aggregation with map-side partial merge. Bounds: ts_us ≤ 1.7e15 (year
# 2128) → 1.7e37 < 9.9e37 dec38 max; lsn < 10^21 (10^10-event logs fit
# with 10^11 headroom); rank ∈ {0,1,2}. The factors live in
# plans/manifest.py (single source of truth — merge-on-read resolution
# uses the identical packing over stored rows).
from milvus_cdc_spark.plans.manifest import (  # noqa: E402
    ORD_RANK_FACTOR as _ORD_RANK_FACTOR,
    ORD_TS_FACTOR as _ORD_TS_FACTOR,
)


def _ord_col(op_col):
    return (
        F.unix_micros(F.col("ts")).cast("decimal(38,0)") * F.expr(_ORD_TS_FACTOR)
        + _rank_col(op_col).cast("decimal(38,0)") * F.expr(_ORD_RANK_FACTOR)
        + F.col("lsn").cast("decimal(38,0)")
    )


def dedup_last_writer(dml: DataFrame, payload_cols: list[str]) -> DataFrame:
    """Surviving action per (conv_id, turn_idx): max by (ts, rank, lsn).

    Two-phase, sort-free plan:
      1. ``groupBy(key).agg(max(ord))`` — HashAggregate over a fixed-width
         decimal; hot conversations partial-merge map-side on every input
         partition before the single shuffle (the skew answer).
      2. winner recovery: equi-join back on (conv_id, turn_idx, ord).
         Because ord is unique per event (it embeds lsn), the stream side
         hashes uniformly across partitions EVEN WHEN one conversation
         dominates the batch — the hot-key skew a (conv, turn)-keyed
         join would concentrate into single reducers (measured: 3 hot
         conversations capped cluster utilization at ~34%) simply cannot
         occur. SHUFFLE_HASH-hinted: build side is one skinny row per
         key, wide event rows stream through unsorted.

    Returns columns: conv_id, turn_idx, op, ts, lsn, part, *payload_cols.
    """
    keyed = dml.withColumn("_ord", _ord_col(F.col("op")))
    w = keyed.groupBy("conv_id", "turn_idx").agg(F.max("_ord").alias("_ord"))
    # CONTRACT: lsn is the log offset and therefore unique — the same
    # guarantee every WAL/binlog consumer relies on. Under it, exactly one
    # event per key carries max(_ord) (ord embeds lsn) and this join emits
    # one winner per key. apply_batch validates the contract per batch and
    # fails loudly on duplicate lsns (silently deduplicating here would
    # require a payload-carrying aggregate, which planers as SortAggregate
    # — the 50x cliff this module exists to avoid).
    winners = keyed.join(
        w.hint("shuffle_hash"), on=["conv_id", "turn_idx", "_ord"]
    )
    return winners.select(
        "conv_id", "turn_idx", "op", "ts", "lsn", "part",
        *[F.col(c) for c in payload_cols],
    )


def _parse_ddl(
    rows,
) -> tuple[
    list[tuple[str, str]],
    dict[str, str],
    dict[str, str],
    list[str],
    dict[int, str],
    str | None,
]:
    """(add_columns, renames{from→to}, widens{column→type}, drop_columns,
    drop_watermarks{part→iso ts}, truncate_ts) from DDL rows.

    adds are deduped by column name (at-least-once upstream delivery can
    replay the same ADD_COLUMN into one batch); unknown types degrade to
    string rather than poisoning the manifest schema. Several WIDEN_COLUMNs
    for one column in a batch keep the widest (lattice max — replays
    converge). DROP_COLUMNs dedupe into an ordered retirement list
    (schemas.OP_DROP_COLUMN name-retirement semantics — the commit filters
    adds against it, so add+drop of one name converges to "absent" under
    any batching)."""
    from milvus_cdc_spark.plans.manifest import _SPARK_TYPES, is_widening

    adds: list[tuple[str, str]] = []
    seen_adds: set[str] = set()
    renames: dict[str, str] = {}
    widens: dict[str, str] = {}
    drop_cols: list[str] = []
    drops: dict[int, str] = {}
    truncate_ts: str | None = None
    bad: list[tuple[Any, str]] = []  # (row, reason) — caller decides fate
    for r in sorted(rows, key=lambda r: r["lsn"]):
        try:
            arg = json.loads(r["ddl_arg"]) if r["ddl_arg"] else {}
            if not isinstance(arg, dict):
                raise ValueError(f"ddl_arg is not an object: {arg!r}")
        except (json.JSONDecodeError, ValueError) as e:
            bad.append((r, f"ddl_arg parse error: {e}"))
            continue
        try:
            _apply_one_ddl(
                r, arg, adds, seen_adds, renames, widens, drop_cols, drops
            )
        except (KeyError, TypeError, ValueError) as e:
            bad.append((r, f"invalid ddl args: {e!r}"))
            continue
        if r["op"] == S.OP_TRUNCATE:
            ts = r["ts"].isoformat(sep=" ")
            if truncate_ts is None or ts > truncate_ts:
                truncate_ts = ts
    return adds, renames, widens, drop_cols, drops, truncate_ts, bad


def _apply_one_ddl(r, arg, adds, seen_adds, renames, widens, drop_cols, drops) -> None:
    """One DDL row's effect on the accumulators; raises KeyError/TypeError/
    ValueError on args that don't fit the op's contract (missing 'column'/
    'from'/'to', non-integer 'part', protected-column drop) — the caller
    quarantines those."""
    from milvus_cdc_spark.plans.manifest import _SPARK_TYPES, is_widening

    if r["op"] == S.OP_ADD_COLUMN:
        name = arg["column"]
        typ = arg.get("type", "string")
        if typ not in _SPARK_TYPES:
            typ = "string"
        if name not in seen_adds:
            seen_adds.add(name)
            adds.append((name, typ))
    elif r["op"] == S.OP_RENAME_COLUMN:
        renames[arg["from"]] = arg["to"]
    elif r["op"] == S.OP_WIDEN_COLUMN:
        name, typ = arg["column"], arg.get("type", "")
        if typ in _SPARK_TYPES and (
            name not in widens or is_widening(widens[name], typ)
        ):
            widens[name] = typ
    elif r["op"] == S.OP_DROP_COLUMN:
        name = arg["column"]
        if not isinstance(name, str) or not name:
            raise ValueError(f"DROP_COLUMN needs a column name, got {name!r}")
        if name in S.PROTECTED_COLUMNS:
            raise ValueError(
                f"DROP_COLUMN may not remove key/system column {name!r}"
            )
        if name not in drop_cols:
            drop_cols.append(name)
    elif r["op"] == S.OP_DROP_PARTITION:
        part = int(arg.get("part", r["part"]))
        ts = r["ts"].isoformat(sep=" ")
        if part not in drops or ts > drops[part]:
            drops[part] = ts


def compose_patch_actions(
    dml: DataFrame,
    carry_cols: list[str],
    payload_cols: list[str],
) -> DataFrame:
    """Batch-compose full-row anchors (INSERT/UPSERT/DELETE) with
    partial-row PATCH events into ONE action per key (schemas.OP_PATCH
    semantics: per-column last-writer-wins).

    Shape: anchors go through the standard skew-proof ``dedup_last_writer``;
    patches fold per key with per-column ``max_by`` over the packed
    (ts, rank, lsn) decimal — both whole-stage-codegen HashAggregates —
    then ONE full-outer join on the key (each side unique per key, so the
    join cannot skew) stitches them:

    - column c = the max-ord setter of c among {anchor (sets all columns),
      patches (set their non-null columns)};
    - a DELETE anchor voids every patch in the batch (in the ord-order
      fold those patches land on an absent row);
    - the row's ts/lsn/part advance to the newest applied piece.

    Output = dedup_last_writer's columns plus merge bookkeeping:
    ``_aord`` (anchor ord; null for patch-only keys), ``_o_<c>`` per carry
    column (ord of that column's setter; null = this action does not set
    c), and ``_mord`` (ord of the piece whose ts/lsn the row carries).
    ``extra`` is anchor-only: a patch's dynamic bag was already promoted
    into typed columns upstream (bag_decode), and patching never-promoted
    bag keys is out of scope (schemas.OP_PATCH docstring).
    """
    anchors = dml.filter(F.col("op") != S.OP_PATCH)
    patches = dml.filter(F.col("op") == S.OP_PATCH)
    w = dedup_last_writer(anchors, carry_cols).withColumn(
        "_aord", _ord_col(F.col("op"))
    )
    p = patches.withColumn("_pord", _ord_col(F.col("op")))
    aggs = []
    for c in payload_cols:
        set_ord = F.when(F.col(c).isNotNull(), F.col("_pord"))
        aggs.append(F.max(set_ord).alias(f"_po_{c}"))
        aggs.append(F.max_by(F.col(c), set_ord).alias(f"_pv_{c}"))
    aggs.append(F.max("_pord").alias("_pmax"))
    aggs.append(
        F.max_by(F.struct("ts", "lsn", "part"), F.col("_pord")).alias("_plast")
    )
    pa = p.groupBy("conv_id", "turn_idx").agg(*aggs)
    j = w.join(pa.hint("shuffle_hash"), on=["conv_id", "turn_idx"], how="full_outer")

    anchor_here = F.col("_aord").isNotNull()
    is_del = anchor_here & (F.col("op") == S.OP_DELETE)
    # newest patch beats the in-batch anchor → the row's ts/lsn advance
    patch_newer = (
        (~is_del)
        & F.col("_pmax").isNotNull()
        & (~anchor_here | (F.col("_pmax") > F.col("_aord")))
    )
    out = [F.col("conv_id"), F.col("turn_idx")]
    out.append(
        F.when(anchor_here, F.col("op")).otherwise(F.lit(S.OP_PATCH)).alias("op")
    )
    for rc in ("ts", "lsn", "part"):
        out.append(
            F.when(patch_newer, F.col("_plast").getField(rc))
            .otherwise(F.col(rc))
            .alias(rc)
        )
    ords = []
    for c in carry_cols:
        if c in payload_cols:
            p_applies = (
                (~is_del)
                & F.col(f"_po_{c}").isNotNull()
                & (~anchor_here | (F.col(f"_po_{c}") > F.col("_aord")))
            )
            out.append(
                F.when(p_applies, F.col(f"_pv_{c}")).otherwise(F.col(c)).alias(c)
            )
            ords.append(
                F.when(p_applies, F.col(f"_po_{c}"))
                .otherwise(F.when(anchor_here, F.col("_aord")))
                .alias(f"_o_{c}")
            )
        else:  # extra (and any future anchor-only carry)
            out.append(F.col(c))
            ords.append(F.when(anchor_here, F.col("_aord")).alias(f"_o_{c}"))
    out.extend(ords)
    out.append(F.col("_aord"))
    out.append(
        F.when(patch_newer, F.col("_pmax")).otherwise(F.col("_aord")).alias("_mord")
    )
    return j.select(*out)


def merge_patched_actions(
    target: DataFrame,
    actions: DataFrame,
    carry_cols: list[str],
    n_buckets: int,
    write_factor: int,
    n_parts: int | None = None,
) -> DataFrame:
    """``merge_actions`` extended to per-column ordinals — the MERGE for
    batches that contain PATCH events (compose_patch_actions output).

    Same one-shuffle-per-side plan as merge_actions (co-partitioned
    (_bucket, _wsalt) SHUFFLE_HASH full-outer, output pre-partitioned for
    the bucketed write). Decision rules on top:

    - row existence is decided by ANCHOR ordinals only (``_aord`` vs the
      stored row's packed ord) — patches never create, delete, or
      resurrect rows; a patch-only action against a missing or dead key
      is void and emits nothing new;
    - each column applies independently: an action column lands iff its
      setter's ord beats the stored row's ord (covers "anchor lost to the
      store but a newer patch still lands its columns");
    - ``_applied`` marks rows this epoch actually changed — the
      merge-on-read path appends ONLY those as delta rows (an unchanged
      row re-appended at the same ord would double the resolution winner).

    Emits one row per live key of the touched buckets plus tombstones —
    identical contract to merge_actions, plus the ``_applied`` flag.
    """
    from milvus_cdc_spark.plans.manifest import stored_ord_col

    bucket_of = F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    wsalt = F.pmod(F.xxhash64("conv_id", F.lit(7)), F.lit(write_factor)).cast("int")
    n_parts = n_parts or n_buckets * write_factor
    t = target.select(
        bucket_of.alias("_bucket"), wsalt.alias("_wsalt"),
        F.col("conv_id"), F.col("turn_idx"),
        F.coalesce(F.col("alive"), F.lit(True)).alias("t_alive"),
        stored_ord_col().alias("t_ord"),
        *[F.col(c).alias(f"t_{c}") for c in ["ts", "lsn", "part"] + carry_cols],
    ).repartition(n_parts, "_bucket", "_wsalt")
    a = actions.select(
        bucket_of.alias("_bucket"), wsalt.alias("_wsalt"),
        F.col("conv_id"), F.col("turn_idx"),
        F.col("_aord").alias("a_aord"), F.col("_mord").alias("a_mord"),
        *[F.col(f"_o_{c}").alias(f"ao_{c}") for c in carry_cols],
        *[F.col(c).alias(f"a_{c}") for c in ["op", "ts", "lsn", "part"] + carry_cols],
    ).repartition(n_parts, "_bucket", "_wsalt")
    j = t.join(
        a.hint("shuffle_hash"),
        on=["_bucket", "_wsalt", "conv_id", "turn_idx"],
        how="full_outer",
    )
    t_here = F.col("t_lsn").isNotNull()
    a_wins_row = F.col("a_aord").isNotNull() & (
        ~t_here | (F.col("a_aord") > F.col("t_ord"))
    )
    t_live = t_here & F.col("t_alive")
    alive = F.when(a_wins_row, F.col("a_op") != S.OP_DELETE).otherwise(
        F.coalesce(F.col("t_alive"), F.lit(True))
    )
    col_exprs = []
    applied_any = a_wins_row
    for c in carry_cols:
        p_lands = (
            ~a_wins_row
            & t_live
            & F.col(f"ao_{c}").isNotNull()
            & (F.col(f"ao_{c}") > F.col("t_ord"))
        )
        applied_any = applied_any | p_lands
        col_exprs.append(
            F.when(a_wins_row | p_lands, F.col(f"a_{c}"))
            .otherwise(F.col(f"t_{c}"))
            .alias(c)
        )
    patch_rowmeta = (
        ~a_wins_row & t_live & F.col("a_mord").isNotNull()
        & (F.col("a_mord") > F.col("t_ord"))
    )
    for rc in ("ts", "part", "lsn"):
        col_exprs.append(
            F.when(a_wins_row | patch_rowmeta, F.col(f"a_{rc}"))
            .otherwise(F.col(f"t_{rc}"))
            .alias(rc)
        )
    return (
        j.filter(t_here | a_wins_row)  # void patch on a missing key emits nothing
        .select(
            "conv_id",
            "turn_idx",
            *col_exprs,
            alive.alias("alive"),
            applied_any.alias("_applied"),
            "_bucket",
        )
    )


def _strip_promoted(df: DataFrame, promoted: list[str]) -> DataFrame:
    """Remove dynamic-bag keys whose values now live in typed columns.

    Null maps pass through untouched (map_filter(NULL) = NULL). A map
    that empties stays an empty map rather than NULL: map_filter is a
    CodegenFallback expression, and wrapping it in ``when(size(...)>0)``
    would evaluate the filter twice per row on the interpreted path."""
    if not promoted:
        return df
    return df.withColumn(
        "extra", F.map_filter(F.col("extra"), lambda k, _v: ~k.isin(*promoted))
    )


def _new_drop_filter(drops: dict[int, str], truncate_ts: str | None = None):
    """Predicate keeping rows NOT strictly below a new drop/truncate
    watermark. Shares the dead-row definition with the read path
    (manifest.py)."""
    from milvus_cdc_spark.plans.manifest import dead_by_watermark

    return ~dead_by_watermark(drops, truncate_ts)


def merge_actions(
    target: DataFrame,
    actions: DataFrame,
    carry_cols: list[str],
    n_buckets: int,
    write_factor: int,
    n_parts: int | None = None,
) -> DataFrame:
    """Full-outer MERGE of surviving actions into the stored bucket scan —
    planned as ONE shuffle of each side and ZERO shuffles of the merged
    output.

    Both sides are pre-partitioned on ``(_bucket, _wsalt)`` — bucket =
    ``pmod(xxhash64(conv_id), n_buckets)`` (the table layout key) and a
    conv-derived write salt — and those two columns are ADDED TO THE JOIN
    KEYS. They are pure functions of ``conv_id`` (already a key), so the
    extra keys change nothing semantically, but they make the children's
    partitioning a subset of the join keys: with
    ``spark.sql.requireAllClusterKeysForCoPartition=false`` (session.py)
    the shuffled-hash join reuses it, and the join OUTPUT is already
    hash-partitioned exactly the way the bucket-partitioned write wants.
    The previous shape (join on (conv_id, turn_idx), then
    ``repartition(bucket, _wsalt)`` before the write) moved every merged
    row through a third full-width Exchange — the dominant epoch cost.

    Skew: post-dedup rows are ≤ turns_per_conv per conversation (one
    winner per key), so grouping a conversation's rows into one partition
    is bounded — unlike the EVENT-level dedup join, which must stay keyed
    on (key, ord) (see dedup_last_writer).

    Returns columns: conv_id, turn_idx, *carry_cols, ts, part, lsn,
    alive, _bucket — partitioned by (_bucket, _wsalt) hash, ready to
    ``write.partitionBy("bucket")`` with no further repartition.
    """
    bucket_of = F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    wsalt = F.pmod(F.xxhash64("conv_id", F.lit(7)), F.lit(write_factor)).cast("int")
    # n_parts defaults to the distinct-combo count; a bucket-pruned caller
    # passes len(touched)*write_factor so small batches don't pay empty tasks
    n_parts = n_parts or n_buckets * write_factor
    t = target.select(
        bucket_of.alias("_bucket"), wsalt.alias("_wsalt"),
        F.col("conv_id"), F.col("turn_idx"),
        F.coalesce(F.col("alive"), F.lit(True)).alias("t_alive"),
        *[F.col(c).alias(f"t_{c}") for c in ["ts", "lsn", "part"] + carry_cols],
    ).repartition(n_parts, "_bucket", "_wsalt")
    a = actions.select(
        bucket_of.alias("_bucket"), wsalt.alias("_wsalt"),
        F.col("conv_id"), F.col("turn_idx"),
        *[F.col(c).alias(f"a_{c}") for c in ["op", "ts", "lsn", "part"] + carry_cols],
    ).repartition(n_parts, "_bucket", "_wsalt")
    # SHUFFLE_HASH: both sides are unique per key, so the join cannot
    # skew, and hashing avoids SMJ's full sort of wide payload rows
    j = t.join(
        a.hint("shuffle_hash"),
        on=["_bucket", "_wsalt", "conv_id", "turn_idx"],
        how="full_outer",
    )
    a_here = F.col("a_lsn").isNotNull()
    t_here = F.col("t_lsn").isNotNull()
    # stored tombstones compare with DELETE rank, live rows with UPSERT rank
    t_rank = (
        F.when(F.col("t_alive"), F.lit(S.RANK_UPSERT))
        .otherwise(F.lit(S.RANK_DELETE))
        .cast("int")
    )
    a_wins = a_here & (
        ~t_here
        | (
            F.struct(F.col("a_ts"), _rank_col(F.col("a_op")), F.col("a_lsn"))
            > F.struct(F.col("t_ts"), t_rank, F.col("t_lsn"))
        )
    )
    # DELETE winners persist as tombstones (alive=false) so later batches
    # carrying OLDER (ts, lsn) inserts still lose — apply is commutative
    # across any batching of the log
    alive = F.when(a_wins, F.col("a_op") != S.OP_DELETE).otherwise(
        F.coalesce(F.col("t_alive"), F.lit(True))
    )
    return j.select(
        "conv_id",
        "turn_idx",
        *[
            F.when(a_wins, F.col(f"a_{c}")).otherwise(F.col(f"t_{c}")).alias(c)
            for c in carry_cols + ["ts", "part", "lsn"]
        ],
        alive.alias("alive"),
        "_bucket",
    )


def _write_buckets(
    table: SnapshotTable, out: DataFrame, cols: list[str], epoch: int,
    touched: list[int],
) -> tuple[int, Any, dict[int, list[str]]]:
    """The one epoch write: an already write-partitioned frame with a
    ``bucket`` column → ``data/e<epoch>/bucket=<b>/`` parquet files.

    Table stats ride the write job itself (an Observation collects its
    metrics during the action — no second pass over the data). Returns
    (live rows written, max ts written, {touched bucket: [relative
    files]}); the caller decides whether those lists replace a bucket's
    chain (CoW) or append to it (MOR)."""
    out_rel = os.path.join("data", f"e{epoch}")
    # unique per (table, epoch, attempt): MultiCdcTask applies several
    # tables' epochs CONCURRENTLY, and observation names must not collide
    # across simultaneously-active jobs on one session
    obs = Observation(f"apply_e{epoch}_{uuid.uuid4().hex[:8]}")
    (
        out.select(*cols, "bucket")
        .observe(
            obs,
            F.sum(F.col("alive").cast("long")).alias("k"),
            F.max("ts").alias("mt"),
        )
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(table.root, out_rel))
    )
    stats = obs.get
    return stats["k"] or 0, stats["mt"], table.bucket_files(out_rel, touched)


def apply_batch(
    spark: SparkSession,
    table: SnapshotTable,
    batch_df: DataFrame,
    epoch: int,
    *,
    on_malformed: str = "fail",
    constraints: list[str] | None = None,
    on_violation: str = "fail",
) -> dict[str, Any]:
    """Apply one micro-batch of changelog rows. Idempotent per epoch.

    ``constraints`` are user-declared row predicates (Spark SQL boolean
    expressions over the payload, e.g. ``"length(text) <= 1000000"``,
    ``"role IN ('user','assistant','system','tool')"``) enforced at
    ingest with SQL CHECK semantics: a DML event violates iff an
    expression evaluates to literal FALSE — UNKNOWN (null) passes, so a
    PATCH that doesn't carry the column, or a DELETE (no payload), is
    never misjudged. ``on_violation`` mirrors ``on_malformed``: "fail"
    raises before anything commits, "dlq" quarantines violating events
    (reason = the first failed expression) and applies the rest. This is
    the ingest-side data-quality gate a training-data pipeline wants —
    garbage stops at the door instead of poisoning every downstream
    incremental consumer.

    ``on_malformed`` decides the fate of poison events — DML rows missing
    their key (null conv_id/turn_idx), rows missing lsn/ts, and DDL rows
    whose ``ddl_arg`` doesn't parse or doesn't fit the op's contract:

    - ``"fail"`` (default): raise before anything commits — the task
      pauses with the reason (the reference's pause-on-error stance,
      server/cdc_impl.go:972-1003). Without this gate a null-key row
      would silently merge under a null key.
    - ``"dlq"``: quarantine them to ``<table>/dlq/epoch-<N>/`` with a
      ``_reason`` column (the Kafka-Connect/Debezium dead-letter-queue
      pattern), count them as ``n_dlq``, and apply the rest — one poison
      message no longer stalls the stream. Idempotent per epoch (the
      crash-replay overwrites the same directory)."""
    t0 = time.time()
    # ONE manifest load per epoch: the epoch gate, the merge, and the
    # commit all work from this snapshot (single-writer protocol)
    m = table.current() if table.exists() else None
    if m is None:
        raise ValueError(f"table {table.root} does not exist")
    if str(epoch) in m.epochs:
        return {"epoch": epoch, "skipped": True}
    timings: dict[str, float] = {}

    def _mark(key: str, t_prev: float) -> float:
        now = time.time()
        timings[key] = round(now - t_prev, 3)
        return now

    # normalize event time (parquet NTZ vs session-TZ timestamps)
    batch_df = batch_df.withColumn("ts", F.col("ts").cast("timestamp"))
    # msg-type whitelist at the batch boundary (reference F1: unknown
    # message types are SKIPPED, core/reader/replicate_channel_manager.go:
    # 1162-1167). Every class-specific filter below already excludes
    # unknown ops implicitly — this makes the lsn-integrity gate agree
    # with them, so a log carrying a vocabulary this engine doesn't know
    # (e.g. a newer producer) degrades to a skip, not a task kill with a
    # bogus negative duplicate count. A NULL op is different: it means the
    # event didn't parse at all (e.g. the Debezium adapter null-fields
    # garbage JSON / unknown op codes) — those stay in the batch so the
    # malformed gate below owns them (fail or dlq), never a silent drop.
    batch_df = batch_df.filter(
        F.col("op").isin(*S.ALL_OPS) | F.col("op").isNull()
    )
    # NOTE: deliberately NOT persisted — the batch is a columnar parquet
    # scan, and each pass below reads a narrow column subset with pushdown
    # (op-only for DDL, 4 cols for lineage, full payload once for dedup).
    # Caching it would materialize every column row-wise into executor
    # memory and trade three cheap vectorized scans for GC pressure.
    tp = _mark("setup", t0)

    # ---- 1+2. ONE scan: per-partition lineage counters, the (rare) DDL
    # rows, and the set of touched buckets — combined so each micro-batch
    # pays a single read+shuffle for all driver-side bookkeeping (the
    # reference does this bookkeeping inline in its per-pack loop,
    # server/cdc_impl.go:844-873; three separate Spark jobs here would
    # triple the per-epoch fixed cost, which is what bounds small-batch
    # throughput)
    nb = m.n_buckets
    bucket_of = F.pmod(F.xxhash64("conv_id"), F.lit(nb)).cast("int")
    # structurally malformed events, detected inside the SAME bookkeeping
    # scan (zero extra cost on the clean path): every event needs (lsn, ts)
    # — the ordering identity — and a DML event needs its key. Excluded
    # from every class counter and the touched-bucket set so a quarantined
    # row can't steer the merge (xxhash64(null conv_id) is NOT null — it
    # would touch a spurious bucket).
    is_dml = F.col("op").isin(*S.DML_OPS)
    malformed = (
        F.col("op").isNull()
        | F.col("lsn").isNull()
        | F.col("ts").isNull()
        | (is_dml & (F.col("conv_id").isNull() | F.col("turn_idx").isNull()))
    )
    ok = ~malformed
    # user constraints, SQL CHECK semantics: FALSE violates, null passes
    # (DML only — DDL carries no payload). Counted inside the same
    # bookkeeping scan, zero extra jobs on the clean path.
    checks = [(c, F.expr(f"({c}) IS FALSE")) for c in (constraints or [])]
    violated = F.lit(False)
    for _c, e in checks:
        violated = violated | e
    violated = is_dml & violated if checks else F.lit(False)
    clean = ok & ~violated
    per_part = (
        batch_df.groupBy("part")
        .agg(
            F.min("lsn").alias("start_lsn"),
            F.max("lsn").alias("end_lsn"),
            F.sum(F.when(clean & F.col("op").isin(S.OP_INSERT, S.OP_UPSERT), 1).otherwise(0)).alias("n_insert"),
            F.sum(F.when(clean & (F.col("op") == S.OP_PATCH), 1).otherwise(0)).alias("n_patch"),
            F.sum(F.when(clean & (F.col("op") == S.OP_DELETE), 1).otherwise(0)).alias("n_delete"),
            F.sum(F.when(clean & F.col("op").isin(*S.DDL_OPS), 1).otherwise(0)).alias("n_ddl"),
            F.sum(F.when(malformed, 1).otherwise(0)).alias("n_malformed"),
            F.sum(F.when(ok & violated, 1).otherwise(0)).alias("n_violation"),
            F.collect_set(
                F.when(clean & is_dml, bucket_of)
            ).alias("buckets"),
            F.collect_list(
                F.when(
                    clean & F.col("op").isin(*S.DDL_OPS),
                    F.struct("lsn", "op", "ts", "part", "ddl_arg"),
                )
            ).alias("ddl"),
        )
        .collect()
    )
    ddl_rows = [d for r in per_part for d in r["ddl"]]
    adds, renames, new_widens, drop_cols, new_drops, new_truncate, bad_ddl = (
        _parse_ddl(ddl_rows)
    )
    # DROP_COLUMN retirement: a name dropped here or in any earlier epoch
    # never rejoins the schema — filter this batch's adds up front so the
    # epoch neither promotes payload into a doomed column nor writes it
    retired = set(m.dropped) | set(drop_cols)
    if retired:
        adds = [(c, t) for c, t in adds if c not in retired]
    touched = sorted({b for r in per_part for b in r["buckets"]})
    n_insert = sum(r["n_insert"] for r in per_part)
    n_patch = sum(r["n_patch"] for r in per_part)
    n_delete = sum(r["n_delete"] for r in per_part)
    n_ddl = sum(r["n_ddl"] for r in per_part) - len(bad_ddl)
    n_malformed = sum(r["n_malformed"] for r in per_part)
    n_violation = sum(r["n_violation"] for r in per_part)
    n_dlq = n_malformed + len(bad_ddl)
    dlq_dir = os.path.join(table.root, "dlq", f"epoch-{epoch}")
    if on_malformed == "dlq" or on_violation == "dlq":
        # crash-replay idempotence for the WHOLE epoch quarantine: clear
        # the epoch dir ONCE up front, then every writer (malformed spark
        # write, bad-DDL pyarrow file, violation spark write) appends —
        # any mode('overwrite') here would wipe a sibling quarantine
        # class written earlier in the same run. Cleared whenever the
        # epoch (re)applies in a dlq mode — not only when THIS run
        # quarantines — so a crashed quarantining run followed by a clean
        # re-run (constraints relaxed / data fixed) cannot leave stale
        # epoch-N contents inflating dlq_summary
        shutil.rmtree(dlq_dir, ignore_errors=True)
    if n_dlq:
        if on_malformed != "dlq":
            sample = "; ".join(reason for _r, reason in bad_ddl[:3])
            raise ValueError(
                f"epoch {epoch}: {n_dlq} malformed event(s) in batch "
                f"({n_malformed} missing op/lsn/ts/key, {len(bad_ddl)} bad DDL"
                f"{': ' + sample if sample else ''}) — pass "
                "on_malformed='dlq' to quarantine them and continue"
            )
        reason_col = (
            F.when(F.col("op").isNull(), "null op (unparseable event)")
            .when(F.col("lsn").isNull(), "null lsn")
            .when(F.col("ts").isNull(), "null ts")
            .otherwise("null key (conv_id/turn_idx)")
        )
        if n_malformed:
            (
                batch_df.filter(malformed)
                .withColumn("_reason", reason_col)
                .write.mode("append")
                .parquet(dlq_dir)
            )
            batch_df = batch_df.filter(ok)
        if bad_ddl:
            # bad DDL rows are already on the driver (the bookkeeping scan
            # collected them) — a pyarrow write, no Spark job
            import pyarrow as pa
            import pyarrow.parquet as pq

            os.makedirs(dlq_dir, exist_ok=True)
            pq.write_table(
                pa.table(
                    {
                        "lsn": pa.array([r["lsn"] for r, _ in bad_ddl], pa.int64()),
                        "ts": pa.array([r["ts"] for r, _ in bad_ddl], pa.timestamp("us")),
                        "part": pa.array([r["part"] for r, _ in bad_ddl], pa.int32()),
                        "op": pa.array([r["op"] for r, _ in bad_ddl], pa.string()),
                        "ddl_arg": pa.array([r["ddl_arg"] for r, _ in bad_ddl], pa.string()),
                        "_reason": pa.array([why for _, why in bad_ddl], pa.string()),
                    }
                ),
                os.path.join(dlq_dir, "bad-ddl.parquet"),
            )
            bad_lsns = [r["lsn"] for r, _ in bad_ddl]
            batch_df = batch_df.filter(~F.col("lsn").isin(bad_lsns))
    if n_violation:
        if on_violation != "dlq":
            raise ValueError(
                f"epoch {epoch}: {n_violation} event(s) violate declared "
                f"constraints {list(constraints or [])} — pass "
                "on_violation='dlq' to quarantine them and continue"
            )
        vio_reason = F.coalesce(
            *[
                F.when(e, F.lit(f"constraint violated: {c}"))
                for c, e in checks
            ]
        )
        (
            batch_df.filter(violated)  # malformed rows already removed
            .withColumn("_reason", vio_reason)
            .write.mode("append")  # epoch dir pre-cleared above
            .parquet(dlq_dir)
        )
        batch_df = batch_df.filter(~violated)
        n_dlq += n_violation
    # GLOBAL distinct-lsn count as its OWN job: a distinct aggregate mixed
    # into the per-part agg plans with an Expand that duplicates every row
    # through the (wider) bookkeeping scan — measured 3.5-7x slower than
    # this lsn-only scan (parquet prunes to one long column, two
    # HashAggregates, no Expand). Global (not per-part summed) because
    # nothing in CHANGELOG_SCHEMA forces a dedup key to stay in one part.
    # Submitted from a WORKER THREAD so the scan overlaps the dedup+merge
    # job (it gates the COMMIT, not the plan — measured 0.2-1.4s/epoch of
    # pure wall win; a corrupt batch may waste one merge's compute, but
    # its epoch never commits and the e{N} dir is overwritten on retry).
    # Submitted AFTER quarantine so the count sees the same rows the
    # classes counted.
    n_distinct_fut = _GATE_POOL.submit(
        lambda df=batch_df: df.agg(F.count_distinct("lsn")).collect()[0][0]
    )
    n_events = n_insert + n_patch + n_delete + n_ddl
    tp = _mark("lineage_ddl_buckets", tp)

    physical_cols = [c for c, _ in m.columns]
    col_types = {c: t for c, t in m.columns} | {c: t for c, t in adds}
    # WIDEN_COLUMNs whose column exists (in the table, an earlier manifest
    # pending, or this batch's adds) and are genuine promotions: both merge
    # sides cast to the widened type below so the epoch's files come out
    # wide; everything else (widen-before-add across batches) rides to the
    # commit as a pending widen (manifest.pending_widens)
    from milvus_cdc_spark.plans.manifest import bag_decode, is_widening

    effective_widens = dict(m.pending_widens) | dict(new_widens)
    widen_applied = {
        c: t
        for c, t in effective_widens.items()
        if c in col_types and is_widening(col_types[c], t)
    }
    col_types.update(widen_applied)
    evolved_payload = [
        c for c in physical_cols if c not in ("conv_id", "turn_idx", "ts", "part", "lsn")
        and c not in _BASE_PAYLOAD
    ] + [c for c, _ in adds if c not in physical_cols]
    # a base payload column dropped in an EARLIER epoch is gone from the
    # manifest — the merge target has no such physical column, so this
    # epoch must neither read nor carry it (the event's value is discarded,
    # matching the sequential oracle: dropped columns never resurface)
    payload_cols = [
        c for c in _BASE_PAYLOAD if c in physical_cols
    ] + evolved_payload

    # ---- 3. dedup to surviving actions (computed lazily; materialized
    # inside the single merge+write job below)
    dml = batch_df.filter(F.col("op").isin(*S.DML_OPS))
    for c in evolved_payload:
        # decode to the DECLARED type: the manifest schema reads these
        # files back with that type, so writing the raw string from the
        # dynamic bag would wedge every subsequent scan of a typed added
        # column (vector types JSON-parse — manifest.bag_decode)
        dml = dml.withColumn(
            c, bag_decode(F.col("extra").getItem(c), col_types.get(c, "string"))
        )
    for c, t in widen_applied.items():
        # widened BASE columns (e.g. turn_idx int→bigint) arrive from the
        # changelog at the narrow type; evolved ones were already cast wide
        if c in dml.columns:
            dml = dml.withColumn(c, F.col(c).cast(t))
    # the raw dynamic-field bag rides along so an ADD_COLUMN seen in a LATER
    # batch can still recover values at read time (order-insensitive DDL) —
    # but keys already PROMOTED to typed columns are stripped (their value
    # now lives in the column), so in the steady state (every dynamic field
    # promoted) rows shuffle through dedup+merge with an empty/null map
    # instead of dragging a per-row map payload
    dml = _strip_promoted(dml, evolved_payload)
    carry_cols = payload_cols + ["extra"]

    # drop/truncate watermarks (historical + this batch) kill strictly-older
    # events/actions
    combined_drops = {int(p): ts for p, ts in m.drop_watermarks.items()}
    for p, ts in new_drops.items():
        if p not in combined_drops or ts > combined_drops[p]:
            combined_drops[p] = ts
    combined_truncate = m.truncate_watermark
    if new_truncate and (combined_truncate is None or new_truncate > combined_truncate):
        combined_truncate = new_truncate

    has_patches = n_patch > 0
    if has_patches:
        # watermarks must kill EVENTS before patch composition: an anchor
        # below a drop watermark is dead, and a newer patch must not carry
        # its row past the drop by advancing the composed ts. (For the
        # anchor-only path below this pre/post distinction is vacuous: the
        # dedup winner has the key's max ts, so winner-below-watermark ⇒
        # every loser below it too — filtering actions is the cheaper
        # equivalent there.)
        if combined_drops or combined_truncate:
            dml = dml.filter(_new_drop_filter(combined_drops, combined_truncate))
        actions = compose_patch_actions(dml, carry_cols, payload_cols)
    else:
        actions = dedup_last_writer(dml, carry_cols)
        if combined_drops or combined_truncate:
            actions = actions.filter(_new_drop_filter(combined_drops, combined_truncate))

    tp = _mark("dedup_plan", tp)

    replaced: dict[int, list[str]] = {}
    appended: dict[int, list[str]] = {}
    n_keys = 0
    max_ts = None
    if touched:
        ordered_cols = physical_cols + [
            c for c, _ in adds if c not in physical_cols
        ] + ["alive", "extra"]
        # write parallelism must not be capped by bucket count: the write
        # shuffle key carries a conv-derived salt so every core gets a
        # writer task (each task still emits whole-bucket files via
        # partitionBy; files per bucket ≈ write_factor, bounded so the
        # table never fragments)
        cores = spark.sparkContext.defaultParallelism
        write_factor = max(1, min(8, (2 * cores) // len(touched)))
        n_parts = len(touched) * write_factor
        if m.write_mode == "mor" and not has_patches:
            # ---- merge-on-read epoch: APPEND the deduped actions as delta
            # files — no target read, no merge join, write cost O(batch)
            # regardless of table size (the CoW path's write amplification is
            # O(live rows in touched buckets) per epoch, which at uniform key
            # spread means rewriting the whole accumulated table every epoch;
            # measured: 200M-event CoW drain decays to 489k ev/s while MOR
            # holds flat — BASELINE.md). Reads resolve last-writer per key
            # (manifest.resolve_last_writer_stored) until compaction folds the
            # deltas; DELETE actions append as alive=false tombstones so they
            # defeat older stored rows at resolution exactly like the CoW
            # merge comparison. Iceberg v2 MOR analogue (delete files +
            # rewrite_data_files); the reference's writer likewise appends to
            # the target log and lets Milvus resolve (channel_writer.go).
            out = (
                actions.withColumn("alive", F.col("op") != F.lit(S.OP_DELETE))
                .withColumn("bucket", bucket_of)
                .withColumn(
                    "_salt",
                    F.pmod(F.xxhash64("conv_id", F.lit(7)), F.lit(write_factor)),
                )
                .repartition(n_parts, "bucket", "_salt")
            )
        else:
            target = table.read(spark, manifest=m, buckets=touched, logical=False)
            if new_drops or new_truncate:
                # historical watermarks were already applied inside read();
                # only THIS batch's new drops/truncate need filtering here
                target = target.filter(_new_drop_filter(new_drops, new_truncate))
            # stored rows may predate an ADD_COLUMN in this batch
            for c, typ in adds:
                if c not in physical_cols:
                    target = target.withColumn(c, F.lit(None).cast(typ))
            # stored rows were written at the pre-WIDEN type — cast so the
            # union with the (already wide) action side is exact and the
            # rewritten buckets come out at the promoted type
            for c, t in widen_applied.items():
                if c in target.columns:
                    target = target.withColumn(c, F.col(c).cast(t))
            # promote stored dynamic-bag values into their typed columns and
            # strip the promoted keys (mirrors the action side): rewritten
            # buckets come out upgraded, and the logical read's coalesce
            # becomes a no-op for them
            for c in evolved_payload:
                target = target.withColumn(
                    c,
                    F.coalesce(
                        F.col(c),
                        bag_decode(F.col("extra").getItem(c), col_types.get(c, "string")),
                    ),
                )
            target = _strip_promoted(target, evolved_payload)
            if has_patches:
                # PATCH batches take the per-column-ordinal merge. On a MOR
                # table this is the one epoch shape that READS (patches are
                # read-modify-write by definition) — still bucket-pruned, and
                # the WRITE stays O(changed rows): only rows the epoch
                # actually changed (`_applied`) append as delta; rewriting
                # nothing. A patch-free MOR epoch never reaches here.
                merged = merge_patched_actions(
                    target, actions, carry_cols, nb, write_factor, n_parts=n_parts
                )
                if m.write_mode == "mor":
                    merged = merged.filter(F.col("_applied"))
                merged = merged.drop("_applied")
            else:
                merged = merge_actions(
                    target, actions, carry_cols, nb, write_factor, n_parts=n_parts
                )
            # the merge output is already partitioned for the write
            out = merged.withColumnRenamed("_bucket", "bucket")
        n_keys, max_ts, written = _write_buckets(
            table, out, ordered_cols, epoch, touched
        )
        tp = _mark("merge_write", tp)
        # MOR (delta or patched): the new files APPEND to each bucket's
        # CURRENT chain — a delta, so the commit composes with a concurrent
        # background fold instead of resurrecting folded-away files. CoW:
        # the rewritten buckets replace theirs.
        if m.write_mode == "mor":
            appended = written
        else:
            replaced = written

    # changelog-offset integrity gate (await the concurrent scan): duplicate
    # lsns break the dedup contract (dedup_last_writer relies on GLOBALLY
    # unique lsn — the guarantee every WAL/binlog consumer has) — stop the
    # task with a reason BEFORE anything commits rather than corrupt the
    # table (reference pause-on-error, server/cdc_impl.go:972-1003).
    n_distinct = n_distinct_fut.result()
    if n_distinct != n_events:
        raise ValueError(
            f"epoch {epoch}: {n_events - n_distinct} duplicate lsn(s) in "
            "batch — changelog offsets must be unique"
        )
    tp = _mark("lsn_gate_wait", tp)

    snap_id = table._snapshot_id(epoch)

    # ---- 4. lineage + metrics: driver-side pyarrow writes (the rows are
    # already on the driver — no Spark job). Per-epoch file names make a
    # crash-replay overwrite the identical file: idempotent by construction.
    import pyarrow as pa
    import pyarrow.parquet as pq

    lin_dir = os.path.join(table.root, "lineage")
    os.makedirs(lin_dir, exist_ok=True)
    if per_part:
        pq.write_table(
            pa.table(
                {
                    "epoch": pa.array([epoch] * len(per_part), pa.int64()),
                    "part": pa.array([r["part"] for r in per_part], pa.int32()),
                    "start_lsn": pa.array([r["start_lsn"] for r in per_part], pa.int64()),
                    "end_lsn": pa.array([r["end_lsn"] for r in per_part], pa.int64()),
                    "n_insert": pa.array([r["n_insert"] for r in per_part], pa.int64()),
                    "n_delete": pa.array([r["n_delete"] for r in per_part], pa.int64()),
                    "n_ddl": pa.array([r["n_ddl"] for r in per_part], pa.int64()),
                    "snapshot_id": pa.array([snap_id] * len(per_part), pa.string()),
                }
            ),
            os.path.join(lin_dir, f"epoch-{epoch}.parquet"),
        )
    met_dir = os.path.join(table.root, "metrics")
    os.makedirs(met_dir, exist_ok=True)
    now = time.time()
    # end-to-end lag gauge (reference replicate_tt lag,
    # server/metrics/metrics.go:107-137): wall clock at commit minus the
    # newest event ts merged this epoch. max_ts is a naive UTC datetime
    # (session TZ is pinned UTC in session.py).
    lag_sec = None
    if max_ts is not None:
        from datetime import timezone

        lag_sec = now - max_ts.replace(tzinfo=timezone.utc).timestamp()
    pq.write_table(
        pa.table(
            {
                "epoch": pa.array([epoch], pa.int64()),
                "n_events": pa.array([n_events], pa.int64()),
                "n_insert": pa.array([n_insert], pa.int64()),
                "n_delete": pa.array([n_delete], pa.int64()),
                "n_ddl": pa.array([n_ddl], pa.int64()),
                "n_dlq": pa.array([n_dlq], pa.int64()),
                "n_keys": pa.array([n_keys], pa.int64()),
                "max_ts": pa.array([max_ts], pa.timestamp("us")),
                "apply_sec": pa.array([now - t0], pa.float64()),
                "lag_sec": pa.array([lag_sec], pa.float64()),
                "snapshot_id": pa.array([snap_id], pa.string()),
            }
        ),
        os.path.join(met_dir, f"epoch-{epoch}.parquet"),
    )

    # ---- 5. atomic snapshot commit (exactly-once gate)
    table.commit(
        epoch,
        replaced_buckets=replaced,
        append_buckets=appended,
        add_columns=adds,
        renames=renames,
        widen_columns=new_widens,
        drop_columns=drop_cols,
        drop_watermarks=new_drops,
        truncate_watermark=new_truncate,
        summary_delta=(
            {"events_applied": n_events, "events_quarantined": n_dlq}
            if n_dlq
            else {"events_applied": n_events}
        ),
        base=m,
    )
    # one structured record per committed epoch (fields also set on the
    # record as attributes, for handlers that ship them as-is)
    fields = {
        "epoch": epoch, "n_events": n_events, "timings": timings,
        "lag_sec": lag_sec,
    }
    _LOG.info("epoch committed %s", json.dumps(fields), extra=fields)
    return {
        "epoch": epoch,
        "skipped": False,
        "n_events": n_events,
        "n_insert": n_insert,
        "n_delete": n_delete,
        "n_ddl": n_ddl,
        "n_dlq": n_dlq,
        "n_violation": n_violation,
        "n_keys_live_in_touched": n_keys,
        "touched_buckets": sorted(touched),
        "snapshot_id": snap_id,
        "apply_sec": time.time() - t0,
        "timings": timings,
    }


def read_lineage(spark: SparkSession, table: SnapshotTable) -> DataFrame:
    """Lineage history, deduped (crash-replays append identical rows)."""
    path = os.path.join(table.root, "lineage")
    if not os.path.exists(path):
        return spark.createDataFrame([], S.LINEAGE_SCHEMA)
    return spark.read.schema(S.LINEAGE_SCHEMA).parquet(path).distinct()


def read_metrics(spark: SparkSession, table: SnapshotTable) -> DataFrame:
    path = os.path.join(table.root, "metrics")
    if not os.path.exists(path):
        return spark.createDataFrame([], S.METRICS_SCHEMA)
    return spark.read.schema(S.METRICS_SCHEMA).parquet(path).dropDuplicates(["epoch"])


def bootstrap_table(
    spark: SparkSession,
    table: SnapshotTable,
    snapshot_df: DataFrame,
    *,
    epoch: int = -1,
    n_buckets: int = 16,
    write_mode: str = "cow",
) -> dict[str, Any]:
    """Initial full load (snapshot phase) of an existing dataset; the
    changelog tail then takes over seamlessly.

    The classic CDC bootstrap (the reference replicates forward from a
    position and expects pre-existing source data to be copied out of
    band — server/cdc_impl.go:371-497 validates but never backfills; this
    closes that gap). Each snapshot row becomes an INSERT event at its own
    ``(ts, lsn)``, so the ordinary last-writer merge arbitrates
    snapshot-vs-tail overlap with no special cases: a tail event newer
    than the snapshot row wins, a stale duplicate loses, and a tail
    DELETE tombstones the bootstrapped row.

    Scale shape: ONE apply_batch over the whole snapshot — the same
    dedup HashAggregate + bucket merge the tail uses, fully distributed,
    nothing driver-side. Runs at reserved epoch −1 (streaming epochs
    count up from 0), so a crashed bootstrap replays idempotently and
    can never collide with a tail epoch.

    Missing columns are defaulted JVM-side:
    - ``ts`` → epoch 0 (always loses to real tail events),
    - ``part`` → hash shard of conv_id (supply a real ``part`` if
      DROP_PARTITION watermarks must line up with the source numbering),
    - ``lsn`` → ``monotonically_increasing_id() − 2^62``: unique and far
      below any real log offset, so the duplicate-lsn gate and the
      decimal ord packing (|lsn| ≪ the 10^21 rank-digit spacing) stay
      sound.
    Snapshot columns beyond the base schema ride the dynamic-field bag,
    exactly like post-ADD_COLUMN tail payloads.
    """
    cols = set(snapshot_df.columns)
    if not {"conv_id", "turn_idx"} <= cols:
        raise ValueError("bootstrap snapshot needs conv_id and turn_idx columns")
    if not table.exists():
        table.create(
            S.TRANSCRIPTS_BASE_COLUMNS, n_buckets=n_buckets,
            write_mode=write_mode,
        )
    d = snapshot_df
    if "ts" not in cols:
        d = d.withColumn("ts", F.timestamp_seconds(F.lit(0)))
    if "part" not in cols:
        d = d.withColumn(
            "part", F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int")
        )
    if "lsn" not in cols:
        d = d.withColumn(
            "lsn", F.monotonically_increasing_id() - F.lit(2**62)
        )
    base = {"conv_id", "turn_idx", "ts", "part", "lsn", "role", "text", "tool"}
    extra_cols = sorted(c for c in cols if c not in base)
    dtypes = dict(d.dtypes)

    def _bag_encode(c: str):
        # vector/array payloads ride the bag as JSON array text — the
        # format manifest.bag_decode parses back; scalars cast to string
        if dtypes.get(c, "").startswith(("array", "map", "struct")):
            return F.to_json(F.col(c))
        return F.col(c).cast("string")

    extra = (
        F.create_map(
            *[x for c in extra_cols for x in (F.lit(c), _bag_encode(c))]
        )
        if extra_cols
        else F.lit(None).cast("map<string,string>")
    )
    ev = d.select(
        F.col("lsn").cast("bigint").alias("lsn"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("part").cast("int").alias("part"),
        F.lit(S.OP_INSERT).alias("op"),
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        *[
            (F.col(c) if c in cols else F.lit(None)).cast("string").alias(c)
            for c in ("role", "text", "tool")
        ],
        F.lit(None).cast("string").alias("ddl_arg"),
        extra.alias("extra"),
    )
    return apply_batch(spark, table, ev, epoch)
