"""Deterministic, distributed synthetic changelog generator.

Stand-in for the reference's upstream mutation producers (the dual-Milvus
e2e tests drive inserts/upserts/deletes/drops from checker threads,
/root/reference/tests/base/checker.py:86-131 and
tests/testcases/test_cdc_sync_requests.py:29-657). Here the log is a table.

Everything is derived from ``spark.range(n)`` with ``xxhash64`` — pure
JVM/whole-stage-codegen, no Python in the loop, no driver materialization —
so the SAME code generates 10^4 rows for pytest and 10^10 rows on a
cluster (generation streams straight into the writer / consumer).

Distribution properties (FIXTURES.md §2):
- Zipf-ish skew: ``hot_pct``% of events hit ``n_hot`` hot conversations.
- Upserts rewriting earlier turns (last-write-wins path).
- Equal-ts groups (``ties_group`` events share a timestamp) exercising the
  delete-before-insert tie-break (reference
  core/reader/replicate_channel_manager.go:1170-1173).
- DROP_PARTITION / ADD_COLUMN / RENAME_COLUMN interleaved at deterministic
  positions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from milvus_cdc_spark import schemas as S

BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z


def generate_changelog(
    spark: SparkSession,
    n: int,
    *,
    seed: int = 42,
    n_parts: int = 8,
    n_convs: int = 200,
    turns_per_conv: int = 50,
    n_hot: int = 3,
    hot_pct: int = 20,
    delete_pct: int = 10,
    upsert_pct: int = 30,
    ties_group: int = 4,
    evolve: bool = True,
    drops: bool = True,
    truncates: bool = False,
    widens: bool = False,
    col_drops: bool = False,
    patch_pct: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Return an ``n``-row changelog DataFrame with CHANGELOG_SCHEMA.

    ``patch_pct`` > 0 converts that percentage of eligible events into
    partial-row PATCH events (schemas.OP_PATCH): each targets the key of
    a deterministically EARLIER event (id − 8·ties_group, kept only when
    that event was an INSERT/UPSERT — so every patch follows an anchor
    for its key in the log), always sets ``tool``, sets ``text`` on half,
    and leaves ``role`` null (= untouched). Patch timestamps sit half a
    second PAST their tie group so a patch never shares an equal-ts group
    with an anchor; with ``ties_group=1`` the stream's per-key (ts, rank,
    lsn) order coincides with log order and the sequential oracle matches
    the engine exactly (the boundary rule in schemas.OP_PATCH's docstring
    covers equal-ts groups)."""
    rng = spark.range(0, n, 1, num_partitions or spark.sparkContext.defaultParallelism)
    c = F.col("id")

    def h(salt: int):
        return F.xxhash64(c, F.lit(seed), F.lit(salt))

    def hmod(salt: int, m: int):
        return F.pmod(h(salt), F.lit(m))

    add_lsn = (n * 30) // 100 if evolve and n >= 20 else -1
    rename_lsn = (n * 75) // 100 if evolve and n >= 20 else -1
    drop_lsns = [(n * 55) // 100] if drops and n >= 20 else []
    # TRUNCATE (DropCollection analogue) placed early enough that plenty
    # of DML lands both before (killed) and after (survives)
    truncate_lsn = (n * 40) // 100 if truncates and n >= 20 else -1
    # WIDEN_COLUMN (Iceberg type promotion, int→bigint on turn_idx) after
    # the ADD so plenty of narrow-typed files exist to upcast at read
    widen_lsn = (n * 65) // 100 if widens and n >= 20 else -1
    # DROP_COLUMN (name retirement) late in the log so plenty of events on
    # BOTH sides exist: with evolve it retires the added column (events
    # after it still carry the bag key — discarded), otherwise the base
    # `tool` column (post-drop tool values likewise discarded)
    col_drop_lsn = (n * 85) // 100 if col_drops and n >= 20 else -1
    col_drop_target = "tool_args" if evolve and n >= 20 else "tool"

    is_add = c == F.lit(add_lsn) if add_lsn >= 0 else F.lit(False)
    is_rename = c == F.lit(rename_lsn) if rename_lsn >= 0 else F.lit(False)
    is_drop = c.isin(drop_lsns) if drop_lsns else F.lit(False)
    is_truncate = c == F.lit(truncate_lsn) if truncate_lsn >= 0 else F.lit(False)
    is_widen = c == F.lit(widen_lsn) if widen_lsn >= 0 else F.lit(False)
    is_col_drop = c == F.lit(col_drop_lsn) if col_drop_lsn >= 0 else F.lit(False)
    is_ddl = is_add | is_rename | is_drop | is_truncate | is_widen | is_col_drop

    hv = hmod(1, 100)

    # PATCH events: retarget this id at the key of an event 8 tie-groups
    # earlier, kept only when that event was a full-row anchor — pure
    # column re-derivation at the earlier id (the generator is a hash of
    # (id, seed, salt), so "what did event id−k look like" is just the
    # same expressions evaluated at id−k; zero extra scans or joins).
    is_patch = F.lit(False)
    if patch_pct > 0:
        back = 8 * max(1, ties_group)
        cp = c - F.lit(back)

        def hpmod(salt: int, m: int):
            return F.pmod(F.xxhash64(cp, F.lit(seed), F.lit(salt)), F.lit(m))

        prev_ddl_ids = [
            x
            for x in [add_lsn, rename_lsn, truncate_lsn, widen_lsn,
                      col_drop_lsn] + drop_lsns
            if x >= 0
        ]
        prev_is_ddl = cp.isin(prev_ddl_ids) if prev_ddl_ids else F.lit(False)
        prev_is_anchor = hpmod(1, 100) >= F.lit(delete_pct)
        is_patch = (
            ~is_ddl
            & (cp >= 0)
            & (hmod(9, 100) < patch_pct)
            & ~prev_is_ddl
            & prev_is_anchor
        )

    op = (
        F.when(is_add, F.lit(S.OP_ADD_COLUMN))
        .when(is_rename, F.lit(S.OP_RENAME_COLUMN))
        .when(is_drop, F.lit(S.OP_DROP_PARTITION))
        .when(is_truncate, F.lit(S.OP_TRUNCATE))
        .when(is_widen, F.lit(S.OP_WIDEN_COLUMN))
        .when(is_col_drop, F.lit(S.OP_DROP_COLUMN))
        .when(is_patch, F.lit(S.OP_PATCH))
        .when(hv < delete_pct, F.lit(S.OP_DELETE))
        .when(hv < delete_pct + upsert_pct, F.lit(S.OP_UPSERT))
        .otherwise(F.lit(S.OP_INSERT))
    )

    conv_id = F.when(
        hmod(2, 100) < hot_pct, F.concat(F.lit("hot_"), hmod(3, n_hot))
    ).otherwise(F.concat(F.lit("conv_"), hmod(4, n_convs)))
    if patch_pct > 0:
        conv_prev = F.when(
            hpmod(2, 100) < hot_pct, F.concat(F.lit("hot_"), hpmod(3, n_hot))
        ).otherwise(F.concat(F.lit("conv_"), hpmod(4, n_convs)))
        conv_id = F.when(is_patch, conv_prev).otherwise(conv_id)
    conv_id = F.when(is_ddl, F.lit(None).cast("string")).otherwise(conv_id)

    turn_idx = hmod(5, turns_per_conv).cast("int")
    if patch_pct > 0:
        turn_idx = F.when(
            is_patch, hpmod(5, turns_per_conv).cast("int")
        ).otherwise(turn_idx)
    turn_idx = F.when(is_ddl, F.lit(None).cast("int")).otherwise(turn_idx)

    # part: hash of conv_id for DML (the reference shards by channel hash of
    # the key space); explicit target part for DROP_PARTITION events.
    part = F.when(is_drop, F.pmod(h(6), F.lit(n_parts)).cast("int")).otherwise(
        F.pmod(F.xxhash64(conv_id), F.lit(n_parts)).cast("int")
    )

    group_sec = F.lit(BASE_EPOCH) + (c / F.lit(ties_group)).cast("long")
    ts = F.timestamp_seconds(group_sec)
    if patch_pct > 0:
        # half a second PAST the tie group: a patch never shares an
        # equal-ts group with an anchor (see docstring)
        ts = F.when(
            is_patch,
            F.timestamp_micros(group_sec * F.lit(1_000_000) + F.lit(500_000)),
        ).otherwise(ts)

    role = F.when((op != S.OP_DELETE) & (op != S.OP_PATCH),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")),
            (hmod(7, 4) + 1).cast("int"),
        )
    )
    is_payload = ~is_ddl & (op != S.OP_DELETE) & (op != S.OP_PATCH)
    text = F.when(
        is_payload, F.concat(F.lit("t|"), conv_id, F.lit("|"), turn_idx, F.lit("|v"), c)
    )
    tool = F.when(
        is_payload & (role == "tool"), F.concat(F.lit("tool_"), hmod(8, 7))
    )
    if patch_pct > 0:
        # every patch sets tool; half also rewrite text; role stays null
        # (= untouched under OP_PATCH's non-null-overwrites rule)
        text = F.when(
            is_patch & (hmod(10, 2) == 0),
            F.concat(F.lit("pt|"), conv_id, F.lit("|"), turn_idx, F.lit("|v"), c),
        ).otherwise(text)
        tool = F.when(
            is_patch, F.concat(F.lit("ptool_"), hmod(8, 7))
        ).otherwise(tool)

    ddl_arg = (
        F.when(is_add, F.lit('{"column":"tool_args","type":"string"}'))
        .when(is_rename, F.lit('{"from":"tool","to":"tool_name"}'))
        .when(is_drop, F.concat(F.lit('{"part":'), part, F.lit("}")))
        .when(is_truncate, F.lit("{}"))
        .when(is_widen, F.lit('{"column":"turn_idx","type":"bigint"}'))
        .when(is_col_drop, F.lit('{"column":"%s"}' % col_drop_target))
    )

    extra = F.when(
        is_payload & F.lit(add_lsn >= 0) & (c > F.lit(add_lsn)),
        F.create_map(F.lit("tool_args"), F.concat(F.lit("a"), c)),
    )

    return rng.select(
        c.alias("lsn"),
        ts.alias("ts"),
        part.alias("part"),
        op.alias("op"),
        conv_id.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ddl_arg.alias("ddl_arg"),
        extra.alias("extra"),
    )


def generate_multi_changelog(
    spark: SparkSession,
    n: int,
    tables: list[str],
    *,
    seed: int = 42,
    **kw,
) -> DataFrame:
    """Changelog for SEVERAL collections multiplexed into one ordered log —
    the shape the reference's channel carries (every collection's replicate
    messages ride shared pchannels, tagged with their collection;
    /root/reference/core/reader/replicate_channel_manager.go:1169-1491).

    Adds a ``table_name`` column; global lsn uniqueness is preserved by
    striping: table i's local lsn L becomes L * len(tables) + i (order
    within each table is preserved, so per-table replay semantics are
    unchanged)."""
    k = len(tables)
    parts = []
    for i, name in enumerate(tables):
        df = generate_changelog(spark, n // k, seed=seed + 1000 * i, **kw)
        parts.append(
            df.withColumn("lsn", F.col("lsn") * k + i).withColumn(
                "table_name", F.lit(name)
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def write_changelog(df: DataFrame, path: str, n_files: int = 16) -> None:
    """Write the changelog as ``n_files`` lsn-ranged parquet files.

    Range-partitioned by lsn so each file carries one contiguous lsn
    range — the shape the WAL gate (streaming/wal.py) orders files by,
    the analogue of MQ seek order.

    Row groups are capped at 4 MB: a parquet file is only splittable at
    row-group boundaries, and a single-row-group file caps every
    downstream scan's parallelism at one task per file no matter how many
    cores the cluster has (measured: 8-file micro-batches pinned the whole
    apply pipeline to 8 concurrent tasks on a 32-core runner).
    """
    (
        df.repartitionByRange(n_files, "lsn")
        .sortWithinPartitions("lsn")
        .write.mode("overwrite")
        .option("parquet.block.size", str(4 * 1024 * 1024))
        .parquet(path)
    )
