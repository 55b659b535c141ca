"""Debezium-envelope changelog adapter: JSON CDC messages → CHANGELOG rows.

The reference consumes its own replicate-message envelope from an MQ
(/root/reference/core/api/replicate_msg.go:25-30, stream subscribe
core/reader/stream_creator.go:39-159). The public-standard equivalent of
that envelope for relational CDC is Debezium's: one JSON document per
change with ``before``/``after`` row images, an ``op`` code
(``c``\\|``r``\\|``u``\\|``d``), the event timestamp ``ts_ms`` (plus the
microsecond-precision ``ts_us`` Debezium 2.5 added), and a ``source``
block carrying the log position (``lsn``). This module normalizes a
directory of such messages (JSON lines) into ``CHANGELOG_SCHEMA`` so the
whole engine — ordering, merge, DDL, DLQ — runs unmodified on a Debezium
feed:

    op c (create) / r (snapshot read) → INSERT   (row image = after)
    op u (update)                     → UPSERT   (row image = after)
    op d (delete)                     → DELETE   (row image = before; keys
                                                  + ordering identity only)

Everything stays in built-in JVM expressions (``from_json``/``to_json``,
``timestamp_micros``) — one narrow projection per message, no Python in
the hot path, so the adapter adds a parse-only stage in front of the
unchanged apply plan. Messages that don't parse (``from_json`` → NULL) or
carry an unknown ``op`` surface as malformed rows (null lsn/ts/key) and
flow into the engine's poison-event policy: ``on_malformed='fail'`` stops
before anything commits, ``'dlq'`` quarantines them — exactly the
dead-letter story Kafka-Connect pairs with Debezium.

``to_debezium`` is the inverse (changelog rows → envelope JSON strings),
used by tests and the ``cdc_debezium`` oracle probe to prove the round
trip is lossless at microsecond ts precision.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from milvus_cdc_spark import schemas as S

# row image carried in before/after (the transcript payload columns)
_IMAGE_FIELDS = [
    ("conv_id", T.StringType()),
    ("turn_idx", T.IntegerType()),
    ("role", T.StringType()),
    ("text", T.StringType()),
    ("tool", T.StringType()),
]

# the image also carries the dynamic-field bag (`extra`), so evolved
# columns survive an envelope round trip — real Debezium images carry
# every table column; our fixed base image + bag is the same information
# split the native changelog uses. Absent in a feed → null (from_json).
_IMAGE_SCHEMA = T.StructType(
    [T.StructField(n, t, True) for n, t in _IMAGE_FIELDS]
    + [T.StructField("extra", T.MapType(T.StringType(), T.StringType()), True)]
)

# the (subset of the) Debezium payload block we consume. Unknown extra
# fields in real feeds are simply ignored by from_json.
DEBEZIUM_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("before", _IMAGE_SCHEMA, True),
        T.StructField("after", _IMAGE_SCHEMA, True),
        T.StructField(
            "source",
            T.StructType(
                [
                    T.StructField("lsn", T.LongType(), True),
                    T.StructField("ts_us", T.LongType(), True),
                    T.StructField("partition", T.IntegerType(), True),
                    T.StructField("table", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField("op", T.StringType(), True),
        T.StructField("ts_ms", T.LongType(), True),
    ]
)

_OP_DECODE = {"c": S.OP_INSERT, "r": S.OP_INSERT, "u": S.OP_UPSERT}
_OP_ENCODE = {S.OP_INSERT: "c", S.OP_UPSERT: "u", S.OP_DELETE: "d"}


def _normalize(
    raw: DataFrame, value_col: str = "value", multi_table: bool = False
) -> DataFrame:
    """Envelope JSON strings → CHANGELOG_SCHEMA columns (all built-ins).
    ``multi_table=True`` additionally surfaces ``source.table`` as
    ``table_name`` (MULTI_CHANGELOG_SCHEMA) — Debezium's topic-per-table
    fan-in: a missing table routes to the task-level dlq/fail gate."""
    p = F.from_json(F.col(value_col), DEBEZIUM_PAYLOAD_SCHEMA)
    op = (
        F.when(p["op"].isin("c", "r"), F.lit(S.OP_INSERT))
        .when(p["op"] == "u", F.lit(S.OP_UPSERT))
        .when(p["op"] == "d", F.lit(S.OP_DELETE))
    )  # unknown/missing op → NULL → null lsn below → malformed policy
    image = F.when(p["op"] == "d", p["before"]).otherwise(p["after"])
    ts = F.when(
        p["source"]["ts_us"].isNotNull(),
        F.timestamp_micros(p["source"]["ts_us"]),
    ).otherwise(F.timestamp_millis(p["ts_ms"]))
    cols = [
        F.when(op.isNotNull(), p["source"]["lsn"]).alias("lsn"),
        ts.alias("ts"),
        F.coalesce(p["source"]["partition"], F.lit(0)).alias("part"),
        op.alias("op"),
        image["conv_id"].alias("conv_id"),
        image["turn_idx"].alias("turn_idx"),
        image["role"].alias("role"),
        image["text"].alias("text"),
        image["tool"].alias("tool"),
        F.lit(None).cast("string").alias("ddl_arg"),
        image["extra"].alias("extra"),
    ]
    if multi_table:
        cols.append(p["source"]["table"].alias("table_name"))
    return raw.select(*cols)


def read_debezium(
    spark: SparkSession, *paths: str, multi_table: bool = False
) -> DataFrame:
    """Batch scan of Debezium JSON-lines files (directories or files)."""
    return _normalize(spark.read.text(*paths), multi_table=multi_table)


def _image() -> Column:
    return F.struct(
        *[F.col(n) for n, _t in _IMAGE_FIELDS], F.col("extra").alias("extra")
    )


def to_debezium(changelog: DataFrame) -> DataFrame:
    """Changelog rows → one-column ``value`` DataFrame of envelope JSON
    strings (writable with ``df.write.text``). DML ops only — Debezium has
    no DDL-in-stream envelope (schema changes ride its separate history
    topic), so DDL rows must stay on a native changelog."""
    is_del = F.col("op") == S.OP_DELETE
    # cast: unix_micros requires TIMESTAMP; changelogs read from parquet
    # often carry TIMESTAMP_NTZ (session tz is pinned to UTC, so the cast
    # is value-preserving)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    src = [
        F.col("lsn").alias("lsn"),
        ts_us.alias("ts_us"),
        F.col("part").alias("partition"),
    ]
    if "table_name" in changelog.columns:
        src.append(F.col("table_name").alias("table"))
    env = F.struct(
        F.when(is_del, _image()).alias("before"),
        F.when(~is_del, _image()).alias("after"),
        F.struct(*src).alias("source"),
        F.when(F.col("op") == S.OP_INSERT, F.lit("c"))
        .when(F.col("op") == S.OP_UPSERT, F.lit("u"))
        .when(is_del, F.lit("d"))
        .alias("op"),
        (ts_us / 1000).cast("long").alias("ts_ms"),
    )
    return changelog.select(F.to_json(env).alias("value"))


# ---- schema-history topic (structured DDL) ---------------------------------
# Debezium pairs the data stream with a schema-change topic; since 1.2 its
# messages carry a STRUCTURED `tableChanges` array (type CREATE/ALTER/DROP
# + the table's full post-statement column list) alongside the raw `ddl`
# SQL text. The structured form is what we consume — no SQL parsing — by
# DIFFING consecutive per-table column states: a name new vs the previous
# message becomes OP_ADD_COLUMN, a mapped-type change on an existing name
# becomes OP_WIDEN_COLUMN (the engine's is_widening check still owns
# legality — an illegal "widen" degrades to the engine's documented
# no-op). A name present in the previous state but missing from the new
# one becomes OP_DROP_COLUMN (the engine's name-retirement drop). Renames
# are NOT representable: Debezium history shows a rename as exactly that
# dropped+added pair, which this decoder therefore surfaces as DROP(old)
# + ADD(new) — values do not carry across (the retirement contract); a
# producer that needs value-preserving renames must use the native
# changelog's OP_RENAME_COLUMN. Reference analogue: schema changes
# replicate through the op channel (core/reader/etcd_op.go:609-660).

HISTORY_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField(
            "source",
            T.StructType([T.StructField("lsn", T.LongType(), True)]),
            True,
        ),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("ddl", T.StringType(), True),
        T.StructField(
            "tableChanges",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("type", T.StringType(), True),
                        T.StructField("id", T.StringType(), True),
                        T.StructField(
                            "table",
                            T.StructType(
                                [
                                    T.StructField(
                                        "columns",
                                        T.ArrayType(
                                            T.StructType(
                                                [
                                                    T.StructField("name", T.StringType(), True),
                                                    T.StructField("typeName", T.StringType(), True),
                                                    T.StructField("position", T.IntegerType(), True),
                                                ]
                                            )
                                        ),
                                        True,
                                    )
                                ]
                            ),
                            True,
                        ),
                    ]
                )
            ),
            True,
        ),
    ]
)

# public JDBC/Debezium type names → engine column types (plans.manifest.
# _SPARK_TYPES vocabulary); unknown names degrade to string, mirroring
# the engine's own ADD_COLUMN degradation
_TYPE_MAP = {
    "INT": "int", "INTEGER": "int", "INT4": "int", "SMALLINT": "int",
    "TINYINT": "int", "MEDIUMINT": "int",
    "BIGINT": "bigint", "INT8": "bigint",
    "FLOAT": "float", "REAL": "float", "FLOAT4": "float",
    "DOUBLE": "double", "FLOAT8": "double", "DOUBLE PRECISION": "double",
    "VARCHAR": "string", "CHAR": "string", "TEXT": "string",
    "STRING": "string", "NVARCHAR": "string",
    "TIMESTAMP": "timestamp", "TIMESTAMPTZ": "timestamp",
    "DATETIME": "timestamp",
    "BOOLEAN": "boolean", "BOOL": "boolean",
}


def read_debezium_history(
    spark: SparkSession, path: str, multi_table: bool = False
) -> DataFrame:
    """Batch scan of a schema-history JSON-lines directory → CHANGELOG
    DDL rows (OP_ADD_COLUMN / OP_WIDEN_COLUMN / OP_DROP_COLUMN).

    Per-table consecutive-state diff via one window ``lag`` (the shuffle
    key is the table id — history topics are DDL-scale, never
    data-scale). The first message seen for a table (its CREATE) emits
    nothing: table creation is the engine's job. Multiple columns changed
    by one statement become lsn, lsn+1, … — valid because history
    positions are log byte offsets, which advance far faster than one
    unit per column; the engine's duplicate-lsn gate still protects the
    composed stream."""
    return _history_events(
        _history_rows(spark.read.text(path)), multi_table=multi_table
    )


def _history_rows(text_df: DataFrame) -> DataFrame:
    """History JSON lines → (lsn, ts, table_id, cols) state rows."""
    p = F.from_json(F.col("value"), HISTORY_PAYLOAD_SCHEMA)
    return (
        text_df.select(
            p["source"]["lsn"].alias("lsn"),
            F.timestamp_millis(p["ts_ms"]).alias("ts"),
            F.explode(p["tableChanges"]).alias("tc"),
        )
        .filter(F.col("tc")["type"].isin("CREATE", "ALTER"))
        .select(
            "lsn",
            "ts",
            F.col("tc")["id"].alias("table_id"),
            F.transform(
                F.col("tc")["table"]["columns"],
                lambda c: F.struct(
                    c["name"].alias("name"),
                    # inline type mapping over the struct element
                    _map_type_expr(c["typeName"]).alias("type"),
                ),
            ).alias("cols"),
        )
    )


def _history_events(rows: DataFrame, multi_table: bool = False) -> DataFrame:
    """Consecutive-state diff over (lsn, ts, table_id, cols) rows →
    CHANGELOG DDL rows. The first row per table (CREATE, or a cursor's
    seed state) emits nothing — only transitions emit."""
    from pyspark.sql import Window

    w = Window.partitionBy("table_id").orderBy("lsn")
    rows = rows.withColumn("prev", F.lag("cols").over(w)).filter(
        F.col("prev").isNotNull()
    )
    added = F.filter(
        F.col("cols"),
        lambda c: ~F.exists(F.col("prev"), lambda p2: p2["name"] == c["name"]),
    )
    widened = F.filter(
        F.col("cols"),
        lambda c: F.exists(
            F.col("prev"),
            lambda p2: (p2["name"] == c["name"]) & (p2["type"] != c["type"]),
        ),
    )
    removed = F.filter(
        F.col("prev"),
        lambda p2: ~F.exists(F.col("cols"), lambda c: c["name"] == p2["name"]),
    )
    events = rows.select(
        "lsn", "ts", "table_id",
        F.explode(
            F.concat(
                F.transform(
                    added,
                    lambda c: F.struct(
                        F.lit(S.OP_ADD_COLUMN).alias("op"),
                        F.to_json(
                            F.struct(
                                c["name"].alias("column"),
                                c["type"].alias("type"),
                            )
                        ).alias("ddl_arg"),
                    ),
                ),
                F.transform(
                    widened,
                    lambda c: F.struct(
                        F.lit(S.OP_WIDEN_COLUMN).alias("op"),
                        F.to_json(
                            F.struct(
                                c["name"].alias("column"),
                                c["type"].alias("type"),
                            )
                        ).alias("ddl_arg"),
                    ),
                ),
                F.transform(
                    removed,
                    lambda c: F.struct(
                        F.lit(S.OP_DROP_COLUMN).alias("op"),
                        F.to_json(
                            F.struct(c["name"].alias("column"))
                        ).alias("ddl_arg"),
                    ),
                ),
            )
        ).alias("ev"),
    )
    # one lsn per emitted event: statement position + in-statement ordinal
    w2 = Window.partitionBy("table_id", "lsn").orderBy(F.col("ev")["ddl_arg"])
    out_cols = [
        (F.col("lsn") + F.row_number().over(w2) - 1).alias("lsn"),
        F.col("ts"),
        F.lit(0).alias("part"),
        F.col("ev")["op"].alias("op"),
        *[F.lit(None).cast(t).alias(n) for n, t in _IMAGE_FIELDS],
        F.col("ev")["ddl_arg"].alias("ddl_arg"),
        F.lit(None).cast("map<string,string>").alias("extra"),
    ]
    if multi_table:
        # strip `"db"."table"` / `db.table` quoting → bare table name
        out_cols.append(
            F.regexp_replace(
                F.element_at(F.split(F.col("table_id"), r"\."), -1),
                '"', "",
            ).alias("table_name")
        )
    return events.select(*out_cols)


def _map_type_expr(type_name: Column) -> Column:
    base = F.upper(F.regexp_replace(type_name, r"\(.*\)$", ""))
    out = F.lit("string")
    for k, v in _TYPE_MAP.items():
        out = F.when(base == F.lit(k), F.lit(v)).otherwise(out)
    return out


def to_debezium_history(
    spark: SparkSession,
    ddl_rows: list,
    base_columns: list[tuple[str, str]],
    table_id: str = "transcripts",
) -> DataFrame:
    """Inverse encoder for tests/probes: fold engine DDL rows
    (ADD/WIDEN dicts or Rows, ordered by lsn) over the base column state
    and emit one history message per statement carrying the FULL
    post-statement column list (exactly what Debezium's `tableChanges`
    does), preceded by the table's CREATE message. Driver-side Python —
    DDL is exception-scale by nature."""
    import json as _json

    state = list(base_columns)
    msgs = []

    def msg(lsn, ts, typ):
        return _json.dumps(
            {
                "source": {"lsn": lsn},
                # no ALTERs → the CREATE message has no event to borrow a
                # wall clock from; epoch-0 is Debezium's own convention
                # for snapshot-phase history entries
                "ts_ms": int(ts.timestamp() * 1000) if ts is not None else 0,
                "ddl": f"-- {typ} {table_id}",
                "tableChanges": [
                    {
                        "type": typ,
                        "id": table_id,
                        "table": {
                            "columns": [
                                {
                                    "name": n,
                                    "typeName": t.upper(),
                                    "position": i + 1,
                                }
                                for i, (n, t) in enumerate(state)
                            ]
                        },
                    }
                ],
            }
        )

    rows = sorted(
        (r if isinstance(r, dict) else r.asDict() for r in ddl_rows),
        key=lambda r: r["lsn"],
    )
    first_lsn = rows[0]["lsn"] if rows else 1
    msgs.append(msg(max(0, first_lsn - 1), rows[0]["ts"], "CREATE") if rows else msg(0, None, "CREATE"))
    for r in rows:
        arg = _json.loads(r["ddl_arg"])
        if r["op"] == S.OP_ADD_COLUMN:
            state.append((arg["column"], arg.get("type", "string")))
        elif r["op"] == S.OP_WIDEN_COLUMN:
            state = [
                (n, arg["type"]) if n == arg["column"] else (n, t)
                for n, t in state
            ]
        else:
            raise ValueError(
                f"history encoder supports ADD/WIDEN_COLUMN only, got {r['op']}"
            )
        msgs.append(msg(r["lsn"], r["ts"], "ALTER"))
    return spark.createDataFrame([(m,) for m in msgs], "value string")


class HistoryCursor:
    """Incremental schema-history decode with an at-least-once cursor.

    The plain ``read_debezium_history`` re-decodes the FULL topic every
    trigger (acceptable at DDL scale, wasteful on a fat topic — round-4
    review nit). This cursor persists, next to the task checkpoint, the
    set of decoded files plus each table's last known column state, so a
    trigger decodes only NEW topic files; the stored per-table states are
    injected as seed rows below every new file's lsns, which makes the
    consecutive-state diff (``_history_events``) see exactly the
    transition it would have seen over the full topic (a seed row's own
    ``lag`` is null, so seeds themselves emit nothing).

    Crash contract: the caller applies the returned DDL events and THEN
    calls ``commit()``. A crash in between re-decodes the same files next
    run and re-applies the same DDL — idempotent at the manifest
    (skip-if-exists / type-lattice max), so at-least-once is exact-state.
    """

    def __init__(self, path: str, state_path: str):
        self.path = path
        self.state_path = state_path
        self._pending: dict | None = None

    def _load(self) -> dict:
        if os.path.exists(self.state_path):
            with open(self.state_path) as f:
                return json.loads(f.read())
        return {"files": [], "tables": {}}

    def events(
        self, spark: SparkSession, multi_table: bool = False
    ) -> DataFrame | None:
        """CHANGELOG DDL rows from not-yet-committed topic files, or
        None when the topic has nothing new (no Spark job runs)."""
        st = self._load()
        if not os.path.isdir(self.path):
            return None
        present = sorted(
            f
            for f in os.listdir(self.path)
            if not f.startswith((".", "_"))
            and os.path.isfile(os.path.join(self.path, f))
        )
        new = [f for f in present if f not in set(st["files"])]
        if not new:
            return None
        rows = _history_rows(
            spark.read.text(*[os.path.join(self.path, f) for f in new])
        )
        if st["tables"]:
            # drop messages at/below each table's stored position FIRST: a
            # producer re-dumping history (topic compaction, snapshot
            # re-export) replays old lsns whose CREATE would otherwise act
            # as a fresh base below the seed and re-emit applied DDL
            lsn_map = F.create_map(
                *[
                    x
                    for tid, t in st["tables"].items()
                    for x in (F.lit(tid), F.lit(int(t["lsn"])))
                ]
            )
            rows = rows.filter(
                F.col("lsn")
                > F.coalesce(lsn_map[F.col("table_id")], F.lit(-(1 << 62)))
            )
            seeds = spark.createDataFrame(
                [
                    (
                        int(t["lsn"]),
                        None,
                        tid,
                        [(c[0], c[1]) for c in t["cols"]],
                    )
                    for tid, t in st["tables"].items()
                ],
                "lsn long, ts timestamp, table_id string, "
                "cols array<struct<name:string,type:string>>",
            )
            rows = rows.unionByName(seeds)
        # advance the cursor state from (seed ∪ new): latest cols per
        # table — driver-side fold, DDL-scale by nature
        latest: dict[str, dict] = {}
        for r in rows.select("lsn", "table_id", "cols").collect():
            cur = latest.get(r["table_id"])
            if cur is None or r["lsn"] >= cur["lsn"]:
                latest[r["table_id"]] = {
                    "lsn": int(r["lsn"]),
                    "cols": [[c["name"], c["type"]] for c in (r["cols"] or [])],
                }
        self._pending = {"files": st["files"] + new, "tables": latest}
        return _history_events(rows, multi_table=multi_table)

    def commit(self) -> None:
        """Persist the cursor advance — call AFTER the epoch carrying the
        returned DDL events has committed."""
        if self._pending is None:
            return
        tmp = self.state_path + ".tmp"
        os.makedirs(os.path.dirname(self.state_path), exist_ok=True)
        with open(tmp, "w") as f:
            f.write(json.dumps(self._pending))
        os.replace(tmp, self.state_path)
        self._pending = None
