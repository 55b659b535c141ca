"""Task CLI — create / drain / tail / status / pause / resume / delete /
list / position / compact / vacuum / convert / bootstrap / cascade /
lookup, packaged for spark-submit. ``lookup`` is the serving-path point
read: one conversation fetched by routing its key driver-side to its one
storage bucket (functions/keyhash). Maintenance verbs (compact / vacuum /
convert / rebucket) cover every table of a task — single-table and
multi-collection trees alike; ``cascade`` replicates one SnapshotTable into another through its
changes() diff (second-level tail, self-positioning); ``publish`` is the
egress twin — one round emits the table's advance since the cursor as
Debezium JSON-lines envelopes any downstream CDC consumer can tail
(streaming/publish.py).

The analogue of the reference's HTTP task API — all eight task verbs
(create/delete/pause/resume/get/getPosition/list/maintenance,
/root/reference/server/cdc_api.go:26-36, handlers
server/handle_map.go:35-133) as driver-side commands:

    spark-submit --py-files milvus_cdc_spark.zip scripts/submit_drain.py \
        drain --log /data/changelog --table /lake/transcripts --checkpoint /ckpt/t1

(locally: ``python -m milvus_cdc_spark.streaming.cli ...``; spark-submit
has no ``-m`` module mode, hence the wrapper script)

Multi-collection tasks (the reference's N-collection task model,
server/cdc_impl.go:1195-1208) use ``--tables-root`` with optional
``--collections a,b,ns.c`` / ``--excludes x,y`` instead of ``--table``;
omitting --collections subscribes '*' minus the excludes.

Cross-process lifecycle: ``create --name t1 --tasks-dir /tasks`` registers
the task spec; ``pause``/``resume``/``delete``/``list`` operate on the
registry from ANY process. Pause is a sentinel file the running task polls
at batch boundaries — both the continuous ``tail`` loop and a long
``drain``/``resume`` honor it (streaming/registry.py)."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from milvus_cdc_spark.streaming.registry import TaskRegistry

TASK_COMMANDS = ("create", "drain", "status", "tail", "resume")
NO_SPARK_COMMANDS = ("vacuum", "pause", "delete", "list")


def _registry(a) -> TaskRegistry:
    if not a.tasks_dir:
        raise SystemExit(f"--tasks-dir is required for '{a.command}'")
    return TaskRegistry(a.tasks_dir)


def _csv(v: str | None) -> list[str] | None:
    if v is None or v == "*":
        return None
    return [s for s in (x.strip() for x in v.split(",")) if s]


def _kafka_options(a) -> dict | None:
    """--kafka-* flags → the engine's kafka_options dict (None unless
    --source kafka, so file-source tasks never carry the key)."""
    if getattr(a, "source", None) != "kafka":
        return None
    ko: dict = {"bootstrap_servers": a.kafka_bootstrap}
    if a.kafka_value_format != "native":
        ko["value_format"] = a.kafka_value_format
    if a.kafka_starting_offsets != "earliest":
        ko["starting_offsets"] = a.kafka_starting_offsets
    if a.kafka_max_offsets:
        ko["max_offsets_per_trigger"] = a.kafka_max_offsets
    return ko


def _reject_ambiguous_src_table_mode(a, p) -> None:
    """--src-table's task kind is picked by exactly ONE companion flag;
    a second one would silently win by branch order (e.g. --out beating
    --table used to publish instead of cascade) — fail loudly instead."""
    modes = [
        f for f, v in (("--view-store", getattr(a, "view_store", None)),
                       ("--out", getattr(a, "out", None)),
                       ("--table", getattr(a, "table", None)))
        if v
    ]
    if len(modes) > 1:
        p.error(
            "--src-table takes exactly one of --view-store (view task), "
            f"--out (publish task) or --table (cascade task); got "
            f"{', '.join(modes)}"
        )


def _spec_from_args(a, p) -> dict:
    """Task spec from --name/--tasks-dir (registry) or explicit flags."""
    if a.name and a.tasks_dir:
        return TaskRegistry(a.tasks_dir).get(a.name)
    if a.src_table:
        _reject_ambiguous_src_table_mode(a, p)
    if a.src_table and a.view_store and a.checkpoint:
        # view task: maintains a serving view of another SnapshotTable
        return {
            "src_table": a.src_table, "view_store": a.view_store,
            "checkpoint": a.checkpoint,
        }
    if a.src_table and a.out and a.checkpoint:
        # publish task: egress another SnapshotTable as a Debezium feed
        return {
            "src_table": a.src_table, "publish_out": a.out,
            "checkpoint": a.checkpoint,
        }
    if a.src_table and a.table and a.checkpoint:
        # cascade task: tails another SnapshotTable instead of a changelog
        return {
            "src_table": a.src_table, "table": a.table,
            "checkpoint": a.checkpoint, "hop_versions": a.hop_versions,
        }
    if a.src_tables_root and a.tables_root and a.checkpoint:
        # instance-level cascade: replicate every table under a tree
        return {
            "src_tables_root": a.src_tables_root,
            "tables_root": a.tables_root, "checkpoint": a.checkpoint,
            "collections": _csv(a.collections),
            "excludes": _csv(a.excludes) or [],
            "hop_versions": a.hop_versions,
        }
    if not (a.log and a.checkpoint and (a.table or a.tables_root)):
        p.error(
            f"'{a.command}' needs either --name + --tasks-dir, or "
            "--log + --checkpoint + (--table | --tables-root), or "
            "--src-table + --table + --checkpoint (cascade task)"
        )
    spec = {"log": a.log, "checkpoint": a.checkpoint}
    if a.table:
        spec["table"] = a.table
    if a.tables_root:
        spec["tables_root"] = a.tables_root
        spec["collections"] = _csv(a.collections)
        spec["excludes"] = _csv(a.excludes) or []
    return spec


def _build_task(spark, spec, a):
    """CdcTask or MultiCdcTask from a spec — one code path for every verb
    (the reference's eight verbs manage N-collection tasks identically,
    server/cdc_api.go:26-36)."""
    from milvus_cdc_spark.streaming.engine import (
        CascadeTask,
        CdcTask,
        MultiCdcTask,
    )

    if spec.get("view_store"):
        from milvus_cdc_spark.streaming.engine import ViewTask

        return ViewTask(
            spark,
            spec["src_table"],
            spec["view_store"],
            spec["checkpoint"],
        )
    if spec.get("publish_out"):
        from milvus_cdc_spark.streaming.engine import PublishTask

        return PublishTask(
            spark,
            spec["src_table"],
            spec["publish_out"],
            spec["checkpoint"],
        )
    if spec.get("src_table"):
        return CascadeTask(
            spark,
            spec["src_table"],
            spec["table"],
            spec["checkpoint"],
            hop_versions=spec.get("hop_versions", a.hop_versions),
            write_mode=spec.get("write_mode", a.write_mode),
            auto_compact_files=spec.get(
                "auto_compact_files", a.auto_compact_files
            ),
        )
    if spec.get("src_tables_root"):
        from milvus_cdc_spark.streaming.engine import MultiCascadeTask

        return MultiCascadeTask(
            spark,
            spec["src_tables_root"],
            spec["tables_root"],
            spec["checkpoint"],
            collections=spec.get("collections"),
            excludes=spec.get("excludes") or (),
            hop_versions=spec.get("hop_versions", a.hop_versions),
            write_mode=spec.get("write_mode", a.write_mode),
            auto_compact_files=spec.get(
                "auto_compact_files", a.auto_compact_files
            ),
        )
    kw = dict(
        max_files_per_trigger=spec.get(
            "max_files_per_trigger", a.max_files_per_trigger
        ),
        n_buckets=spec.get("n_buckets", a.n_buckets),
        write_mode=spec.get("write_mode", a.write_mode),
        auto_compact_files=spec.get("auto_compact_files", a.auto_compact_files),
        on_malformed=spec.get("on_malformed", a.on_malformed),
        constraints=spec.get("constraints", a.constraint),
        on_violation=spec.get("on_violation", a.on_violation),
    )
    kw["source"] = spec.get("source", a.source)
    kw["history_path"] = spec.get("history", a.history)
    kw["kafka_options"] = spec.get("kafka_options") or _kafka_options(a)
    if spec.get("tables_root"):
        return MultiCdcTask(
            spark,
            spec["log"],
            spec["tables_root"],
            spec["checkpoint"],
            collections=spec.get("collections"),
            excludes=spec.get("excludes") or (),
            **kw,
        )
    return CdcTask(spark, spec["log"], spec["table"], spec["checkpoint"], **kw)


def _task_table_roots(a, p) -> list[tuple[str, str]]:
    """(name, table_root) pairs a maintenance verb operates on: the one
    table of a single-table spec, or every SnapshotTable under a
    multi-collection spec's tables_root (including namespaced ones) —
    mirroring the reference, where one ``maintenance`` verb serves any
    task shape (server/cdc_api.go:26-36, server/handle_map.go:35-133)."""
    from milvus_cdc_spark.streaming.registry import _walk_tables

    if a.table:
        return [(os.path.basename(os.path.normpath(a.table)), a.table)]
    spec = _spec_from_args(a, p)
    if spec.get("table"):
        return [(os.path.basename(os.path.normpath(spec["table"])), spec["table"])]
    return list(_walk_tables(spec["tables_root"]))


def _maintenance_roots(a, p, verb: str, spark=None) -> dict:
    from milvus_cdc_spark.plans.manifest import SnapshotTable

    out = {}
    for name, root in _task_table_roots(a, p):
        t = SnapshotTable(root)
        if verb == "vacuum":
            out[name] = t.vacuum()
        elif verb == "compact":
            m = t.compact(spark)
            out[name] = {
                "version": m.version,
                "snapshot_id": m.snapshot_id,
                "n_files": sum(len(v) for v in m.files.values()),
            }
        elif verb == "convert":
            m = t.convert(spark, a.write_mode)
            out[name] = {"version": m.version, "write_mode": m.write_mode}
        elif verb == "rebucket":
            m = t.rebucket(spark, a.to_buckets)
            out[name] = {"version": m.version, "n_buckets": m.n_buckets}
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="milvus_cdc_spark")
    p.add_argument(
        "command",
        choices=[
            "create", "drain", "status", "tail", "pause", "resume",
            "delete", "list", "position", "compact", "vacuum", "bootstrap",
            "convert", "cascade", "pipeline", "rollup", "rollback", "dlq",
            "lookup", "rebucket", "stats", "publish", "pins", "serve",
        ],
    )
    p.add_argument("--log", help="changelog directory (task commands)")
    p.add_argument("--table", help="target SnapshotTable root (single-table task)")
    p.add_argument("--tables-root", help="root dir for a multi-collection task")
    p.add_argument("--collections", default=None,
                   help="comma list of collections to replicate ('*' = all)")
    p.add_argument("--excludes", default=None,
                   help="comma list of collections/namespaces to skip")
    p.add_argument("--checkpoint", help="task checkpoint dir: WAL ledger + status (task commands)")
    p.add_argument("--name", help="task name in the registry")
    p.add_argument("--tasks-dir", help="task registry directory")
    p.add_argument("--drop-checkpoint", action="store_true",
                   help="delete: also remove the checkpoint dir")
    p.add_argument("--master", default=None)
    p.add_argument("--max-files-per-trigger", type=int, default=4)
    p.add_argument("--n-buckets", type=int, default=16)
    p.add_argument("--duration-sec", type=float, default=60.0, help="tail runtime")
    p.add_argument("--max-failures", type=int, default=3,
                   help="fail-protect: failures per window before Paused")
    p.add_argument("--fail-window-sec", type=float, default=60.0)
    p.add_argument("--snapshot", help="bootstrap: parquet dir of the initial full load")
    p.add_argument("--unpin", default=None,
                   help="pins: drop this consumer pin (see 'pins' output "
                        "for names) so it stops flooring vacuum")
    p.add_argument("--src-table", help="cascade: source SnapshotTable root")
    p.add_argument("--src-tables-root",
                   help="instance-level cascade: replicate every "
                        "SnapshotTable under this tree (plain and "
                        "namespaced) into --tables-root; honors "
                        "--collections/--excludes")
    p.add_argument("--from-version", type=int, default=None,
                   help="cascade: source version to diff from (default: "
                        "self-position from the target's applied epochs)")
    p.add_argument("--hop-versions", type=int, default=None,
                   help="cascade: max source-version span per hop "
                        "(default: one hop for the whole span)")
    p.add_argument("--write-mode", choices=["cow", "mor"], default="cow",
                   help="table write mode at create: copy-on-write MERGE "
                        "(resolution-free reads) or merge-on-read deltas "
                        "(O(batch) epoch writes; compact folds)")
    p.add_argument("--history", default=None,
                   help="Debezium schema-change topic dir (JSON lines): "
                        "new topic files decode into ADD/WIDEN/DROP_COLUMN "
                        "events that ride the next epoch — live DDL for "
                        "--source debezium tasks")
    p.add_argument("--source", choices=["parquet", "debezium", "kafka"],
                   default="parquet",
                   help="changelog encoding: native parquet files, "
                        "Debezium-envelope JSON lines (before/after/op/"
                        "source.lsn, normalized at the scan — "
                        "sources/debezium.py), or a Kafka topic "
                        "(--log names the topic; needs --kafka-bootstrap "
                        "and the spark-sql-kafka connector on the "
                        "classpath — sources/kafka.py)")
    p.add_argument("--kafka-bootstrap", default=None,
                   help="kafka.bootstrap.servers for --source kafka")
    p.add_argument("--kafka-value-format", choices=["native", "debezium"],
                   default="native",
                   help="Kafka record-value encoding: native changelog "
                        "JSON (lsn/part default to offset/partition) or "
                        "Debezium envelopes")
    p.add_argument("--kafka-starting-offsets", default="earliest",
                   help="startingOffsets for a FRESH checkpoint "
                        "(earliest|latest|per-partition JSON); resume "
                        "always follows the checkpointed offsets")
    p.add_argument("--kafka-max-offsets", type=int, default=None,
                   help="maxOffsetsPerTrigger — the Kafka pacing knob "
                        "(files sources use --max-files-per-trigger)")
    p.add_argument("--on-malformed", choices=["fail", "dlq"], default="fail",
                   help="poison events (null key/lsn/ts, unparseable "
                        "ddl_arg): 'fail' pauses the task before anything "
                        "commits (default); 'dlq' quarantines them to "
                        "<table>/dlq/epoch-N/ with a _reason column and "
                        "applies the rest")
    p.add_argument("--constraint", action="append", default=None,
                   help="ingest-time data-quality constraint (Spark SQL "
                        "boolean over the payload, SQL CHECK semantics: "
                        "FALSE violates, null passes); repeatable, e.g. "
                        "--constraint \"length(text) <= 1000000\" "
                        "--constraint \"role IN ('user','assistant')\"")
    p.add_argument("--on-violation", choices=["fail", "dlq"], default="fail",
                   help="constraint-violating events: 'fail' pauses the "
                        "task (default); 'dlq' quarantines them with the "
                        "failed expression as _reason and applies the rest")
    p.add_argument("--auto-compact-files", type=int, default=None,
                   help="compact a table at the next epoch boundary once "
                        "any bucket exceeds this many files (MOR "
                        "housekeeping)")
    p.add_argument("--to-version", type=int, default=None,
                   help="rollback: manifest version to restore (forward-"
                        "rolling: commits a NEW version with the old "
                        "content; undone epochs become replayable)")
    p.add_argument("--view-store", dest="view_store",
                   help="view task: serving-view store directory "
                        "(with --src-table + --checkpoint)")
    p.add_argument("--store", help="pipeline: state directory (dedup + "
                   "chunk stores and the version cursor)")
    p.add_argument("--out", default=None,
                   help="pipeline: also emit the training shards to this "
                        "parquet dir; publish: the Debezium feed directory "
                        "(with create --src-table + --checkpoint: a managed "
                        "publish task)")
    p.add_argument("--min-score-milli", type=int, default=0,
                   help="pipeline: quality-gate threshold")
    p.add_argument("--window", type=int, default=64,
                   help="pipeline: chunk token window")
    p.add_argument("--stride", type=int, default=48,
                   help="pipeline: chunk stride")
    p.add_argument("--to-buckets", type=int, default=None,
                   help="rebucket: new bucket count (partition-spec "
                        "evolution; full sorted rewrite under the lease — "
                        "pause the task first)")
    p.add_argument("--conv-id", default=None,
                   help="lookup: conversation key to fetch (routed "
                        "driver-side to its one bucket)")
    p.add_argument("--turn-idx", type=int, default=None,
                   help="lookup: optional single turn within the "
                        "conversation")
    p.add_argument("--at-version", type=int, default=None,
                   help="lookup: read at this retained snapshot version "
                        "(time travel) instead of CURRENT")
    p.add_argument("--replay-to", default=None,
                   help="dlq: move quarantined events back into this "
                        "changelog dir (repair-then-reprocess loop); "
                        "still-malformed rows simply re-quarantine")
    p.add_argument("--purge", action="store_true",
                   help="dlq: drop all quarantined events")
    p.add_argument("--http-host", default="127.0.0.1",
                   help="serve: bind address for the HTTP task API")
    p.add_argument("--http-port", type=int, default=8444,
                   help="serve: port for the HTTP task API (0 = ephemeral)")
    a = p.parse_args(argv)

    # ---- registry / filesystem commands (no Spark session) --------------
    if a.command == "serve":
        # HTTP task-management facade (streaming/http_api.py) — the
        # reference's POST /cdc endpoint (server/server.go:54-66) over the
        # same registry this CLI uses; Spark-free
        from milvus_cdc_spark.streaming.http_api import serve

        if not a.tasks_dir:
            p.error("serve needs --tasks-dir")
        srv = serve(a.tasks_dir, a.http_host, a.http_port)
        print(json.dumps({"serving": list(srv.server_address),
                          "tasks_dir": a.tasks_dir}), flush=True)
        try:
            srv.serve_forever()
        except KeyboardInterrupt:
            pass
        return 0
    if a.command == "vacuum":
        # maintenance covers EVERY table of a task — single-table specs and
        # multi-collection trees alike (the reference's one maintenance
        # verb serves any task, server/cdc_api.go:26-36)
        print(json.dumps(_maintenance_roots(a, p, "vacuum")))
        return 0
    if a.command == "pins":
        # retention-coordination inspection — Spark-free. Lists each
        # table's consumer pins (who is flooring vacuum, and at which
        # version); --unpin drops a decommissioned consumer's pin.
        # Pins live on the SOURCE side, so for registered cascade/view/
        # publish tasks resolve src_table / src_tables_root — the tables
        # whose vacuum the task's pin actually floors; first-level specs
        # resolve their own table(s) (downstream consumers pin those).
        from milvus_cdc_spark.plans.manifest import SnapshotTable
        from milvus_cdc_spark.streaming.registry import _walk_tables

        if a.table:
            roots = [(os.path.basename(os.path.normpath(a.table)), a.table)]
        else:
            spec = _spec_from_args(a, p)
            if spec.get("src_table"):
                roots = [(
                    os.path.basename(os.path.normpath(spec["src_table"])),
                    spec["src_table"],
                )]
            elif spec.get("src_tables_root"):
                roots = list(_walk_tables(spec["src_tables_root"]))
            else:
                roots = _task_table_roots(a, p)
        out = {}
        for name, root in roots:
            t = SnapshotTable(root)
            entry = {"pins": t.pins(), "current": t.current().version}
            if a.unpin:
                entry["unpinned"] = t.unpin(a.unpin)
                entry["pins"] = t.pins()
            out[name] = entry
        print(json.dumps(out))
        return 0
    if a.command == "stats":
        # table inspection — Spark-free (manifest + parquet footers only,
        # SnapshotTable.stats, the Iceberg metadata-tables analogue);
        # covers every table of a task like the other maintenance verbs
        from milvus_cdc_spark.plans.manifest import SnapshotTable

        print(json.dumps({
            name: SnapshotTable(root).stats()
            for name, root in _task_table_roots(a, p)
        }))
        return 0
    if a.command == "rollback":
        # undo bad epochs by restoring an earlier snapshot
        # (manifest.rollback — forward-rolling, lease-guarded). Pure
        # manifest commit, no Spark session; pause the task first so the
        # CAS check can't race a drain.
        if a.to_version is None or not a.table:
            p.error("'rollback' needs --table and --to-version")
        from milvus_cdc_spark.plans.manifest import SnapshotTable

        m = SnapshotTable(a.table).rollback(a.to_version)
        print(json.dumps({
            "table": a.table,
            "version": m.version,
            "restored_to": a.to_version,
            "snapshot_id": m.snapshot_id,
        }))
        return 0
    if a.command == "dlq":
        # inspect / replay / purge quarantined poison events — covers every
        # table of a task (single-table or multi-collection tree) PLUS the
        # task-level _dlq of a multi-collection spec (unroutable null-
        # table_name events), like the other maintenance verbs. Driver-side
        # pyarrow; no Spark session.
        from milvus_cdc_spark.plans.manifest import (
            SnapshotTable,
            dlq_purge_dir,
            dlq_replay_dir,
            dlq_summary_dir,
        )

        dirs = [
            (name, SnapshotTable(root).dlq_dir)
            for name, root in _task_table_roots(a, p)
        ]
        if not a.table:
            spec = _spec_from_args(a, p)
            if spec.get("tables_root"):
                dirs.append(
                    ("(task)", os.path.join(spec["tables_root"], "_dlq"))
                )
        out = {}
        for name, d in dirs:
            r: dict = {"summary": dlq_summary_dir(d)}
            if a.replay_to:
                r["replay"] = dlq_replay_dir(d, a.replay_to, name)
            elif a.purge:
                r["purge"] = dlq_purge_dir(d)
            out[name] = r
        print(json.dumps(out))
        return 0
    if a.command == "pause":
        reg = _registry(a)
        reg.request_pause(a.name)
        print(json.dumps({"name": a.name, "pause_requested": True}))
        return 0
    if a.command == "delete":
        reg = _registry(a)
        reg.delete(a.name, drop_checkpoint=a.drop_checkpoint)
        print(json.dumps({"name": a.name, "deleted": True}))
        return 0
    if a.command == "list":
        print(json.dumps(_registry(a).list()))
        return 0
    if a.command == "position":
        if a.name and a.tasks_dir:
            print(json.dumps(_registry(a).position(a.name)))
        else:
            spec = _spec_from_args(a, p)
            print(json.dumps(TaskRegistry(os.path.dirname(spec["checkpoint"]) or ".").position(spec)))
        return 0

    from milvus_cdc_spark.session import get_spark
    from milvus_cdc_spark.streaming.engine import FailProtect

    if a.command in ("compact", "convert", "rebucket"):
        if a.command == "rebucket" and not a.to_buckets:
            p.error("'rebucket' needs --to-buckets")
        spark = get_spark("milvus_cdc_spark_cli", master=a.master)
        print(json.dumps(_maintenance_roots(a, p, a.command, spark=spark)))
        return 0

    if a.command == "lookup":
        # point read of one conversation (serving path): the key is
        # routed DRIVER-SIDE to its storage bucket (functions/keyhash
        # mirrors pmod(xxhash64(key), n_buckets) bit-for-bit), so the
        # scan opens 1/n_buckets of the table and the key filter reaches
        # the parquet row groups (plans/manifest.py::lookup)
        if not (a.table and a.conv_id):
            p.error("'lookup' needs --table and --conv-id")
        from milvus_cdc_spark.plans.manifest import SnapshotTable

        spark = get_spark("milvus_cdc_spark_cli", master=a.master)
        t = SnapshotTable(a.table)
        df = t.lookup(
            spark, a.conv_id, turn_idx=a.turn_idx,
            manifest=(
                t.at_version(a.at_version)
                if a.at_version is not None else None
            ),
        )
        order = [c for c in ("turn_idx", "ts", "lsn") if c in df.columns]
        rows = [r.asDict() for r in df.orderBy(*order).collect()]
        print(json.dumps(
            {"conv_id": a.conv_id, "n_rows": len(rows), "rows": rows},
            default=str,
        ))
        return 0

    if a.command == "pipeline":
        # one idempotent round of the incremental training-shard pipeline
        # (operators/pipeline.py::run_pipeline_round): quality gate →
        # exact-dedup keeper → token chunking advanced by the table's
        # changes() since the cursor; stores + cursor persist under
        # --store, shards optionally land at --out. Per-round cost ∝ the
        # diff — the daily-run surface over a replicated table.
        if not (a.table and a.store):
            p.error("'pipeline' needs --table and --store")
        from milvus_cdc_spark.operators.pipeline import run_pipeline_round
        from milvus_cdc_spark.plans.manifest import SnapshotTable

        spark = get_spark("milvus_cdc_spark_cli", master=a.master)
        res = run_pipeline_round(
            spark, SnapshotTable(a.table), a.store,
            min_score_milli=a.min_score_milli,
            window=a.window, stride=a.stride, out_dir=a.out,
        )
        print(json.dumps(res))
        return 0

    if a.command == "publish":
        # one egress round (streaming/publish.py): the table's advance
        # since the cursor published as Debezium JSON-lines envelopes —
        # the feed any Debezium consumer (incl. this engine's --source
        # debezium tasks) can tail. Cost ∝ changed buckets; re-runs at
        # an unadvanced head are no-ops. With --tables-root the verb
        # walks the tree (incl. ns.table dirs) and publishes every
        # table to its own feed subdirectory — the reference's one-verb-
        # covers-any-task model (server/cdc_api.go:26-36).
        if not ((a.table or a.tables_root) and a.out):
            p.error("'publish' needs (--table | --tables-root) and --out")
        from milvus_cdc_spark.plans.manifest import SnapshotTable
        from milvus_cdc_spark.streaming.publish import publish_round
        from milvus_cdc_spark.streaming.registry import _walk_tables

        spark = get_spark("milvus_cdc_spark_cli", master=a.master)
        if a.table:
            print(json.dumps(
                publish_round(spark, SnapshotTable(a.table), a.out)
            ))
        else:
            out = {
                name: publish_round(
                    spark, SnapshotTable(root), os.path.join(a.out, name)
                )
                for name, root in sorted(_walk_tables(a.tables_root))
            }
            print(json.dumps(out))
        return 0

    if a.command == "rollup":
        # one idempotent IVM round (operators/rollup.py::run_rollup_round):
        # advance the per-conversation transcript rollup by the table's
        # changes() since the cursor — recompute only touched groups,
        # read only touched buckets; view + cursor persist under --store.
        if not (a.table and a.store):
            p.error("'rollup' needs --table and --store")
        from milvus_cdc_spark.operators.rollup import run_rollup_round
        from milvus_cdc_spark.plans.manifest import SnapshotTable

        spark = get_spark("milvus_cdc_spark_cli", master=a.master)
        print(json.dumps(run_rollup_round(spark, SnapshotTable(a.table), a.store)))
        return 0

    if a.command == "cascade":
        # second-level tail: replicate one SnapshotTable into another via
        # its changes() diff (streaming/cascade.py) — the reference's
        # source→target topology as a CLI verb. Self-positions: cascade
        # hops commit under the SOURCE version as the target epoch, so
        # the max applied epoch IS the last replicated source version.
        if not (a.src_table and a.table):
            p.error("'cascade' needs --src-table and --table")
        from milvus_cdc_spark.plans.manifest import SnapshotTable
        from milvus_cdc_spark.streaming.cascade import cascade_until_current

        spark = get_spark("milvus_cdc_spark_cli", master=a.master)
        src = SnapshotTable(a.src_table)
        dst = SnapshotTable(a.table)
        if not dst.exists():
            from milvus_cdc_spark.streaming.cascade import create_target_like

            create_target_like(src, dst, write_mode=a.write_mode)
        from_v = a.from_version
        if from_v is None:
            eps = [int(e) for e in dst.current().epochs if int(e) >= 0]
            from_v = max(eps) if eps else 0
        hops = cascade_until_current(
            spark, src, dst, from_v, hop_versions=a.hop_versions
        )
        print(json.dumps({
            "src": a.src_table, "table": a.table, "from_version": from_v,
            "hops": [
                {k: h.get(k) for k in ("from_version", "to_version", "skipped")}
                for h in hops
            ],
            "caught_up_to": src.current().version,
        }))
        return 0

    if a.command == "bootstrap":
        # initial full load of the task's target table (snapshot phase —
        # apply.bootstrap_table); the tail then takes over from its
        # checkpoint with the ordinary drain/resume verbs
        if not a.snapshot:
            p.error("'bootstrap' needs --snapshot")
        table_root = a.table
        if not table_root and a.name and a.tasks_dir:
            table_root = TaskRegistry(a.tasks_dir).get(a.name).get("table")
        if not table_root:
            p.error("'bootstrap' needs --table or --name + --tasks-dir")
        from milvus_cdc_spark.operators.apply import bootstrap_table
        from milvus_cdc_spark.plans.manifest import SnapshotTable

        spark = get_spark("milvus_cdc_spark_cli", master=a.master)
        res = bootstrap_table(
            spark,
            SnapshotTable(table_root),
            spark.read.parquet(a.snapshot),
            n_buckets=a.n_buckets,
            write_mode=a.write_mode,
        )
        keep = ("epoch", "skipped", "n_events", "n_keys_live_in_touched",
                "snapshot_id")
        print(json.dumps({k: v for k, v in res.items() if k in keep}))
        return 0

    if a.command == "create" and a.name and a.tasks_dir:
        if a.src_table:
            _reject_ambiguous_src_table_mode(a, p)
            if a.view_store:
                # view task: registered by name like any other task
                if not a.checkpoint:
                    p.error("view 'create' needs --src-table, --view-store "
                            "and --checkpoint")
                spec_fields = {
                    "src_table": a.src_table, "view_store": a.view_store,
                    "checkpoint": a.checkpoint,
                }
            elif a.out:
                # publish task: registered by name like any other task
                if not a.checkpoint:
                    p.error("publish 'create' needs --src-table, --out and "
                            "--checkpoint")
                spec_fields = {
                    "src_table": a.src_table, "publish_out": a.out,
                    "checkpoint": a.checkpoint,
                }
            else:
                if not (a.table and a.checkpoint):
                    p.error("cascade 'create' needs --src-table, --table "
                            "and --checkpoint (or --view-store / --out for "
                            "a view / publish task)")
                spec_fields = {
                    "src_table": a.src_table, "table": a.table,
                    "checkpoint": a.checkpoint,
                    "hop_versions": a.hop_versions,
                    "write_mode": a.write_mode,
                    "auto_compact_files": a.auto_compact_files,
                }
        elif a.src_tables_root:
            if not (a.tables_root and a.checkpoint):
                p.error("multi-cascade 'create' needs --src-tables-root, "
                        "--tables-root and --checkpoint")
            spec_fields = {
                "src_tables_root": a.src_tables_root,
                "tables_root": a.tables_root, "checkpoint": a.checkpoint,
                "collections": _csv(a.collections),
                "excludes": _csv(a.excludes) or [],
                "hop_versions": a.hop_versions,
                "write_mode": a.write_mode,
                "auto_compact_files": a.auto_compact_files,
            }
        else:
            if not (a.log and a.checkpoint and (a.table or a.tables_root)):
                p.error("'create' needs --log, --checkpoint and "
                        "--table|--tables-root (or --src-table for a "
                        "cascade task)")
            spec_fields = {
                "log": a.log, "checkpoint": a.checkpoint,
                "max_files_per_trigger": a.max_files_per_trigger,
                "n_buckets": a.n_buckets,
                "write_mode": a.write_mode,
                "auto_compact_files": a.auto_compact_files,
                "on_malformed": a.on_malformed,
                "constraints": a.constraint,
                "on_violation": a.on_violation,
                "source": a.source,
                "history": a.history,
                "kafka_options": _kafka_options(a),
            }
            if a.table:
                spec_fields["table"] = a.table
            if a.tables_root:
                spec_fields["tables_root"] = a.tables_root
                spec_fields["collections"] = _csv(a.collections)
                spec_fields["excludes"] = _csv(a.excludes) or []
        spec = TaskRegistry(a.tasks_dir).create(a.name, spec_fields)
    else:
        spec = _spec_from_args(a, p)

    spark = get_spark("milvus_cdc_spark_cli", master=a.master)
    task = _build_task(spark, spec, a)
    protect = FailProtect(max_failures=a.max_failures, window_sec=a.fail_window_sec)
    reg = TaskRegistry(a.tasks_dir) if a.name and a.tasks_dir else None

    if a.command == "create":
        print(json.dumps(task.status()))
    elif a.command in ("drain", "resume"):
        # resume = clear the pause signal, continue from the checkpoint;
        # a NEW cross-process pause during the drain stops it at the next
        # poll (pause_check), not after the whole drain
        if reg:
            reg.clear_pause(a.name)
        ok = task.drain_protected(
            protect,
            pause_check=(lambda: reg.pause_requested(a.name)) if reg else None,
        )
        print(json.dumps({"drained": ok, **task.status()}))
        return 0 if ok else 3
    elif a.command == "tail":
        if reg:
            reg.clear_pause(a.name)
        task.start()
        deadline = time.time() + a.duration_sec
        # poll loop: honor cross-process pause requests at ~3 Hz
        while time.time() < deadline and task.query.isActive:
            if reg and reg.pause_requested(a.name):
                break
            time.sleep(0.3)
        task.pause()
        print(json.dumps(task.status()))
    elif a.command == "status":
        print(json.dumps(task.status()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
