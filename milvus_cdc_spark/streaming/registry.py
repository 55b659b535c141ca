"""Cross-process task registry + pause signalling.

The reference keeps task metadata in etcd and serves eight HTTP verbs over
it (/root/reference/server/cdc_api.go:26-36, handlers
server/handle_map.go:35-133). Here the registry is a directory of JSON
task specs — the durable piece a CLI in ANOTHER process needs to
pause/resume/delete/list tasks it didn't start:

- ``<tasks_dir>/<name>.json``    task spec (log, table, checkpoint, conf)
- ``<checkpoint>/task_status.json``  persisted lifecycle state (written by
  the running task — see engine.CdcTask._write_status)
- ``<checkpoint>/PAUSE_REQUESTED``   pause signal: the process running the
  task polls for it at batch boundaries and stops gracefully; resume
  removes it and restarts from the checkpoint (the WAL ledger of a file
  task, the streaming checkpoint of a Kafka task).
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

PAUSE_SENTINEL = "PAUSE_REQUESTED"


def _walk_tables(tables_root: str):
    """Yield (name, root) for every SnapshotTable under a multi-collection
    task's tables_root — plain collections at depth 1, namespaced
    ``<ns>.<table>`` at depth 2 (see engine.MultiCdcTask._table_path)."""
    if not os.path.isdir(tables_root):
        return
    for d in sorted(os.listdir(tables_root)):
        p = os.path.join(tables_root, d)
        if not os.path.isdir(p):
            continue
        if os.path.exists(os.path.join(p, "meta", "CURRENT")):
            yield d, p
        else:  # namespace directory
            for t in sorted(os.listdir(p)):
                q = os.path.join(p, t)
                if os.path.exists(os.path.join(q, "meta", "CURRENT")):
                    yield f"{d}.{t}", q


class TaskRegistry:
    def __init__(self, tasks_dir: str):
        self.tasks_dir = tasks_dir
        os.makedirs(tasks_dir, exist_ok=True)

    def _path(self, name: str) -> str:
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"invalid task name: {name!r}")
        return os.path.join(self.tasks_dir, f"{name}.json")

    # -- CRUD (reference create/delete/get/list; validation analogue of
    # server/cdc_impl.go:186-362 — dup-collection checks, arg validation) -
    def create(self, name: str, spec: dict[str, Any]) -> dict[str, Any]:
        path = self._path(name)
        if os.path.exists(path):
            raise FileExistsError(f"task {name} already exists")
        if not spec.get("checkpoint"):
            raise ValueError("task spec missing required field: checkpoint")
        # first-level tasks tail a changelog ('log'); cascade tasks tail
        # another SnapshotTable ('src_table') or a whole table tree
        # ('src_tables_root') — same verbs either way (the reference runs
        # source→target replication as a managed task,
        # server/cdc_impl.go:213-320)
        if not (
            spec.get("log")
            or spec.get("src_table")
            or spec.get("src_tables_root")
        ):
            raise ValueError(
                "task spec needs 'log', 'src_table' or 'src_tables_root'"
            )
        if spec.get("src_table") and not (
            spec.get("table") or spec.get("view_store")
            or spec.get("publish_out")
        ):
            raise ValueError("cascade task spec needs 'table' (or "
                             "'view_store' for a view task, 'publish_out' "
                             "for a publish task)")
        if spec.get("src_tables_root") and not spec.get("tables_root"):
            raise ValueError("multi-cascade task spec needs 'tables_root'")
        # view/publish tasks read FROM a SnapshotTable — 'log' cannot
        # drive them (position() and the task builders both dereference
        # src_table), so reject the combination at create time
        if (spec.get("view_store") or spec.get("publish_out")) and not spec.get(
            "src_table"
        ):
            raise ValueError(
                "view/publish task spec needs 'src_table' (they tail a "
                "SnapshotTable, not a changelog)"
            )
        # single-table tasks own a 'table'; multi-collection tasks own a
        # 'tables_root' (+ optional 'collections'/'excludes' lists — the
        # reference manages N-collection tasks through the same verbs,
        # server/cdc_api.go:26-36); view tasks own a 'view_store'
        if not (
            spec.get("table")
            or spec.get("tables_root")
            or spec.get("view_store")
            or spec.get("publish_out")
        ):
            raise ValueError(
                "task spec needs 'table', 'tables_root', 'view_store' "
                "or 'publish_out'"
            )
        # capacity guard (reference MaxTaskNum, server/cdc_impl.go:257-258,
        # default 100 in server/configs/cdc.yaml)
        existing = self.list()
        max_tasks = int(
            spec.get("max_tasks", os.environ.get("CDC_MAX_TASKS", 100))
        )
        if len(existing) >= max_tasks:
            raise ValueError(
                f"the task num has reached the limit, {max_tasks}"
            )
        # two tasks writing one table (or table tree) would break the
        # single-writer commit protocol; sharing a checkpoint corrupts both
        # streams' offsets. Containment counts too: a single-table task
        # nested UNDER another task's tables_root is the reference's
        # dup-collection-vs-wildcard conflict (server/cdc_impl.go:371-497)
        # — the wildcard task would create/merge the same table dir.
        def _contains(root: str | None, p: str | None) -> bool:
            if not root or not p:
                return False
            root, p = os.path.normpath(root), os.path.normpath(p)
            return p == root or p.startswith(root + os.sep)

        for other in existing:
            for field in ("table", "tables_root", "checkpoint", "view_store",
                          "publish_out"):
                a, b = other.get(field), spec.get(field)
                if a and b and os.path.normpath(a) == os.path.normpath(b):
                    raise ValueError(
                        f"task {other['name']} already owns {field} {b}"
                    )
            for root_owner, leaf in (
                (other.get("tables_root"), spec.get("table")),
                (spec.get("tables_root"), other.get("table")),
                (other.get("tables_root"), spec.get("tables_root")),
                (spec.get("tables_root"), other.get("tables_root")),
            ):
                if _contains(root_owner, leaf):
                    raise ValueError(
                        f"task {other['name']} conflicts: {leaf} overlaps "
                        f"a subscribed table tree ({root_owner})"
                    )
        # store PATH fields absolute: retention-pin names hash the target
        # path (plans/manifest.py::consumer_pin_name, abspath at call
        # time), so a spec carrying relative paths would mint a DIFFERENT
        # pin name whenever a later verb (delete/--unpin) runs from a
        # different cwd — the pin would silently never release and floor
        # the source's vacuum forever. Absolute-at-create makes every
        # verb cwd-independent.
        path_fields = [
            "table", "tables_root", "checkpoint", "src_table",
            "src_tables_root", "view_store", "publish_out", "history",
            "store", "out",
        ]
        if spec.get("source") != "kafka":  # kafka: 'log' is a topic name
            path_fields.append("log")
        spec = {
            **spec,
            **{
                f: os.path.abspath(spec[f])
                for f in path_fields
                if spec.get(f) and "://" not in str(spec[f])  # URIs as-is
            },
            "name": name,
            "created_ts": time.time(),
        }
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(json.dumps(spec, indent=1))
        os.replace(tmp, path)
        # a task re-created over a KEPT checkpoint must not inherit a stale
        # pause request from the previous owner
        self.clear_pause(spec)
        return spec

    def get(self, name: str) -> dict[str, Any]:
        with open(self._path(name)) as f:
            return json.loads(f.read())

    def delete(self, name: str, drop_checkpoint: bool = False) -> None:
        """Remove the task (signal pause first so a running process
        stops). The TABLE is kept — deleting a replication task must not
        destroy the replicated data (reference delete-task semantics)."""
        spec = self.get(name)
        self.request_pause(name)
        os.remove(self._path(name))
        if drop_checkpoint and spec.get("checkpoint"):
            import shutil

            shutil.rmtree(spec["checkpoint"], ignore_errors=True)
        # a deleted consumer must stop blocking the source's retention:
        # drop the pin(s) its cascade/publish rounds kept advancing
        from milvus_cdc_spark.plans.manifest import SnapshotTable
        from milvus_cdc_spark.streaming.cascade import consumer_pin_name

        if spec.get("src_table"):
            src = SnapshotTable(spec["src_table"])
            if src.exists():
                for target, kind in (
                    (spec.get("table"), "cascade"),
                    (spec.get("publish_out"), "publish"),
                    (spec.get("view_store"), "view"),
                ):
                    if target:
                        src.unpin(consumer_pin_name(target, kind))
        elif spec.get("src_tables_root"):
            # multi-cascade: one pin per replicated source table, each
            # named by its own target root (MultiCascadeTask._pairs)
            for name, root in _walk_tables(spec["src_tables_root"]):
                src = SnapshotTable(root)
                if src.exists():
                    dst_root = os.path.join(
                        spec["tables_root"], *name.split(".")
                    )
                    src.unpin(consumer_pin_name(dst_root, "cascade"))
        # NOTE: when the checkpoint is kept, the sentinel is deliberately
        # left in place so a STILL-RUNNING process stops at its next poll;
        # create() clears any stale sentinel if the checkpoint is re-used.

    def list(self) -> list[dict[str, Any]]:
        out = []
        for fn in sorted(os.listdir(self.tasks_dir)):
            if fn.endswith(".json"):
                with open(os.path.join(self.tasks_dir, fn)) as f:
                    spec = json.loads(f.read())
                spec["status"] = self.status(spec)
                out.append(spec)
        return out

    # -- lifecycle signals (reference pause/resume) ----------------------
    def _sentinel(self, spec_or_name) -> str:
        spec = (
            spec_or_name
            if isinstance(spec_or_name, dict)
            else self.get(spec_or_name)
        )
        return os.path.join(spec["checkpoint"], PAUSE_SENTINEL)

    def request_pause(self, name: str) -> None:
        spec = self.get(name) if isinstance(name, str) else name
        os.makedirs(spec["checkpoint"], exist_ok=True)
        with open(self._sentinel(spec), "w") as f:
            f.write(str(time.time()))

    def clear_pause(self, name: str) -> None:
        try:
            os.remove(self._sentinel(name))
        except FileNotFoundError:
            pass

    def pause_requested(self, spec_or_name) -> bool:
        return os.path.exists(self._sentinel(spec_or_name))

    def position(self, spec_or_name) -> dict[str, Any]:
        """Source-offset → sink-snapshot position report (the reference's
        ``getPosition`` verb, server/cdc_api.go:26-36: task positions =
        consumed MQ offsets per channel). No Spark session: reads a file
        task's WAL ledger (``last_epoch``/``applied_hwm``/
        ``pending_files``) or a Kafka task's streaming commit/offset log,
        the table manifest(s),
        the per-partition lineage parquet, and the newest epoch's
        ``lag_sec`` gauge (reference replicate_tt lag,
        server/metrics/metrics.go:107-137) directly.

        Multi-collection specs (``tables_root``) report one entry per
        replicated table."""
        spec = (
            spec_or_name
            if isinstance(spec_or_name, dict)
            else self.get(spec_or_name)
        )
        def _src_pin(target: str | None, kind: str) -> int | None:
            """The retention pin this consumer holds on its source table
            (Spark-free file read) — lets an operator see from `position`
            which version the source's vacuum is floored at for them."""
            if not target or not spec.get("src_table"):
                return None
            from milvus_cdc_spark.plans.manifest import consumer_pin_name

            p = os.path.join(
                spec["src_table"], "meta", "pins",
                f"{consumer_pin_name(target, kind)}.json",
            )
            if not os.path.exists(p):
                return None
            with open(p) as f:
                return int(json.load(f)["version"])

        out: dict[str, Any] = {"name": spec.get("name")}
        commits_dir = os.path.join(spec["checkpoint"], "commits")
        batches = (
            [int(f) for f in os.listdir(commits_dir) if f.isdigit()]
            if os.path.isdir(commits_dir)
            else []
        )
        if spec.get("log") and spec.get("source") != "kafka":
            # file tasks: the WAL ledger is the source position
            from milvus_cdc_spark.streaming.wal import WalGate

            out.update(
                WalGate(
                    spec["log"],
                    os.path.join(spec["checkpoint"], "wal_ledger.json"),
                ).position()
            )
        elif batches:  # kafka: Spark's commit/offset log
            last = max(batches)
            out["last_committed_batch"] = last
            # offsets/<batch>: line 1 = version, line 2 = batch metadata,
            # line 3+ = one offset JSON per source
            off_path = os.path.join(spec["checkpoint"], "offsets", str(last))
            if os.path.exists(off_path):
                with open(off_path) as f:
                    lines = f.read().strip().splitlines()
                try:
                    out["source_offsets"] = [json.loads(ln) for ln in lines[2:]]
                except json.JSONDecodeError:
                    out["source_offsets"] = lines[2:]
        if spec.get("table"):
            t = self._table_position(spec["table"])
            if t:
                out["table"] = t["table"]
                out.update(
                    {
                        k: t[k]
                        for k in ("applied_end_lsn_per_part", "lag_sec")
                        if k in t
                    }
                )
            if spec.get("src_table"):
                # cascade position: hops commit under the SOURCE version as
                # the target epoch, so last_epoch IS the last replicated
                # source version; versions_behind is the replication lag in
                # source snapshots (the cascade analogue of MQ offset lag)
                src_cur = os.path.join(spec["src_table"], "meta", "CURRENT")
                if os.path.exists(src_cur) and t:
                    with open(src_cur) as f:
                        src_v = int(f.read().strip())
                    pos = t["table"].get("last_epoch") or 0
                    out["src_version"] = src_v
                    out["replicated_src_version"] = pos
                    out["versions_behind"] = max(0, src_v - int(pos))
                pin = _src_pin(spec.get("table"), "cascade")
                if pin is not None:
                    out["retention_pin"] = pin
        elif spec.get("view_store"):
            # view-task position: run_rollup_round's cursor is the last
            # materialized source version; versions_behind is the
            # view-staleness lag in source snapshots. Spark-free.
            cursor = os.path.join(spec["view_store"], "cursor.json")
            pos = 0
            if os.path.exists(cursor):
                with open(cursor) as f:
                    pos = int(json.loads(f.read())["version"])
            out["view_version"] = pos
            src_cur = os.path.join(spec["src_table"], "meta", "CURRENT")
            if os.path.exists(src_cur):
                with open(src_cur) as f:
                    src_v = int(f.read().strip())
                out["src_version"] = src_v
                out["versions_behind"] = max(0, src_v - pos)
            pin = _src_pin(spec.get("view_store"), "view")
            if pin is not None:
                out["retention_pin"] = pin
        elif spec.get("publish_out"):
            # publish-task position: publish_round's cursor is the last
            # published source version; versions_behind is feed staleness
            # in source snapshots. Spark-free.
            cursor = os.path.join(spec["publish_out"], "_cursor.json")
            pos = 0
            if os.path.exists(cursor):
                with open(cursor) as f:
                    pos = int(json.loads(f.read())["version"])
            out["published_version"] = pos
            src_cur = os.path.join(spec["src_table"], "meta", "CURRENT")
            if os.path.exists(src_cur):
                with open(src_cur) as f:
                    src_v = int(f.read().strip())
                out["src_version"] = src_v
                out["versions_behind"] = max(0, src_v - pos)
            pin = _src_pin(spec.get("publish_out"), "publish")
            if pin is not None:
                out["retention_pin"] = pin
        elif spec.get("tables_root"):
            out["tables"] = {}
            for name, root in sorted(_walk_tables(spec["tables_root"])):
                t = self._table_position(root)
                if t:
                    out["tables"][name] = t
            if spec.get("src_tables_root"):
                # multi-cascade: per-table replication lag in source
                # snapshots, driven by the SOURCE tree (a table not yet
                # created on the target is wholly behind)
                worst = 0
                for name, src_root in sorted(
                    _walk_tables(spec["src_tables_root"])
                ):
                    src_cur = os.path.join(src_root, "meta", "CURRENT")
                    if not os.path.exists(src_cur):
                        continue
                    with open(src_cur) as f:
                        src_v = int(f.read().strip())
                    pos = (
                        out["tables"]
                        .get(name, {})
                        .get("table", {})
                        .get("last_epoch")
                        or 0
                    )
                    lag = max(0, src_v - int(pos))
                    worst = max(worst, lag)
                    out["tables"].setdefault(name, {})["versions_behind"] = lag
                    out["tables"][name]["src_version"] = src_v
                out["versions_behind"] = worst
            # task-level lag gauge = the WORST per-table lag (the number a
            # replication dashboard alerts on; reference replicate_tt is
            # likewise per-task, server/metrics/metrics.go:107-137)
            lags = [
                t["lag_sec"] for t in out["tables"].values() if "lag_sec" in t
            ]
            if lags:
                out["lag_sec"] = max(lags)
        return out

    def _table_position(self, root: str) -> dict[str, Any]:
        cur = os.path.join(root, "meta", "CURRENT")
        if not os.path.exists(cur):
            return {}
        with open(cur) as f:
            v = int(f.read().strip())
        with open(os.path.join(root, "meta", f"v{v}.json")) as f:
            m = json.loads(f.read())
        out: dict[str, Any] = {
            "table": {
                "version": v,
                "snapshot_id": m["snapshot_id"],
                "epochs_committed": len(m["epochs"]),
                "last_epoch": m.get("summary", {}).get("last_epoch"),
            }
        }
        lin_dir = os.path.join(root, "lineage")
        if os.path.isdir(lin_dir):
            import pyarrow.dataset as ds

            t = ds.dataset(lin_dir, format="parquet").to_table(
                columns=["part", "end_lsn"]
            )
            from milvus_cdc_spark.streaming.cascade import (
                _DELETE_LSN_OFFSET,
            )

            ends: dict[int, int] = {}
            for part, end in zip(
                t.column("part").to_pylist(), t.column("end_lsn").to_pylist()
            ):
                if end is None:
                    continue
                # tombstones in published feeds / cascades ride with the
                # pre-image lsn offset by 2^62 (cascade.changes_to_ops —
                # feed-internal uniqueness); strip it here or one delete
                # reports a ~4.6e18 position and destroys the operator-
                # facing lsn/lag signal
                end %= _DELETE_LSN_OFFSET
                if part not in ends or end > ends[part]:
                    ends[part] = end
            out["applied_end_lsn_per_part"] = {
                str(k): v for k, v in sorted(ends.items())
            }
        met_dir = os.path.join(root, "metrics")
        if os.path.isdir(met_dir):
            files = sorted(
                (f for f in os.listdir(met_dir) if f.endswith(".parquet")),
                # epoch-<N>.parquet → numeric order, newest epoch last
                key=lambda f: int(f.split("-")[1].split(".")[0]),
            )
            if files:
                import pyarrow.parquet as pq

                t = pq.read_table(os.path.join(met_dir, files[-1]))
                cols = {c: t.column(c).to_pylist() for c in t.column_names}
                if cols.get("lag_sec") and cols["lag_sec"][0] is not None:
                    out["lag_sec"] = cols["lag_sec"][0]
        return out

    def status(self, spec: dict[str, Any]) -> dict[str, Any]:
        st: dict[str, Any] = {"state": "Initial"}
        status_path = os.path.join(spec["checkpoint"], "task_status.json")
        if os.path.exists(status_path):
            with open(status_path) as f:
                persisted = json.loads(f.read())
            st["state"] = persisted.get("persisted_state", "Initial")
            if persisted.get("reason"):
                st["reason"] = persisted["reason"]
        if self.pause_requested(spec):
            st["pause_requested"] = True
        return st
