"""Same-host CDC benchmark: drives the engine from outside and checks it.

    python3 cdcbench/run.py --workload backfill_cow --seed 1 --seconds 12 --trace 0

Workloads (``cdcbench/workloads.py``):

- ``backfill_cow``: a pre-written backlog of a few larger files drained
  closed-loop (``streaming.engine.run_until_drained``) into a
  copy-on-write table in 2 epochs, repeated for ``--seconds``.
- ``patch_cow``: the same shape with 15% OP_PATCH events, drained at a
  smaller trigger cap (4 epochs).
- ``tail_mor``: open loop. Small files land in an empty live changelog dir
  on a fixed schedule while a continuous ``CdcTask`` tails them into a
  merge-on-read table with background folds.

Every final state is compared with ``oracle.replay`` over the same log.
Spark runs as ``local[--cores]`` (default: every core) in this process,
with all data, Spark scratch and temp files under ``.bench_work/`` of the
working directory.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps each
layer's public functions (``cdcbench/tracer.py``), prints the per-layer
breakdown and writes the spans to ``.bench_out/``.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it carries
the host fingerprint and every figure the run computed. The exit code is
non-zero when any operation failed or the final state was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("backfill_cow", "patch_cow", "tail_mor")
SETUP_REPEATS = 5
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "events_per_sec": "events/s",
    "lag_p50_s": "s",
    "lag_p90_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.jvm_launch_s": "s",
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "engine.drain_s": "s",
    "engine.epochs": "count",
    "engine.trigger_overhead_s": "s",
    "engine.drain_tail_s": "s",
    "engine.spark_jobs": "count",
    "wal.self_s": "s",
    "wal.stage_s": "s",
    "wal.stage_calls": "count",
    "wal.groups_s": "s",
    "wal.groups_calls": "count",
    "wal.begin_s": "s",
    "wal.begin_calls": "count",
    "wal.done_s": "s",
    "wal.done_calls": "count",
    "wal.footer_reads": "count",
    "wal.files_per_epoch": "count",
    "wal.ledger_bytes": "bytes",
    "apply.self_s": "s",
    "apply.epoch_s": "s",
    "apply.epoch_p50_s": "s",
    "apply.setup_s": "s",
    "apply.bookkeeping_s": "s",
    "apply.dedup_plan_s": "s",
    "apply.merge_write_s": "s",
    "apply.lsn_gate_wait_s": "s",
    "apply.commit_tail_s": "s",
    "apply.events": "count",
    "apply.touched_buckets": "count",
    "apply.rows_written": "count",
    "apply.rows_written_per_event": "ratio",
    "apply.events_per_busy_s": "events/s",
    "manifest.self_s": "s",
    "manifest.current_calls": "count",
    "manifest.current_s": "s",
    "manifest.commit_s": "s",
    "manifest.commit_calls": "count",
    "manifest.commit_conflicts": "count",
    "manifest.fold_s": "s",
    "manifest.fold_calls": "count",
    "manifest.files_end": "count",
    "manifest.max_delta_chain_end": "count",
    "manifest.bytes_end": "bytes",
    "read.final_s": "s",
    "read.beside_writes_s": "s",
    "load.late_max_s": "s",
    "trace.spans": "count",
    "trace.overhead_s": "s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # an explicit heap makes the JVM the same size on any host
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable


def host_fingerprint(spark) -> dict:
    import pyspark

    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024 if mem_kb else None,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "git_head": git_head(),
    }


def git_head() -> str | None:
    """HEAD of the checkout, read from ``.git`` without running git."""
    g = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(g, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        p = os.path.join(g, ref)
        if os.path.exists(p):
            with open(p) as f:
                return f.read().strip()
        with open(os.path.join(g, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def shutdown(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - already closed
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    sys.path.insert(0, ROOT)
    try:
        from milvus_cdc_spark import session
    except ImportError as e:
        print(f"cdcbench: the milvus_cdc_spark package is not importable: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(session.__file__).startswith(ROOT + os.sep):
        # never time a copy of the engine other than this checkout's
        print(f"cdcbench: milvus_cdc_spark found outside {ROOT}", file=sys.stderr)
        return 2
    isolate(work)

    from cdcbench import tracer as tracing
    from cdcbench import workloads as W

    tracer = tracing.Tracer() if args.trace else None
    uninstall = tracing.install(tracer) if tracer is not None else None
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.log.level": "ERROR",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }

    def get_spark():
        s = session.get_spark(
            "cdcbench", master=f"local[{args.cores}]",
            shuffle_partitions=args.cores, extra_conf=conf,
        )
        s.sparkContext.setLogLevel("ERROR")
        return s

    t = time.perf_counter()
    spark = get_spark()
    jvm_launch_s = time.perf_counter() - t
    host = host_fingerprint(spark)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    run = W.Run(spark, work, args.cores, tracer)
    wl = None
    figures: dict = {}
    try:
        t = time.perf_counter()
        if args.workload == "tail_mor":
            wl = W.Tail(run, args.seed, args.seconds)
        else:
            wl = W.Backlog(run, args.workload, args.seed)
        load_s = time.perf_counter() - t

        # setup: session creation plus task construction, repeated in the
        # same JVM (the first launch is reported apart)
        setups = []
        if tracer is not None:
            tracer.enabled = True
        for _ in range(SETUP_REPEATS):
            spark.stop()
            t = time.perf_counter()
            spark = run.spark = get_spark()
            wl.construct()
            setups.append(time.perf_counter() - t)
        if tracer is not None:
            tracer.enabled = False
            get_spark_s = statistics.median(
                s["end"] - s["start"] for s in tracer.spans if s["name"] == "session.get_spark"
            )

        t = time.perf_counter()
        warm_walls = wl.warmup()
        warmup_s = time.perf_counter() - t
        if tracer is not None:
            tracer.spans.clear()
            tracer.counts.clear()
            tracer.apply_results.clear()

        res = wl.measure(args.seconds, traced=bool(args.trace))
        figures = {
            "setup_s": statistics.median(setups),
            "setup_s_all": setups,
            "jvm_launch_s": jvm_launch_s,
            "warmup_s": warmup_s,
            "warmup_walls": warm_walls,
            "load_and_oracle_s": load_s,
            "drains": len(res["drains"]),
            **{k: v for k, v in res.items() if k not in ("drains", "stats")},
        }
        stats = res.get("stats") or {}
        figures["table_files_end"] = stats.get("n_files")
        figures["max_delta_chain_end"] = stats.get("max_delta_chain")
        figures["peak_rss_mb"] = vm_hwm_mb(jvm_pid)
        if tracer is not None and res["drains"]:
            spans = [d["span"] for d in res["drains"]]
            layers = tracing.breakdown(tracer, spans)
            in_drains = sum(len(tracing.tree(tracer.spans, s["id"])) for s in spans)
            layers.update(
                {
                    "session.jvm_launch_s": jvm_launch_s,
                    "session.get_spark_s": get_spark_s,
                    "session.warmup_s": warmup_s,
                    "wal.ledger_bytes": res["ledger_bytes"],
                    "manifest.files_end": stats.get("n_files", 0),
                    "manifest.max_delta_chain_end": stats.get("max_delta_chain", 0),
                    "manifest.bytes_end": stats.get("bytes", 0),
                    "read.final_s": res["read_final_s"],
                    "read.beside_writes_s": res["read_beside_writes_s"],
                    "load.late_max_s": res["late_max_s"],
                    "trace.spans": in_drains / len(spans),
                    "trace.overhead_s": res.get("trace_overhead_s", 0.0),
                }
            )
            figures["layers"] = layers
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        if wl is not None:
            wl.close()
        if uninstall is not None:
            uninstall()
        shutdown(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    measured = figures.get("drains", 0) > 0
    correct = run.failed == 0 and measured
    if args.trace:
        src, catalogue = figures.get("layers", {}), PER_LAYER
    else:
        src, catalogue = figures, END_TO_END
    metrics = {
        name: {"value": float(src.get(name, 0.0)), "unit": unit}
        for name, unit in catalogue.items()
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": args.cores,
        "host": host,
        "error_rate": run.failed / max(1, run.attempted),
        "errors": run.errors,
        "figures": figures,
    }
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(1, run.attempted),
                "failed": run.failed if measured else max(1, run.failed),
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
