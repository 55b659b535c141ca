"""Hot-key skew evidence for the north rule's "salted repartitioning for
hot-conversation skew": the SAME drain (same event count, same engine
path, same parallelism) over three changelogs whose only difference is
key concentration — uniform (hot_pct=0), the standard bench shape
(hot_pct=20, 3 hot convs), and adversarial (hot_pct=80 on 2 hot convs,
i.e. 80% of all events hammer two conversations and therefore TWO
(_bucket, _wsalt) write groups).

What keeps the adversarial case flat is structural, and this artifact is
the measurement that it works:
  - dedup is a HashAggregate on (conv_id, turn_idx) with map-side
    partial combine — a million duplicate events for one key reduce to
    one row per map task before the shuffle, so the reduce side sees
    O(#map_tasks), not O(#events);
  - AQE skew-join splitting is on (session.py) for the merge join.

Protocol matches scripts/bench_scaling.py: fresh subprocess JVM per
(config, rep), 1M-event warmup drain inside it, tmpfs work dir,
min-of-reps, JVM CPU telemetry. Per-config final row counts differ by
design (different logs); each config's drain is the engine path whose
correctness is pinned by the fuzz suites (test_fuzz_differential.py
randomizes skew among other knobs).

Usage: python scripts/bench_skew.py [--events 12000000] [--cpus 16]
       [--reps 2]
Prints ONE JSON line and writes SKEW.json at the repo root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WARMUP_EVENTS = 1_000_000

CONFIGS = {
    "uniform": {"hot_pct": 0, "n_hot": 1},
    "hot20": {"hot_pct": 20, "n_hot": 3},
    "hot80": {"hot_pct": 80, "n_hot": 2},
}


def _gen(spark, n_events: int, out_dir: str, hot_pct: int, n_hot: int) -> None:
    from milvus_cdc_spark.sources import generate_changelog, write_changelog

    write_changelog(
        generate_changelog(
            spark,
            n_events,
            n_parts=32,
            n_convs=max(200, n_events // 500),
            turns_per_conv=50,
            hot_pct=hot_pct,
            n_hot=n_hot,
        ),
        out_dir,
        n_files=16,
    )


def drain_subprocess(cpus: int, work: str, tag: str, log_dir: str) -> dict:
    r = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--_drain", str(cpus),
         work, tag, log_dir],
        capture_output=True,
        text=True,
        timeout=1800,
    )
    for line in reversed(r.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(
        f"drain subprocess failed (rc={r.returncode}):\n"
        f"{r.stdout[-2000:]}\n{r.stderr[-2000:]}"
    )


def _drain_main(cpus: int, work: str, tag: str, log_dir: str) -> None:
    os.environ.setdefault("SPARK_DRIVER_MEM", "16g")
    from milvus_cdc_spark.session import get_spark
    from milvus_cdc_spark.streaming.engine import run_until_drained

    spark = get_spark(
        f"skew-{tag}",
        master=f"local[{cpus}]",
        shuffle_partitions=4 * cpus,
        extra_conf={"spark.local.dir": os.path.join(work, f"spark-local-{tag}")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    run_until_drained(
        spark,
        os.path.join(work, "warmup_log"),
        os.path.join(work, f"wtable_{tag}"),
        os.path.join(work, f"wckpt_{tag}"),
        max_files_per_trigger=8,
        n_buckets=16,
    )
    t0 = time.time()
    task = run_until_drained(
        spark,
        log_dir,
        os.path.join(work, f"table_{tag}"),
        os.path.join(work, f"ckpt_{tag}"),
        max_files_per_trigger=8,
        n_buckets=16,
    )
    sec = time.time() - t0
    rows = task.table.read(spark).count()
    epochs = len(task.table.current().epochs)
    spark.stop()
    for d in (f"wtable_{tag}", f"wckpt_{tag}", f"table_{tag}", f"ckpt_{tag}",
              f"spark-local-{tag}"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({"sec": round(sec, 2), "rows": rows, "epochs": epochs}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=12_000_000)
    ap.add_argument("--cpus", type=int, default=16)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--_drain", nargs=4, metavar=("CPUS", "WORK", "TAG", "LOG"))
    args = ap.parse_args()

    if args._drain:
        _drain_main(int(args._drain[0]), args._drain[1], args._drain[2],
                    args._drain[3])
        return

    base = os.environ.get(
        "SCALING_WORK_DIR", "/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    work = tempfile.mkdtemp(prefix="cdc_skew_", dir=base)

    from milvus_cdc_spark.session import get_spark

    spark = get_spark("skew-gen", master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    for name, cfg in CONFIGS.items():
        _gen(spark, args.events, os.path.join(work, f"log_{name}"), **cfg)
    _gen(spark, WARMUP_EVENTS, os.path.join(work, "warmup_log"),
         hot_pct=20, n_hot=3)
    spark.stop()

    best: dict[str, dict] = {}
    runs: list[dict] = []
    try:
        for rep in range(args.reps):
            for name in CONFIGS:
                r = drain_subprocess(
                    args.cpus, work, f"{name}_r{rep}",
                    os.path.join(work, f"log_{name}"),
                )
                r.update({"config": name, "rep": rep})
                runs.append(r)
                if name not in best or r["sec"] < best[name]["sec"]:
                    best[name] = r
                print(
                    f"  {name} rep{rep}: {r['sec']:.1f}s "
                    f"({args.events / r['sec']:.0f} ev/s, "
                    f"{r['rows']} final rows)",
                    file=sys.stderr,
                )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    tput = {n: round(args.events / best[n]["sec"], 1) for n in CONFIGS}
    out = {
        "metric": "cdc_apply_skew_resilience",
        "value": round(tput["hot80"] / tput["uniform"], 3),
        "unit": "hot80_vs_uniform_throughput_ratio",
        "n_events": args.events,
        "cpus": args.cpus,
        "configs": {
            n: {
                "hot_pct": CONFIGS[n]["hot_pct"],
                "n_hot": CONFIGS[n]["n_hot"],
                "sec": best[n]["sec"],
                "events_per_sec": tput[n],
                "final_rows": best[n]["rows"],
            }
            for n in CONFIGS
        },
        "runs": runs,
    }
    print(json.dumps(out))
    with open(os.path.join(REPO, "SKEW.json"), "w") as f:
        json.dump(out, f, indent=2)


if __name__ == "__main__":
    main()
