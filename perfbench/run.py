"""Per-change benchmark of the engine: two workloads, the reference
system's nightly batch job and its tick stream. See perfbench/README.md.

    python3 perfbench/run.py --workload tick_stream --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --write-spec      # regenerate BENCHMARK.json

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). Everything else, the engine's
own prints included, goes to stderr. A fuller record of each run is
written to ``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")  # everything a run writes
RUN_SECONDS = 10

WORKLOADS = [
    {
        "name": "nightly_batch",
        "why": "one cold-JVM nightly pass: GBT feature/fit/score job, graph, "
        "FP-growth and MinHash operators; bound by jobs and materialization",
    },
    {
        "name": "tick_stream",
        "why": "open-loop tick files through dedup, alerts and a partitioned parquet "
        "upsert, then a backlog drain; the only user of streaming and the sinks",
    },
]
# Timing bounds sit at the 0.25 ceiling: identical runs on this class of
# shared host drift by up to 2.4x between quiet and busy periods.
END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "p50_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "p90_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "ops_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
    {"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "retained_mb", "unit": "MB", "better": "lower", "bound": 0.1},
]

PER_LAYER = [
    ("peak_rss_mb", "MB", "lower"),
    ("session.start_s", "s", "lower"),
    ("session.jvm_start_s", "s", "lower"),
    ("sources.load_table_s", "s", "lower"),
    ("sources.load_table_calls", "count", "lower"),
    ("queries.build_s", "s", "lower"),
    ("serving.to_json_s", "s", "lower"),
    ("operators.graph_s", "s", "lower"),
    ("operators.dedup_s", "s", "lower"),
    ("operators.similarity_s", "s", "lower"),
    ("ml.features_s", "s", "lower"),
    ("ml.fit_s", "s", "lower"),
    ("ml.score_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.action_s", "s", "lower"),
    ("spark.task_run_s", "s", "lower"),
    ("spark.task_cpu_s", "s", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.driver_gap_s", "s", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.batch_s", "s", "lower"),
    ("streaming.plan_s", "s", "lower"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.commit_s", "s", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_bytes", "bytes", "lower"),
    ("streaming.late_rows_dropped", "count", "lower"),
    ("streaming.backlog_files", "count", "lower"),
    ("sinks.merge_upsert_s", "s", "lower"),
    ("sinks.rows_written", "count", "lower"),
    ("sinks.files_written", "count", "lower"),
    ("generator.late_max_s", "s", "lower"),
    ("self.session_s", "s", "lower"),
    ("self.sources_s", "s", "lower"),
    ("self.queries_s", "s", "lower"),
    ("self.operators_s", "s", "lower"),
    ("self.ml_s", "s", "lower"),
    ("self.serving_s", "s", "lower"),
    ("self.streaming_s", "s", "lower"),
    ("trace.overhead_pct", "%", "lower"),
    ("fail_ratio", "ratio", "lower"),
]


def spec() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": WORKLOADS,
        "end_to_end": END_TO_END,
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


def _cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal (clock ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _env_record() -> dict:
    import platform
    import subprocess

    def _cmd(*argv):
        try:
            env = os.environ | {"GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)}
            p = subprocess.run(argv, capture_output=True, text=True, timeout=10, cwd=ROOT, env=env)
        except (OSError, subprocess.SubprocessError):
            return None
        if p.returncode:
            return None
        return (p.stdout or p.stderr).strip() or None  # java -version writes to stderr

    java = _cmd("java", "-version")
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "java": java.splitlines()[0] if java else None,
        "git_commit": _cmd("git", "rev-parse", "HEAD"),
    }


def _stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait until it exits."""
    mod = sys.modules.get("pyspark")
    gw = mod and mod.SparkContext._gateway
    if not gw:
        return
    import subprocess

    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - still stop the process below
        traceback.print_exc()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[w["name"] for w in WORKLOADS])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-spec", action="store_true", help="write BENCHMARK.json and exit")
    args = ap.parse_args(argv)
    if args.write_spec:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            json.dump(spec(), f, indent=2)
            f.write("\n")
        return 0
    if not args.workload:
        ap.error("--workload is required")

    # Stdout carries exactly one line: the result. Point fd 1 (which the
    # JVM inherits) and sys.stdout at stderr, keep a private handle on the
    # real stdout.
    out_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    # The engine prints SPARK_GRAFT_CONF overrides and applies them to the
    # session; clear it so every run measures the default profile.
    conf_override = os.environ.pop("SPARK_GRAFT_CONF", None)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # Spark's local dirs, the JVM's and Python's temp files: all in .work
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    try:
        import workloads

        t0 = time.time()
        ticks0 = _cpu_ticks()
        res = workloads.run(args, WORK)
    except Exception:  # noqa: BLE001 - any failure means: no result line
        traceback.print_exc()
        return 1
    finally:
        _stop_jvm()

    if args.trace:
        names = [n for n, _, _ in PER_LAYER]
        for n in names:  # a layer the workload never calls did no work
            res.metrics.setdefault(n, 0.0)
    else:
        names = [m["name"] for m in END_TO_END]
    # CPU time the hypervisor gave to other guests during the run: the
    # main cause of drift between identical runs on a shared host
    dt_ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    res.env["cpu_steal_pct"] = 100.0 * dt_ticks[7] / max(1, sum(dt_ticks))
    units = {m["name"]: m["unit"] for m in END_TO_END} | {n: u for n, u, _ in PER_LAYER}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "wall_s": time.time() - t0,
        "SPARK_GRAFT_CONF_cleared": conf_override,
        "env": _env_record() | res.env,
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "failures": res.failures,
        "metrics": res.metrics,
        "detail": res.detail,
    }
    os.makedirs(res.results_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t0)}"
    with open(os.path.join(res.results_dir, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if res.tracer is not None:
        res.tracer.dump(os.path.join(res.results_dir, stem + ".spans.jsonl"))
    for n in names:
        print(f"[bench] {n} = {res.metrics[n]:.6g} {units[n]}", file=sys.stderr)
    line = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": res.metrics[n], "unit": units[n]} for n in names},
    }
    os.write(out_fd, (json.dumps(line) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
