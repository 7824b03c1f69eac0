"""Benchmark launcher: pins the environment, sets up the engine's session,
runs one workload, checks its outputs and prints one JSON line of metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload dashboard_warm --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on the
Spark status API, job groups and spans, prints the per-layer metrics and
writes the spans to ``.perfbench/traces/``. Exits non-zero without a
metrics line if the engine is missing or the run raises; exits non-zero
after a metrics line with ``"correct": false`` if an operation failed or an
output differs from its reference.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from statistics import median
from pathlib import Path

T_PROCESS = time.time()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench"
DEADLINE_S = 140  # the whole run, set-up and checks included; teardown follows


def pin_environment(work: Path) -> dict:
    """Environment for the engine, its JVM and its Python workers."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # A quarter of the host, at most 2 GiB: the inputs are small.
        "SPARK_GRAFT_DRIVER_MEM": f"{min(2048, total_mb // 4)}m",
        "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "TMPDIR": str(work / "tmp"),
        # Every JVM, spark-submit's launcher included: temp files in the
        # run's directory, and no /tmp/hsperfdata_* file.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        # Python workers import the package (html_sellers_parse's UDF).
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    }
    (work / "tmp").mkdir(parents=True)
    os.environ.update(env)
    return env


def session_conf(trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # As bench.py: passes must not evict each other's generated code.
        "spark.sql.codegen.cache.maxEntries": "100000",
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        })
    return conf


def set_up(conf: dict) -> tuple[object, float]:
    """Start the session, JVM launch included: (spark, seconds)."""
    from kaspi_etl_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench", extra_conf=conf)
    return spark, time.time() - t0


def stop_engine(spark) -> None:
    """Stop the session and the JVM, and wait for every process this run
    started to end."""
    import measure
    from pyspark import SparkContext

    pids = [p for p in measure.tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    end = time.time() + 30
    while time.time() < end:
        alive = [p for p in pids if measure.alive(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def git_head() -> str | None:
    try:
        return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "kaspi_etl_spark" / "__init__.py").is_file() or not (
        ROOT / "tools" / "check_oracle.py"
    ).is_file():
        print(f"perfbench: no engine at {ROOT} (kaspi_etl_spark/, tools/check_oracle.py)",
              file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)

    sys.path[:0] = [str(ROOT), str(ROOT / "tools")]
    import workloads
    from measure import tail

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    work = OUT / "work" / f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}"
    env = pin_environment(work)
    conf = session_conf(trace)
    spark = None
    try:
        spark, session_s = set_up(conf)
        client = workloads.Client(spark, args.seed, work, trace)
        run = workloads.WORKLOADS[args.workload](client, args.seconds)
        # Process start to the first timed op: session start, the
        # workload's start and its warm-up; input generation excluded.
        setup_s = run.first_op_at - T_PROCESS - run.gen_before_first_op_s
        info = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "git": git_head(), "cpus": int(env["SPARK_GRAFT_CPUS"]),
            "defaultParallelism": spark.sparkContext.defaultParallelism,
            "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
            "n_queries": {"dashboard_warm": len(workloads.DASHBOARD),
                          "corpus_cold": len(workloads.CORPUS)}.get(args.workload, 0),
            "gen_before_first_op_s": run.gen_before_first_op_s,
            "passes": len(run.passes), "ops": len(run.ops),
            **run.info,
        }
        if trace:
            selfs = client.spans.self_times()
            queries = [q for q in client.spans.items if q["layer"] == "query"]
            # Share of each query's wall time outside its layer spans.
            info["max_unaccounted_share"] = max(
                (selfs[q["id"]] / (q["end"] - q["start"]) for q in queries), default=0.0)
            OUT.joinpath("traces").mkdir(parents=True, exist_ok=True)
            trace_path = OUT / "traces" / f"{args.workload}-seed{args.seed}.json"
            client.spans.dump(str(trace_path), info=info, passes=run.passes)
            info["trace_file"] = str(trace_path.relative_to(ROOT))
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)

    for e in run.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    if not run.ops or not run.passes:
        print("perfbench: nothing was measured", file=sys.stderr)
        return 1
    tail_pct, tail_s = tail(run.ops)
    info["op_tail"] = {"percentile": round(tail_pct, 2), "samples": len(run.ops)}
    e2e = {
        "setup_s": (setup_s, "s"),
        "refresh_s": (median([p["wall_s"] for p in run.passes]), "s"),
        "op_p50_s": (median(run.ops), "s"),
        "op_tail_s": (tail_s, "s"),
        "cpu_s": (median([p["cpu_s"] for p in run.passes]), "CPU-s"),
        "peak_rss_mb": (run.peak_rss_mb, "MB"),
    }
    layers = {"session.start_s": (session_s, "s")}
    if trace:
        for k in PER_LAYER[1:]:
            layers[k] = (median([p.get(k, 0) for p in run.passes]), _unit(k))
    metrics = e2e if not trace else layers
    result_dir = OUT / "results"
    result_dir.mkdir(parents=True, exist_ok=True)
    result = {"info": info, "end_to_end": {k: v for k, (v, _) in e2e.items()},
              "per_layer": {k: v for k, (v, _) in layers.items()},
              "attempted": run.attempted, "failed": run.failed}
    untraced = result_dir / f"{args.workload}-seed{args.seed}-trace0.json"
    if trace and untraced.exists():
        base = json.loads(untraced.read_text())["end_to_end"]["refresh_s"]
        info["trace_overhead"] = e2e["refresh_s"][0] / base - 1
    (result_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(result, indent=1))
    print("perfbench: " + json.dumps(info), flush=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if run.failed == 0 else 1


PER_LAYER = [
    "session.start_s",
    "registry.build_s", "registry.build_jobs", "registry.build_stages",
    "registry.build_tasks", "registry.build_cpu_s",
    "catalyst.optimize_s",
    "executor.action_s", "executor.jobs", "executor.stages", "executor.tasks",
    "executor.cpu_s", "executor.run_s", "executor.wait_s", "executor.gc_s",
    "executor.shuffle_read_bytes", "executor.shuffle_write_bytes", "executor.spill_bytes",
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.planning_s",
    "streaming.wal_commit_s", "streaming.input_rows", "streaming.state_rows",
    "streaming.state_bytes",
]


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
