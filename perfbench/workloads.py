"""The benchmark's workloads. One client drives the engine in a closed loop:
it issues the next query (or tick) only when the previous one completed.

A batch pass runs each query of the workload's set once, timing the calls
into each layer from outside:
  registry  ``QUERIES[name](spark, dir)``, including the eager jobs that
            builders run while the plan is built;
  catalyst  ``df._jdf.queryExecution().executedPlan()``;
  executor  a ``noop`` write of the result.
The stream workload feeds ``watch.watch_stream_job`` one NDJSON tick at a
time and times each tick from the file's atomic rename until
``processAllAvailable()`` returns with the tick's rows processed.
"""

from __future__ import annotations

import json
import os
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import gen
import measure
from stream_ref import PriceWatchReference

DASHBOARD = [
    "daily_net_revenue",
    "sales_etl_enrich",
    "seller_dedupe",
    "global_analytics",
    "reprice_proposals",
    "sizing_adult",
    "export_flat",
    "html_sellers_parse",
]

CORPUS = [
    "dedup_clusters",
    "semantic_dedup_keep",
    "docs_logreg_predict",
    "docs_moore_lewis_select",
]

# Snapshot size in copies of the sf0.001 base tables.
DASHBOARD_COPIES = 4
CORPUS_COPIES = 1

# Price-watch tick shape (20k events, the size the stream was first
# prototyped at) and how many ticks make one pass.
VARIANTS = 500
SELLERS = 40
TICKS_PER_PASS = 2
WARMUP_TICKS = 2

# Nominal seconds per pass at 4 cores. A run makes round(seconds / nominal)
# passes, at least one, so every run of a workload does the same work.
NOMINAL_PASS_S = {"dashboard_warm": 5.0, "corpus_cold": 10.0, "price_watch_stream": 5.0}


@dataclass
class Run:
    """What one workload run measured."""

    ops: list[float] = field(default_factory=list)  # per query or tick, s
    passes: list[dict] = field(default_factory=list)  # wall_s, cpu_s, layer sums
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    peak_rss_mb: float = 0.0
    info: dict = field(default_factory=dict)
    # When the first timed op started, and the input-generation seconds
    # spent before it; set-up time is measured up to there.
    first_op_at: float | None = None
    gen_before_first_op_s: float = 0.0

    def start_op(self, c: "Client", t: float) -> None:
        if self.first_op_at is None:
            self.first_op_at = t
            self.gen_before_first_op_s = c.gen_s

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[-2000:])


class Client:
    """The closed-loop client, with optional tracing."""

    def __init__(self, spark, seed: int, work: Path, trace: bool):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.trace = trace
        self.spans = measure.Spans(f"{os.getpid()}-{seed}")
        self.book = measure.StageBook(spark) if trace else None
        # Input generation so far, the stream's reference included (it is
        # fed as each tick is made); excluded from set-up time.
        self.gen_s = 0.0

    def group(self, label: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(label, label)

    def snapshot(self, name: str, seed: int, copies: int) -> Path:
        t = time.time()
        d = self.work / name
        gen.make_snapshot(d, seed, copies)
        self.gen_s += time.time() - t
        return d


# --- batch ------------------------------------------------------------------


def _run_query(c: Client, name: str, sf_dir: Path, pass_span: int | None):
    from kaspi_etl_spark.registry import QUERIES

    t0 = time.time()
    c.group(f"{name}:build")
    df = QUERIES[name](c.spark, str(sf_dir))
    t1 = time.time()
    c.group(f"{name}:optimize")
    df._jdf.queryExecution().executedPlan()
    t2 = time.time()
    c.group(f"{name}:execute")
    df.write.format("noop").mode("overwrite").save()
    t3 = time.time()
    if c.trace:
        q = c.spans.add(name, t0, t3, pass_span, layer="query")
        c.spans.add("registry.build", t0, t1, q, layer="registry", query=name)
        c.spans.add("catalyst.optimize", t1, t2, q, layer="catalyst", query=name)
        c.spans.add("executor.action", t2, t3, q, layer="executor", query=name)
    return df, t3 - t0


def _batch_pass(c: Client, names: list[str], sf_dir: Path, run: Run | None, label: str):
    """One pass over ``names``; returns {name: DataFrame} of the queries
    that ran. ``run`` is None for the warm-up pass, which is not recorded."""
    dfs = {}
    cpu0 = measure.tree_cpu_s()
    t0 = time.time()
    if run is not None:
        run.start_op(c, t0)
    pass_span = c.spans.add(label, t0, t0, layer="pass") if c.trace else None
    for name in names:
        try:
            dfs[name], dt = _run_query(c, name, sf_dir, pass_span)
        except Exception:  # noqa: BLE001 - a failed query is counted, the pass goes on
            if run is None:
                raise
            run.attempted += 1
            run.fail(f"{label}/{name}: {traceback.format_exc()}")
            continue
        if run is not None:
            run.attempted += 1
            run.ops.append(dt)
    t1 = time.time()
    p = {"wall_s": t1 - t0, "cpu_s": measure.tree_cpu_s() - cpu0}
    if c.trace:
        c.spans.items[pass_span]["end"] = t1
        p.update(_batch_layers(c, pass_span))
    if run is not None:
        run.passes.append(p)
    return dfs


# Metric-name prefix for the jobs of each phase, by job-group suffix and by
# the layer of the span a job was submitted in.
PHASE_PREFIX = {"build": "registry.build_", "optimize": "catalyst.optimize_",
                "execute": "executor."}
LAYER_PHASE = {"registry": "build", "catalyst": "optimize", "executor": "execute"}
STAGE_KEYS = ("stages", "tasks", "cpu_s", "run_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
BATCH_JOB_METRICS = (
    [f"registry.build_{k}" for k in ("jobs", "stages", "tasks", "cpu_s")]
    + ["executor.jobs"] + [f"executor.{k}" for k in STAGE_KEYS]
)


def _phase_of(spans: list[dict], job: dict) -> tuple[str, str] | None:
    """(query, phase) of a job: from its job group, or, for jobs that
    builder threads submitted without the group, from the span whose
    interval holds the job's submission time."""
    group = job["group"] or ""
    if ":" in group:
        query, phase = group.rsplit(":", 1)
        return query, phase
    for s in spans:
        if s.get("query") and s["start"] <= job["submitted"] <= s["end"]:
            return s["query"], LAYER_PHASE[s["layer"]]
    return None


def _batch_layers(c: Client, pass_span: int) -> dict:
    """Per-layer sums of one pass; per-query detail goes on the query spans."""
    spans = c.spans.items[pass_span + 1:]
    out = {f"{layer}_s": sum(s["end"] - s["start"] for s in spans if s["name"] == layer)
           for layer in ("registry.build", "catalyst.optimize", "executor.action")}
    per_query: dict[str, dict] = {}
    for job in c.book.new_jobs():
        where = _phase_of(spans, job)
        if where is None:
            continue
        query, phase = where
        prefix = PHASE_PREFIX[phase]
        acc = per_query.setdefault(query, {})
        acc[prefix + "jobs"] = acc.get(prefix + "jobs", 0) + 1
        for k in STAGE_KEYS:
            acc[prefix + k] = acc.get(prefix + k, 0) + job[k]
    for s in spans:
        if s["layer"] == "query":
            s["stage_metrics"] = per_query.get(s["name"], {})
    for key in BATCH_JOB_METRICS:
        out[key] = sum(m.get(key, 0) for m in per_query.values())
    out["executor.wait_s"] = out["executor.run_s"] - out["executor.cpu_s"]
    return out


def _check(c: Client, run: Run, dfs: dict, sf_dir: Path, label: str) -> None:
    """Compare each result with its DuckDB oracle over the same snapshot."""
    from check_oracle import compare, duck_con

    t0 = time.time()
    con = duck_con(str(sf_dir))
    try:
        for name, df in dfs.items():
            try:
                r = compare(name, df, con)
            except Exception:  # noqa: BLE001 - an unreadable result is a failed check
                run.fail(f"check {label}/{name}: {traceback.format_exc()}")
                continue
            run.info.setdefault("checked", 0)
            run.info["checked"] += 1
            if r["status"] != "OK":
                run.fail(f"check {label}/{name}: {r}")
            run.info.setdefault("check_s", {})[name] = r.get("spark_sec", 0) + r.get("duck_sec", 0)
    finally:
        con.close()
        run.info["check_total_s"] = run.info.get("check_total_s", 0) + time.time() - t0


def _by_command(by_pid: dict[int, float]) -> dict[str, float]:
    """Peak RSS split by process name (java, python3, ...)."""
    out: dict[str, float] = {}
    for pid, mb in by_pid.items():
        try:
            name = Path(f"/proc/{pid}/comm").read_text().strip()
        except OSError:
            name = "?"
        out[name] = round(out.get(name, 0) + mb, 1)
    return out


def passes_for(workload: str, seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_PASS_S[workload]))


def dashboard_warm(c: Client, seconds: float) -> Run:
    """Repeated passes over one snapshot: every scan and plan cache hits."""
    run = Run()
    sf = c.snapshot("dashboard", c.seed, DASHBOARD_COPIES)
    t = time.time()
    _batch_pass(c, DASHBOARD, sf, None, "warmup")
    run.info["warmup_s"] = time.time() - t
    with measure.RssSampler() as rss:
        for i in range(passes_for("dashboard_warm", seconds)):
            dfs = _batch_pass(c, DASHBOARD, sf, run, f"pass{i}")
    run.peak_rss_mb = rss.peak_mb
    run.info["peak_rss_by_pid_mb"] = _by_command(rss.peak_by_pid)
    # Every pass reads the same snapshot; the last pass's results are checked.
    _check(c, run, dfs, sf, f"pass{len(run.passes) - 1}")
    return run


def corpus_cold(c: Client, seconds: float) -> Run:
    """Each pass reads a new snapshot directory: every path-keyed cache
    misses and inserts."""
    run = Run()
    t = time.time()
    _batch_pass(c, CORPUS, c.snapshot("corpus-warmup", c.seed * 1000 + 999, CORPUS_COPIES),
                None, "warmup")
    run.info["warmup_s"] = time.time() - t
    results = []
    with measure.RssSampler() as rss:
        for i in range(passes_for("corpus_cold", seconds)):
            sf = c.snapshot(f"corpus-{i}", c.seed * 1000 + i, CORPUS_COPIES)
            results.append((sf, _batch_pass(c, CORPUS, sf, run, f"pass{i}")))
    run.peak_rss_mb = rss.peak_mb
    run.info["peak_rss_by_pid_mb"] = _by_command(rss.peak_by_pid)
    for i, (sf, dfs) in enumerate(results):
        _check(c, run, dfs, sf, f"pass{i}")
    return run


# --- stream -----------------------------------------------------------------


def _progress_after(query, batch_id: int) -> list[dict]:
    return [p for p in query.recentProgress if p["batchId"] > batch_id]


def _read_sink(sink: Path) -> list[tuple]:
    from datetime import datetime

    rows = []
    for part in sorted(sink.glob("part-*")):
        with open(part) as f:
            for line in f:
                r = json.loads(line)
                ts = int(datetime.fromisoformat(r["ts"].replace("Z", "+00:00")).timestamp())
                rows.append((r["variantId"], r["seller"], ts, r["price"], r["isPriceBot"]))
    return rows


def price_watch_stream(c: Client, seconds: float) -> Run:
    """Fixed-size ticks into the price-watch stream, one tick in flight."""
    from kaspi_etl_spark.streaming import watch

    run = Run()
    src, staging, sink, ckpt = (c.work / d for d in ("src", "staging", "sink", "ckpt"))
    src.mkdir()
    staging.mkdir()
    t0 = time.time()
    query = watch.watch_stream_job(c.spark, str(src), str(sink), str(ckpt),
                                   trigger_seconds=0).queryName("price_watch").start()
    run.info["stream_start_s"] = time.time() - t0
    if c.trace:
        c.spans.add("registry.build", t0, time.time(), layer="registry", query="price_watch")
    ref = PriceWatchReference()
    expected: list[tuple] = []
    last_batch = -1
    tick = 0

    def prepare() -> tuple[Path, int]:
        """Write the next tick to the staging directory and feed it to the
        reference; done before a pass, so no pass times it."""
        nonlocal tick
        t = time.time()
        rows = gen.tick_rows(c.seed, tick, VARIANTS, SELLERS)
        path = staging / f"tick-{tick:06d}.json"
        gen.write_tick(path, rows)
        expected.extend(ref.tick(rows))
        c.gen_s += time.time() - t
        tick += 1
        return path, len(rows)

    def feed(path: Path, n_rows: int, measured: bool) -> tuple[float, list[dict]]:
        nonlocal last_batch
        t = time.time()
        if measured:
            run.start_op(c, t)
        os.rename(path, src / path.name)
        progress: list[dict] = []
        while sum(p["numInputRows"] for p in progress) < n_rows:
            query.processAllAvailable()
            progress = _progress_after(query, last_batch)
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
        dt = time.time() - t
        if c.trace:
            c.spans.add(path.stem, t, t + dt, layer="tick", batches=[
                {"batchId": p["batchId"], "numInputRows": p["numInputRows"],
                 "durationMs": dict(p["durationMs"])} for p in progress])
        last_batch = progress[-1]["batchId"]
        return dt, progress

    try:
        t = time.time()
        for _ in range(WARMUP_TICKS):
            feed(*prepare(), measured=False)
        run.info["warmup_s"] = time.time() - t
        if c.trace:
            c.book.new_jobs()  # set-up and warm-up jobs are not booked to a pass
        with measure.RssSampler() as rss:
            for _ in range(passes_for("price_watch_stream", seconds)):
                ticks = [prepare() for _ in range(TICKS_PER_PASS)]
                cpu0 = measure.tree_cpu_s()
                p0 = time.time()
                progress = []
                for path, n_rows in ticks:
                    run.attempted += 1
                    dt, prog = feed(path, n_rows, measured=True)
                    run.ops.append(dt)
                    progress.extend(prog)
                p1 = time.time()
                p = {"wall_s": p1 - p0, "cpu_s": measure.tree_cpu_s() - cpu0}
                if c.trace:
                    p.update(_stream_layers(c, query, progress))
                    p["registry.build_s"] = run.info["stream_start_s"]
                run.passes.append(p)
        run.peak_rss_mb = rss.peak_mb
        run.info["peak_rss_by_pid_mb"] = _by_command(rss.peak_by_pid)
    finally:
        query.stop()
    got = _read_sink(sink)
    run.info["stream_rows"] = len(got)
    run.info["tick_events"] = VARIANTS * SELLERS
    if sorted(got) != sorted(expected):
        missing = len(set(expected) - set(got))
        run.fail(f"stream flags differ from the reference: {len(got)} rows vs "
                 f"{len(expected)} expected, {missing} expected rows not produced")
    return run


def _stream_layers(c: Client, query, progress: list[dict]) -> dict:
    def dur(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in progress) / 1e3

    state = [op for p in progress[-1:] for op in p["stateOperators"]]
    run_id = str(query.runId)
    jobs = [j for j in c.book.new_jobs() if j["group"] == run_id]
    out = {
        "streaming.trigger_s": dur("triggerExecution"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.planning_s": dur("queryPlanning"),
        "streaming.wal_commit_s": dur("walCommit") + dur("commitOffsets"),
        "streaming.input_rows": sum(p["numInputRows"] for p in progress),
        "streaming.state_rows": sum(op["numRowsTotal"] for op in state),
        "streaming.state_bytes": sum(op["memoryUsedBytes"] for op in state),
        "catalyst.optimize_s": dur("queryPlanning"),
        "executor.action_s": dur("addBatch"),
        "executor.jobs": len(jobs),
    }
    for k in STAGE_KEYS:
        out[f"executor.{k}"] = sum(j[k] for j in jobs)
    out["executor.wait_s"] = out["executor.run_s"] - out["executor.cpu_s"]
    return out


WORKLOADS = {
    "dashboard_warm": dashboard_warm,
    "corpus_cold": corpus_cold,
    "price_watch_stream": price_watch_stream,
}
