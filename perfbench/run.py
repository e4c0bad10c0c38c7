#!/usr/bin/env python3
"""Benchmark one workload of the engine in one fresh process.

Run from the repository root::

    python3 perfbench/run.py --workload suite_mix --seed 1 --seconds 8 --trace 0

A run has three phases:

1. Set-up: generate the fixture tables from ``--seed`` (untimed), then
   start the SparkSession on ``local[nproc]``, run the warm-up query and
   load every fixture table once through ``sources.registry.load_table``
   (listing and footer read; no rows).
   The set-up is repeated (the later ones restart the session on the
   live JVM) and ``setup_s`` is their median.
2. Passes: one closed-loop client runs the workload's operations one at
   a time.  The seed sets the operation order of every pass (and, for
   ``asset_etl``, the sequence of cycle ``now`` values).  The first pass
   is measured on its own; warm passes follow for ``--seconds`` (at
   least one).
3. Checks, outside the timed region: every operation's output is
   compared with its DuckDB ``oracle_sql()`` twin.

With ``--trace 0`` the last stdout line reports the end-to-end metrics
named in ``BENCHMARK.json``.  Their times are CPU seconds (user + system)
of this process, the Spark driver JVM and its Python workers: on a
shared 4-core host whose CPU steal varied from 1% to 20% between runs,
wall times of whole runs spread by up to 43% (quartile distance over
median, ten seeds) and CPU seconds by at most 23%.  ``setup_s`` is the
CPU time of one set-up.  ``retained_mb`` is the Spark driver JVM heap
still live after a full collection plus the Python driver's peak RSS
(the JVM's own peak RSS follows G1's heap sizing and spread 25%).  The
figures a user sees directly (wall set-up, first and warm pass,
per-operation p50, peak RSS) are printed in the summary line and, as
``wall.*``, in the traced ledger.

With ``--trace 1`` every pass is traced (job groups, spans, a streaming
listener) and the line reports the per-layer ledger instead; its
``wall.warm_pass_s`` minus the untraced ``warm_pass_s`` is the tracing
overhead.  The line before the result is a human-readable summary: host
stamp (cores, RAM, heap, max load1, CPU steal %), failure share
(``failed_frac``), sample counts, all end-to-end figures, per-phase and
per-operation times.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
MIN_WARM = 1
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from workloads import WORKLOADS, Ctx, cycle_nows, pass_order  # noqa: E402


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ---------------------------------------------------------------------------
# Host-sized launch
# ---------------------------------------------------------------------------

def host_env(work: str) -> dict:
    """Size the engine to this host and keep every file it writes under
    ``work``; returns the host stamp."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    heap_mb = max(1024, min(8192, mem_kb // 1024 // 8))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        # Python workers are spawned by the JVM and import the engine too
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_GRAFT_PURE_DECODE": "1",
        "TMPDIR": tmp,
        # every JVM the launch starts (spark-submit's launcher too)
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    })
    return {"cores": cores, "ram_mb": mem_kb // 1024, "heap_mb": heap_mb}


def spark_conf(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the ledger reads every job and stage of the run back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def cpu_times() -> tuple[float, float]:
    with open("/proc/stat") as fh:
        f = [float(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7] if len(f) > 7 else 0.0


def tree_cpu_s(root: int = os.getpid()) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by ``root`` and every live descendant: this process, the Spark JVM
    and its Python workers.  Time the hypervisor steals from the host is
    not in it, unlike wall time."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed
            continue
        f = stat[stat.rindex(")") + 2:].split()
        parent[int(d)] = int(f[1])
        ticks[int(d)] = sum(int(x) for x in f[11:15])
    tree, frontier = {root}, [root]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier and p not in tree]
        tree.update(kids)
        frontier = kids
    return sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# Phases
# ---------------------------------------------------------------------------

def set_up(data_dir: str, conf: dict, t0: float, c0: float) -> tuple[object, dict]:
    """Start (or restart) the session, warm it and load every table (the
    file listing and parquet footer read; rows are first scanned by the
    first pass)."""
    from elastic_asset_etl_poc_spark.session import get_spark
    from elastic_asset_etl_poc_spark.sources.registry import TABLES, load_table

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t1 = time.time()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    t2 = time.time()
    for t in TABLES:
        load_table(spark, data_dir, t)
    t3 = time.time()
    return spark, {"start": t1 - t0, "warmup": t2 - t1, "scan": t3 - t2, "total": t3 - t0,
                   "cpu": tree_cpu_s() - c0}


class Runner:
    """Runs passes; keeps timings, raw outputs and (when tracing) spans."""

    def __init__(self, spark, wl, data_dir, store_dir, seed, run_id, tracer):
        self.spark, self.wl = spark, wl
        self.data_dir, self.store_dir = data_dir, store_dir
        self.rng = random.Random(seed)
        self.run_id = run_id
        self.tracer = tracer
        self.passes: list[dict] = []  # {no, wall, start, end, now, ops: [...]}
        self.store_snapshots: list[list[tuple]] = []
        self.load_max = os.getloadavg()[0]
        self.listener = None
        if tracer is not None:
            from ledger import make_stream_listener

            self.listener = make_stream_listener()
            spark.streams.addListener(self.listener)

    def run(self, seconds: float, nows: list) -> None:
        """The first pass, then warm passes for ``seconds`` (at least
        ``MIN_WARM``): another one starts while at least half of it is
        predicted to fit."""
        p = 0
        t_warm = last = 0.0
        while p <= MIN_WARM or (
            p < len(nows) and (time.time() - t_warm) + last / 2 <= seconds
        ):
            if p == 1:
                t_warm = time.time()
            rec = self.one_pass(p, nows[p])
            self.passes.append(rec)
            last = rec["wall"]
            self.spark.catalog.clearCache()
            if self.wl.writes:
                self.store_snapshots.append(self.snapshot_store())
            p += 1

    def one_pass(self, p: int, now) -> dict:
        sc = self.spark.sparkContext
        traced = self.tracer is not None
        ctx = Ctx(self.spark, self.data_dir, self.store_dir, now, {})
        ops = []
        cpu_start = tree_cpu_s()
        start = time.time()
        for op in pass_order(self.wl.ops, self.rng):
            tid = f"{self.run_id}/{p}/{op.name}"
            if traced:
                sc.setJobGroup(tid, op.name, False)
            err = out = None
            c0 = tree_cpu_s()
            t0 = time.time()
            t1 = t0
            try:
                handle = op.build(ctx)
                t1 = time.time()
                out = op.action(ctx, handle)
            except Exception as ex:  # noqa: BLE001 — counted as a failed operation
                err = f"{type(ex).__name__}: {str(ex)[:300]}"
            t2 = time.time()
            cpu = tree_cpu_s() - c0
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                self.tracer.record("op", t0, t2, None, tid)
                self.tracer.record(op.build_span, t0, t1, "op", tid)
                self.tracer.record(op.action_span, t1, t2, "op", tid)
            ops.append({"name": op.name, "t0": t0, "t1": t1, "t2": t2, "cpu": cpu,
                        "err": err, "out": out, "trace": tid, "op": op})
            self.load_max = max(self.load_max, os.getloadavg()[0])
        end = time.time()
        return {"no": p, "start": start, "end": end, "wall": end - start,
                "cpu": tree_cpu_s() - cpu_start, "now": now, "ops": ops}

    def snapshot_store(self) -> list[tuple]:
        """The asset store after a cycle, in the column layout of the
        suite's ``assets_*`` oracles plus ``ts``.  Read with pyarrow, so
        the check adds no Spark jobs to the run."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not os.path.isdir(self.store_dir):
            return []
        t = pq.read_table(self.store_dir, partitioning="hive")
        ts = t.column("@timestamp").cast(pa.timestamp("us"))
        cols = {n: t.column(n).to_pylist() for n in t.column_names if n != "@timestamp"}

        def joined(v):
            return None if v is None else ",".join(v)

        return [
            (cols["asset.ean"][i], str(cols["asset.type"][i]), cols["asset.id"][i],
             joined(cols["asset.parents"][i]), joined(cols["asset.children"][i]),
             joined(cols["asset.references"][i]), cols["cloud.provider"][i],
             cols["orchestrator.cluster.name"][i], cols["service.environment"][i],
             ts[i].as_py().replace(tzinfo=None))
            for i in range(t.num_rows)
        ]


def stop_jvm() -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end
    (its Python workers exit with it).  A no-op once the JVM is gone."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def live_heap_mb(spark) -> float:
    """Driver JVM heap still in use after a full collection."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mem.getHeapMemoryUsage().getUsed() / 2**20


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


# ---------------------------------------------------------------------------
# Checks
# ---------------------------------------------------------------------------

def check_outputs(runner: Runner, data_dir: str) -> dict[str, str]:
    """Oracle-check every operation of every pass.

    Returns {trace id: reason} for the operations that failed."""
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from oracle_check import duck_connect, normalize

    import __spark_entry__
    from workloads import json_rows, now_sql

    osql = __spark_entry__.oracle_sql()
    con = duck_connect(data_dir)
    failed: dict[str, str] = {}
    oracle_cache: dict[str, list[str]] = {}
    expected: dict[str, tuple] = {}  # asset ean -> newest oracle row
    for pi, rec in enumerate(runner.passes):
        now = rec["now"]
        for o in rec["ops"]:
            if o["err"]:
                failed[o["trace"]] = o["err"]
                continue
            name = o["name"]
            if o["op"].build_span == "suite.build":
                if name not in osql:
                    failed[o["trace"]] = "no oracle"
                    continue
                if name not in oracle_cache:
                    res = con.execute(osql[name])
                    ocols = [d[0] for d in res.description]
                    oracle_cache[name] = [sorted(ocols)] + normalize(res.fetchall(), ocols)
                cols, rows = o["out"]
                if [sorted(cols)] + normalize([tuple(r) for r in rows], cols) != oracle_cache[name]:
                    failed[o["trace"]] = "output differs from oracle"
            elif name == "services_from_summaries":
                for lines, q in zip(o["out"], ("svc_phase1_dedup", "svc_phase2_parents")):
                    res = con.execute(now_sql(osql[q], now))
                    cols = [d[0] for d in res.description]
                    got, want = json_rows(lines, res.fetchall(), cols)
                    if normalize(got, cols) != normalize(want, cols):
                        failed.setdefault(o["trace"], f"{q} differs from oracle")
        if runner.wl.writes:
            for q in ("assets_services", "assets_containers", "assets_pods", "assets_nodes"):
                res = con.execute(now_sql(osql[q], now))
                cols = [d[0] for d in res.description]
                for r in res.fetchall():
                    expected[r[0]] = tuple(r) + (now,)
            got = runner.store_snapshots[pi]
            cols = cols + ["ts"]
            ok = (
                len(got) == len({r[0] for r in got})  # one row per asset.ean
                and normalize(got, cols) == normalize(list(expected.values()), cols)
            )
            if not ok:
                for o in rec["ops"]:
                    if o["name"] in ("collect_services", "collect_pods", "upsert_assets"):
                        failed.setdefault(o["trace"], "asset store differs from oracle")
    con.close()
    return failed


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------

def end_to_end(runner: Runner, setups: list[dict], rss_mb: float, live_mb: float):
    """Every end-to-end figure of the run: CPU seconds of the process
    tree (steady under host CPU steal) and the wall times a user waits."""
    warm = runner.passes[1:]

    def p50(xs):  # nearest-rank median
        xs = sorted(xs)
        return xs[math.ceil(len(xs) / 2) - 1]

    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    m = {
        "setup_s": statistics.median(s["cpu"] for s in setups),
        "first_pass_cpu_s": runner.passes[0]["cpu"],
        "warm_pass_cpu_s": statistics.median(p["cpu"] for p in warm),
        "query_p50_cpu_s": p50(o["cpu"] for p in warm for o in p["ops"]),
        "peak_rss_mb": rss_mb,
        "retained_mb": live_mb + py_mb,
        "setup_wall_s": statistics.median(s["total"] for s in setups),
        "first_pass_s": runner.passes[0]["wall"],
        "warm_pass_s": statistics.median(p["wall"] for p in warm),
        "query_p50_s": p50(o["t2"] - o["t0"] for p in warm for o in p["ops"]),
    }
    n_ops = sum(len(p["ops"]) for p in warm)
    samples = {"setup": len(setups), "first_pass": 1, "warm_pass": len(warm), "query": n_ops}
    return m, samples


def per_layer(runner: Runner, setups: list[dict], cores: int) -> tuple[dict, list[str], dict]:
    """The ledger of a traced run: per-pass sums, reported as the median
    over warm passes (``.first``: the first pass).  Returns (metrics,
    coverage problems, per-operation medians over warm passes)."""
    import ledger as L

    jobs, stages = L.read_status_store(runner.spark)
    events = runner.listener.drain() if runner.listener else []
    passes = runner.passes
    work = L.attribute([s for s in runner.tracer.spans if s.name == "op"], jobs, stages)
    problems: list[str] = []

    def pass_row(p: dict) -> dict:
        r: dict[str, float] = {}

        def add(k, v):
            r[k] = r.get(k, 0.0) + v

        stream_runs: dict[str, dict] = {}
        for o in p["ops"]:
            w = work[o["trace"]]
            op = o["op"]
            dur, bdur, adur = o["t2"] - o["t0"], o["t1"] - o["t0"], o["t2"] - o["t1"]
            if abs(dur - bdur - adur) > 1e-3:
                problems.append(f"{o['trace']}: spans do not cover the operation")
            cov = L.covered(o["t0"], o["t2"], w.stages)
            add("spark.jobs", len(w.jobs))
            add("spark.stages", len(w.stages))
            add("spark.tasks", sum(s.tasks for s in w.stages))
            add("spark.driver_only_s", dur - cov)
            add("spark.executor_run_s", sum(s.run_s for s in w.stages))
            add("spark.executor_cpu_s", sum(s.cpu_s for s in w.stages))
            add("spark.gc_s", sum(s.gc_s for s in w.stages))
            add("spark.shuffle_read_mb", sum(s.shuffle_read_b for s in w.stages) / 1e6)
            add("spark.shuffle_write_mb", sum(s.shuffle_write_b for s in w.stages) / 1e6)
            add("spark.spill_mb", sum(s.spill_b for s in w.stages) / 1e6)
            add("sources.input_mb", sum(s.input_b for s in w.stages) / 1e6)
            if op.build_span == "suite.build":
                bjobs = [j for j in w.jobs if o["t0"] <= j.submitted <= o["t1"]]
                bstages = [s for s in w.stages if s.start <= o["t1"]]
                add("suite.build_s", bdur)
                add("suite.build_jobs", len(bjobs))
                add("suite.build_driver_only_s", bdur - L.covered(o["t0"], o["t1"], bstages))
                add("exec.action_s", adur)
            elif op.build_span == "plans.services":
                add("plans.services_s", dur)
            elif op.build_span == "plans.assets":
                add("plans.assets_s", dur)
            elif op.build_span == "sinks.upsert":
                add("sinks.upsert_s", dur)
                add("sinks.upsert_jobs", len(w.jobs))
                add("sinks.bytes_written_mb", sum(s.output_b for s in w.stages) / 1e6)
            if o["name"].startswith("stream_") and not o["err"] and (not w.jobs or not w.stages):
                problems.append(f"{o['trace']}: streaming operation with no attributed jobs/stages")
            for e in events:
                if o["t0"] <= e["ts"] <= o["t2"]:
                    add("streaming.batches", 1)
                    add("streaming.batch_s", e["batch_s"])
                    add("streaming.input_rows", e["rows"])
                    stream_runs[e["run"]] = e
        add("streaming.state_rows", sum(e["state_rows"] for e in stream_runs.values()))
        add("bench.between_ops_s", p["wall"] - sum(o["t2"] - o["t0"] for o in p["ops"]))
        r["spark.task_wait_s"] = max(
            0.0, r["spark.executor_run_s"] - r["spark.executor_cpu_s"] - r["spark.gc_s"]
        )
        r["spark.slot_util"] = r["spark.executor_run_s"] / (p["wall"] * cores)
        return r

    rows = [pass_row(p) for p in passes]
    op_ledger = {}
    for name in [op.name for op in runner.wl.ops]:
        mine = [o for p in passes[1:] for o in p["ops"] if o["name"] == name]
        op_ledger[name] = {
            "build_s": L.median([o["t1"] - o["t0"] for o in mine]),
            "action_s": L.median([o["t2"] - o["t1"] for o in mine]),
            "jobs": L.median([len(work[o["trace"]].jobs) for o in mine]),
            "driver_only_s": L.median([
                o["t2"] - o["t0"] - L.covered(o["t0"], o["t2"], work[o["trace"]].stages)
                for o in mine]),
        }
    first, warm = rows[0], rows[1:]
    keys = sorted({k for r in rows for k in r})
    m = {k: L.median([r.get(k, 0.0) for r in warm]) for k in keys}
    for k in ("suite.build_s", "suite.build_jobs"):
        m[k + ".first"] = first.get(k, 0.0)
    for k, s in (("session.start_s", "start"), ("session.warmup_s", "warmup"),
                 ("sources.first_scan_s", "scan")):
        m[k] = statistics.median(x[s] for x in setups)
    files = live = 0
    if runner.wl.writes:
        for dp, _, fs in os.walk(runner.store_dir):
            for f in fs:
                if f.endswith(".parquet"):
                    files += 1
                    live += os.path.getsize(os.path.join(dp, f))
    m["sinks.store_files"] = files
    m["sinks.write_amp"] = m.get("sinks.bytes_written_mb", 0.0) * 1e6 / live if live else 0.0
    return m, problems, op_ledger


# ---------------------------------------------------------------------------

def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "elastic_asset_etl_poc_spark"))):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "runs", run_id)
    try:
        return run(args, wl, run_id, work)
    finally:
        if "pyspark" in sys.modules:  # also after a failed run
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def run(args, wl, run_id: str, work: str) -> int:
    phases = {"start": time.time()}
    host = host_env(work)
    data_dir = os.path.join(work, "data")
    datagen.write(data_dir, args.seed, wl.sf)
    sys.path.insert(0, ROOT)
    conf = spark_conf(work)
    total0, steal0 = cpu_times()

    # --- set-up (the first includes imports and the JVM launch)
    t0 = phases["setup"] = time.time()
    c0 = tree_cpu_s()
    import __spark_entry__  # noqa: F401 — engine import is part of set-up

    setups = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
            t0, c0 = time.time(), tree_cpu_s()
        spark, rec = set_up(data_dir, conf, t0, c0)
        setups.append(rec)

    # --- passes
    from ledger import Tracer

    phases["passes"] = time.time()
    rng = random.Random(args.seed)
    nows = cycle_nows(random.Random(rng.random()), 32)
    runner = Runner(spark, wl, data_dir, os.path.join(work, "store"), args.seed, run_id,
                    Tracer() if args.trace else None)
    runner.run(args.seconds, nows)
    rss = peak_rss_mb(spark)
    live = live_heap_mb(spark)
    total1, steal1 = cpu_times()

    # --- checks and the ledger (untimed)
    phases["checks"] = time.time()
    failed = check_outputs(runner, data_dir)
    phases["ledger"] = time.time()
    problems: list[str] = []
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e, samples = end_to_end(runner, setups, rss, live)
    if args.trace:
        metrics, problems, op_ledger = per_layer(runner, setups, host["cores"])
        metrics.update({
            "wall.setup_s": e2e["setup_wall_s"],
            **{f"wall.{k}": e2e[k]
               for k in ("first_pass_s", "warm_pass_s", "query_p50_s", "peak_rss_mb")},
        })
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        runner.tracer.write(os.path.join(ROOT, ".perfbench", "traces", f"{run_id}.jsonl"))
        samples["op_ledger"] = op_ledger
        listed = spec["per_layer"]
    else:
        metrics = e2e
        listed = spec["end_to_end"]
    out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
           for m in listed}
    phases["stop"] = time.time()
    stop_jvm()
    phases["end"] = time.time()

    attempted = sum(len(p["ops"]) for p in runner.passes)
    host.update({
        "load1_max": runner.load_max,
        "steal_pct": 100.0 * (steal1 - steal0) / max(total1 - total0, 1e-9),
    })
    summary = {
        "workload": wl.name, "seed": args.seed, "sf": wl.sf, "host": host,
        "passes": len(runner.passes), "samples": samples,
        "phase_s": {a: round(phases[b] - phases[a], 2)
                    for a, b in zip(list(phases), list(phases)[1:])},
        "op_s": {
            name: [round(o["t2"] - o["t0"], 3) for p in runner.passes for o in p["ops"]
                   if o["name"] == name]
            for name in [op.name for op in wl.ops]
        },
        "failed_frac": len(failed) / attempted, "failures": failed,
        "end_to_end": {k: round(v, 4) for k, v in e2e.items()},
        "coverage_problems": problems,
    }
    print("perfbench summary: " + json.dumps(summary, default=str))
    print(json.dumps({
        "correct": not failed and not problems,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
