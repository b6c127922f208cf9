#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload zonal --seed 1 --seconds 8 --trace 0

Run from the repository root. ``--trace 0`` times untraced jobs and prints
the end-to-end metrics; ``--trace 1`` runs one untraced and one traced job
plus isolation jobs and kernel replays, and prints the per-layer metrics.
Every job's output is checked against an oracle computed after the timed
part. A full record of the run (samples, spans, host facts, check results)
is written under ``.perfbench/results/``; ``perfbench/report.py`` prints it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4
SETUP_REPS = 3
MIN_WARM = 4
MEASURE_CAP_S = 110.0  # stop timing new jobs after this much wall time

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "throughput": "items/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "sources.scan_s": "s",
    "sources.scan_bytes": "B",
    "zarrstore.write_s": "s",
    "zarrstore.read_s": "s",
    "zarrstore.bytes_written": "B",
    "zarrstore.chunks": "count",
    "decode.s": "s",
    "decode.tiles": "count",
    "decode.mpx": "Mpx",
    "decode.kernel_s": "s",
    "index.build_s": "s",
    "index.polygons": "count",
    "index.cover_cells": "count",
    "probe.s": "s",
    "probe.cells_probed": "count",
    "probe.candidate_pairs": "count",
    "probe.sure_pairs": "count",
    "probe.maybe_pairs": "count",
    "probe.useful_ratio": "ratio",
    "pip.s": "s",
    "pip.pairs": "count",
    "pip.px_edge_tests": "count",
    "pip.kernel_s": "s",
    "pip.useful_ratio": "ratio",
    "agg.partial_rows": "count",
    "exchange.shuffle_write_bytes": "B",
    "exchange.shuffle_records": "count",
    "exchange.spill_bytes": "B",
    "py.bytes_to_python": "B",
    "py.bytes_from_python": "B",
    "py.worker_s": "s",
    "py.batches": "count",
    "kernels.kernel_s": "s",
    "kernels.px": "count",
    "metrics.rows_out": "count",
    "points.pip_s": "s",
    "points.candidate_pairs": "count",
    "knn.s": "s",
    "knn.radius_iterations": "count",
    "knn.candidate_rows": "count",
    "driver.jobs": "count",
    "driver.stages": "count",
    "driver.tasks": "count",
    "driver.idle_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.cpu_util": "ratio",
    "cache.persisted_after_job": "count",
    "trace.job_s": "s",
    "trace.untraced_job_s": "s",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the engine from it."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["GRIDFIA_CACHE"] = WORK
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # a fixed, pre-touched 1 GB driver heap: G1's heap growth otherwise
    # moves the JVM's RSS by +-15 % between identical runs
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms1g -XX:+AlwaysPreTouch' pyspark-shell"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def host_facts(spark, seed: int) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": os.cpu_count(),
        "cores_used": CORES,
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "python": platform.python_version(),
        "seed": seed,
    }


class Runner:
    """Times jobs with cache hygiene between them and keeps what the
    oracle check needs."""

    def __init__(self, spark, wl):
        self.spark = spark
        self.wl = wl
        self.times: list[float] = []
        self.reduced: list = []  # per job: reduced output, or None if it raised
        self.persisted: list[int] = []

    def one(self, traced: bool = False):
        from perfbench import trace

        survivors = trace.clear_cache(self.spark)
        if survivors:
            raise RuntimeError(f"{survivors} persisted RDDs survive clearCache before a timed job")
        self.wl.prepare()
        tr = trace.Tracer(self.spark, traced)
        t0 = time.perf_counter()
        out = None
        try:
            out = self.wl.job(tr)
        except Exception:  # a raising job is a failed job, reported and counted
            log("job raised:\n" + traceback.format_exc())
        self.times.append(time.perf_counter() - t0)
        self.persisted.append(trace.persisted_rdds(self.spark))
        self.reduced.append(None if out is None else self.wl.reduce(out))
        return tr, out


def check_all(wl, reduced: list, exp) -> list[dict]:
    """One entry per failed job: it raised (None) or its output differs
    from the oracle."""
    problems = []
    for i, got in enumerate(reduced):
        bad = ["job raised"] if got is None else wl.check(got, exp)
        if bad:
            problems.append({"job": i, "problems": bad})
            log(f"job {i} failed its check: {bad}")
    return problems


def run_untraced(runner, seconds: float, t_start: float) -> None:
    """The first job, then warm jobs until ``seconds`` have passed and at
    least MIN_WARM ran. Every job is checked."""
    runner.one()
    t0 = time.perf_counter()
    while True:
        n_warm = len(runner.times) - 1
        now = time.perf_counter()
        if n_warm >= MIN_WARM and now - t0 >= seconds:
            break
        if n_warm >= 1 and now - t_start >= MEASURE_CAP_S:
            break
        runner.one()


def _node_sum(nodes, metric: str, pred=lambda n: True) -> float:
    return sum(n["metrics"].get(metric, 0.0) for n in nodes if pred(n))


def _is_python(n) -> bool:
    return "data sent to Python workers" in n["metrics"] or "time to run Python workers" in n["metrics"]


def run_traced(runner, cores: int) -> dict:
    from perfbench import trace

    runner.one()  # the first job and a warm-up: JIT and Python workers
    runner.one()
    runner.one()
    untraced_s = runner.times[-1]
    tr, raw = runner.one(traced=True)
    if raw is None:
        raise RuntimeError("the traced job raised; see the log above")
    root = next(s for s in tr.spans if s.name == "job")
    persisted = runner.persisted[-1]
    stats = trace.group_stats(runner.spark, {s.group for s in tr.descendants("job")})
    nodes = stats["nodes"]
    m = {k: 0.0 for k in PER_LAYER}
    py = [n for n in nodes if _is_python(n)]
    batch_rows = int(runner.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    m.update({
        "sources.scan_bytes": _node_sum(nodes, "size of files read", lambda n: n["name"].startswith("Scan")),
        "agg.partial_rows": _node_sum(
            nodes, "number of output rows", lambda n: n["name"].endswith("Aggregate") and "partial_" in n["desc"]
        ),
        "exchange.shuffle_write_bytes": stats["shuffle_write_bytes"],
        "exchange.shuffle_records": stats["shuffle_records"],
        "exchange.spill_bytes": stats["spill_bytes"],
        "py.bytes_to_python": _node_sum(py, "data sent to Python workers"),
        "py.bytes_from_python": _node_sum(py, "data returned from Python workers"),
        "py.worker_s": _node_sum(py, "time to run Python workers"),
        "py.batches": sum(-(-trace.input_rows(n) // batch_rows) for n in py),
        "driver.jobs": stats["jobs"],
        "driver.stages": stats["stages"],
        "driver.tasks": stats["tasks"],
        "driver.idle_s": trace.idle_seconds(root, stats["intervals"]),
        "executor.run_s": stats["run_s"],
        "executor.cpu_s": stats["cpu_s"],
        "executor.cpu_util": stats["cpu_s"] / (root.seconds * cores),
        "cache.persisted_after_job": persisted,
        "trace.job_s": root.seconds,
        "trace.untraced_job_s": untraced_s,
        "trace.overhead_s": root.seconds - untraced_s,
    })
    knn = [s for s in tr.spans if s.name == "knn"]
    if knn:
        kstats = trace.group_stats(runner.spark, {knn[0].group})
        windows = {n["exec"] for n in kstats["nodes"] if n["name"] == "Window"}
        m["knn.radius_iterations"] = max(len(windows) - 1, 0)
        m["knn.candidate_rows"] = _node_sum(
            kstats["nodes"], "number of output rows", lambda n: "Join" in n["name"]
        )
    trace.clear_cache(runner.spark)
    extra = runner.wl.layers(tr, raw)
    bases = extra.pop("_bases", {})
    m.update(extra)
    bases["py.batches"] = f"derived: rows into each Python node / {batch_rows} rows per Arrow batch"
    bases["executor.cpu_util"] = f"executor CPU s / (traced job wall s x {cores} cores)"
    return {"layers": m, "bases": bases, "spans": tr.records(), "self_s": tr.self_times()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    _prepare_env()
    from perfbench import trace, workloads  # needs the engine next to the benchmark

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2
    from gridfia_spark.session import get_spark
    from pyspark import SparkContext

    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "seconds": args.seconds}
    with trace.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(cores=CORES, app_name=f"perfbench-{args.workload}",
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            t0 = time.perf_counter()
            workloads.tile_table(spark, WORK)  # once per checkout, not part of setup_s
            record["build_s"] = time.perf_counter() - t0
            wl = workloads.WORKLOADS[args.workload](spark, args.seed, WORK)
            setups = []
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.setup()
                setups.append(time.perf_counter() - t0)
            runner = Runner(spark, wl)
            if args.trace:
                traced = run_traced(runner, CORES)
            else:
                run_untraced(runner, args.seconds, t_start)
            peak_rss = rss.peak
            record["peak_rss_parts_mb"] = {k: v / 2**20 for k, v in rss.peak_parts.items()}
            t0 = time.perf_counter()
            exp = wl.expected()
            record["oracle_s"] = time.perf_counter() - t0
            problems = check_all(wl, runner.reduced, exp)
            record["host"] = host_facts(spark, args.seed)
        finally:
            spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                gw.proc.stdin.close()
                gw.proc.wait(timeout=60)
                SparkContext._gateway = SparkContext._jvm = None

    attempted = len(runner.times)
    failed = len(problems)
    record.update({
        "session_s": session_s, "setup_samples_s": setups, "job_samples_s": runner.times,
        "persisted_after_job": runner.persisted, "problems": problems,
    })
    if args.trace:
        metrics = {k: {"value": float(traced["layers"][k]), "unit": u} for k, u in PER_LAYER.items()}
        record.update(traced)
    else:
        warm = runner.times[1:]
        job_s = statistics.median(warm)
        values = {
            "setup_s": session_s + statistics.median(setups),
            "job_s": job_s,
            "throughput": wl.size() / job_s,
            "peak_rss_mb": peak_rss / 2**20,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        # reported, not gated: one sample per run, and its run-to-run spread
        # on the reference host reaches the largest bound BENCHMARK.json allows
        record["first_job_s"] = runner.times[0]
        record["warm_samples"] = len(warm)
        record["throughput_unit"] = f"{wl.size_unit}/s"
        record["error_rate"] = failed / attempted
    record["metrics"] = metrics
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time() * 1000)}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
