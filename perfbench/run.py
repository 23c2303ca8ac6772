"""End-to-end benchmark of the ETL engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One run: generate the workload's inputs
from the seed, start a local Spark session through the package's session
factory, run WARMUP_JOBS warm-up jobs on a slice of the inputs, then run
whole jobs for about ``--seconds`` seconds (at least two), each on a fresh
copy of the inputs, and check every job's output. See perfbench/README.md for the workloads and metrics.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced jobs (engine metrics from Spark's REST API) with traced jobs
(module spans), and reports the per-layer metrics. Earlier
stdout lines are a readable report; the last line is the JSON result.
Everything the run writes lives under ``.perfbench_tmp/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WARMUP_JOBS = 1
# the warm-up job reads this leading share of each input's rows: it pays
# the one-time costs (JVM class loading and JIT, plan codegen, Python
# worker start) at a fraction of a full job's data work
WARMUP_SHARE = 1 / 8
DRIVER_MEMORY = "4g"
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")


def process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum (percentile 100) when there are too few
    samples for that."""
    xs = sorted(samples)
    if len(xs) <= 10:
        return xs[-1], 100.0
    return xs[-11], 100.0 * (len(xs) - 10) / len(xs)


def environment(spark) -> dict:
    import pyarrow
    import pyspark

    from bench import vm_probe

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "java": spark._jvm.System.getProperty("java.version"),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "pyarrow": pyarrow.__version__,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "vm_probe_s": vm_probe(),
    }


def link_inputs(master: str, dest: str, tables) -> None:
    os.makedirs(dest)
    for t in tables:
        os.link(os.path.join(master, f"{t}.parquet"), os.path.join(dest, f"{t}.parquet"))


def head_inputs(master: str, dest: str, tables, share: float) -> None:
    """Copy the leading ``share`` of each input's rows into ``dest``."""
    import pyarrow.parquet as pq

    os.makedirs(dest)
    for t in tables:
        table = pq.read_table(os.path.join(master, f"{t}.parquet"))
        pq.write_table(table.slice(0, math.ceil(table.num_rows * share)),
                       os.path.join(dest, f"{t}.parquet"))


def artifact_dirs(warehouse: str) -> dict[str, int]:
    """Published LSH/index artifacts under the warehouse -> bytes."""
    from perfbench.workloads import dir_bytes

    root = os.path.join(warehouse, "_artifacts")
    out = {}
    if os.path.isdir(root):
        for name in os.listdir(root):
            path = os.path.join(root, name)
            if os.path.exists(os.path.join(path, "_SUCCESS")):
                out[name] = dir_bytes(path)
    return out


def codegen_compiles(spark) -> tuple[int, float]:
    """(compilations so far, their total ms) from Spark's codegen metrics;
    the total is count x mean of the histogram's sample reservoir."""
    h = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = h.getCount()
    return n, n * h.getSnapshot().getMean()


class Run:
    def __init__(self, workload, spark, tmp: str, warehouse: str):
        self.w, self.spark, self.tmp, self.warehouse = workload, spark, tmp, warehouse
        self.master = os.path.join(tmp, "master")
        self.n = 0
        mf = spark._jvm.java.lang.management.ManagementFactory
        # the heap pools that hold what the program keeps: old generation
        # and survivors (eden is sized by the collector and holds garbage)
        self.heap_pools = [p for p in mf.getMemoryPoolMXBeans()
                           if p.getType().name() == "HEAP" and "Eden" not in p.getName()]
        # pre-touched at start, so all of it is resident from then on
        self.heap_committed_mb = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20

    def jobs_for(self, seconds: float, tracer=None) -> list[dict]:
        """Jobs until the next one would end past ``seconds``, and at
        least two, so that a run's median is of more than one job. With a
        tracer, untraced and traced jobs alternate in whole pairs, in the
        order U T T U U T ..., and at least the first four run, so that
        neither side sits later on the warm-up curve."""
        order = [None] if tracer is None else [None, tracer, tracer, None]
        pair, least = (1, 2) if tracer is None else (2, 4)
        jobs, t0 = [], time.time()
        while (len(jobs) < least or len(jobs) % pair
               or time.time() - t0 + jobs[-1]["job_s"] <= seconds):
            jobs.append(self.job(order[len(jobs) % len(order)]))
        return jobs

    def job(self, tracer=None, master: str | None = None) -> dict:
        from perfbench import proctree

        self.n += 1
        tag = f"job{self.n}"
        in_dir = os.path.join(self.tmp, "in", tag)
        out_dir = os.path.join(self.tmp, "out", tag)
        link_inputs(master or self.master, in_dir, self.w.tables)
        before = artifact_dirs(self.warehouse)
        cg0 = codegen_compiles(self.spark)
        sc = self.spark.sparkContext
        rec = {"tag": tag, "traced": tracer is not None, "steps": {}}
        results, error = {}, None
        if tracer is not None:
            tracer.job = tag
            for module, attr, name in self.w.trace_points():
                tracer.wrap(module, attr, name)
        for p in self.heap_pools:
            p.resetPeakUsage()
        pid = os.getpid()
        sc.setJobGroup(tag, f"{self.w.name} {tag}")
        with proctree.PeakRss(pid) as rss:
            cpu0 = proctree.cpu_s(pid)
            t0 = time.time()
            try:
                for step, thunk in self.w.steps(self.spark, in_dir, out_dir):
                    s0 = time.time()
                    if tracer is not None:
                        with tracer.span(f"job.{step}"):
                            results[step] = thunk()
                    else:
                        results[step] = thunk()
                    rec["steps"][step] = time.time() - s0
            except Exception as exc:  # a failed job counts in fail_ratio; the run goes on
                error = f"{type(exc).__name__}: {exc}"
            finally:
                t1 = time.time()
                cpu1 = proctree.cpu_s(pid)
                sc.setJobGroup(None, None)
                if tracer is not None:
                    tracer.unwrap()
        rec["job_s"] = t1 - t0
        rec["interval"] = (t0, t1)
        rec["cpu_s"] = cpu1 - cpu0 - rss.own_cpu_s
        cg1 = codegen_compiles(self.spark)
        built = {k: v for k, v in artifact_dirs(self.warehouse).items() if k not in before}
        rec["counters"] = {
            # peak resident memory with the heap at its peak retained use
            # instead of its fixed, pre-touched size
            "proc.rss_nonheap_peak_mb": rss.peak_mb - self.heap_committed_mb,
            "jvm.heap_peak_mb": sum(p.getPeakUsage().getUsed() for p in self.heap_pools) / 2**20,
            "spark.codegen_compiles": cg1[0] - cg0[0],
            "spark.codegen_s": (cg1[1] - cg0[1]) / 1e3,
            "ops.dedup.artifacts_built": len(built),
            "ops.dedup.artifact_mb": sum(built.values()) / 2**20,
            **self.w.counters(results),
        }
        if tracer is not None and error is None:
            rec["counters"].update(self.w.traced_counters(tracer))
        if error is None and not self.w.check(results):
            error = "output differs from the expected result"
        if error is None:
            error = self.w.isolation_error(rec["counters"])
        rec["error"] = error
        self.spark.catalog.clearCache()
        self.spark._jvm.System.gc()  # no collection of this job's garbage inside the next
        shutil.rmtree(in_dir, ignore_errors=True)
        return rec


def main(argv=None) -> int:
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = process_start()

    if not os.path.isdir(os.path.join(ROOT, "etl_data_processor_spark")):
        print(f"perfbench: no etl_data_processor_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    with open(BENCHMARK) as f:
        spec = json.load(f)

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        return measure(args, spec, WORKLOADS[args.workload](), tmp, t_start)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        parent = os.path.dirname(tmp)
        if not os.listdir(parent):
            os.rmdir(parent)


def start_session(tmp: str):
    from etl_data_processor_spark.session import get_spark

    local = os.path.join(tmp, "local")
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    warehouse = os.path.join(tmp, "warehouse")
    many = "1000000"
    spark = get_spark(
        "perfbench",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf={
            # a fixed, pre-touched heap: its resident size is then known and
            # the same in every run, so peak_rss_mb can count the heap at its
            # peak retained use instead of at how many regions the collector
            # happened to touch
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": warehouse,
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={local}",
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": many,
            "spark.ui.retainedStages": many,
            "spark.ui.retainedTasks": many,
            "spark.sql.ui.retainedExecutions": many,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, warehouse


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python daemon and
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def measure(args, spec, w, tmp: str, t_start: float) -> int:
    from perfbench import proctree
    from perfbench.sparkrest import SparkRest
    from perfbench.spans import Tracer, check_tree, self_times

    master = os.path.join(tmp, "master")
    spark = None
    tracer = Tracer() if args.trace else None
    jobs = []
    try:
        spark, warehouse = start_session(tmp)
        t_session = time.time()
        w.prepare(spark, args.seed, master)  # inputs + expected output, not set-up
        warm = os.path.join(tmp, "warmup")
        head_inputs(master, warm, w.tables, WARMUP_SHARE)
        prep_s = time.time() - t_session
        run = Run(w, spark, tmp, warehouse)
        for _ in range(WARMUP_JOBS):
            run.job(master=warm)  # on a slice: its result is not compared
        t_ready = time.time()
        setup = {"session.start_s": t_session - t_start,
                 "session.warmup_s": t_ready - t_session - prep_s}
        env = environment(spark)

        steal0 = proctree.steal()
        jobs = run.jobs_for(args.seconds, tracer)
        steal1 = proctree.steal()
        # the contention regime the timed jobs ran in (times are comparable
        # only within one regime)
        env["steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        timed = [j for j in jobs if not j["traced"]]
        input_sizes = {t: os.path.getsize(os.path.join(master, f"{t}.parquet"))
                       for t in w.tables}
        t_rollup = time.time()
        engine = SparkRest(spark).rollup({j["tag"]: j["interval"] for j in timed}, input_sizes)
        t_rollup = time.time() - t_rollup
        for j in timed:
            j["engine"] = engine[j["tag"]]
    finally:
        t_stop = time.time()
        if spark is not None:
            stop_session(spark)
        t_stop = time.time() - t_stop

    traced = [j for j in jobs if j["traced"]]
    attempted = len(jobs)
    failed = sum(1 for j in jobs if j["error"])
    errors = sorted({j["error"] for j in jobs if j["error"]})
    ok = [j for j in timed if not j["error"]] or timed
    job_s = [j["job_s"] for j in ok]
    p50 = statistics.median(job_s)
    tail_s, tail_pct = tail(job_s)
    e2e = {
        "setup_s": sum(setup.values()),
        "job_s.p50": p50,
        "job_s.tail": tail_s,
        "rows_per_s": w.records / p50,
        "cpu_s": statistics.median(j["cpu_s"] for j in ok),
        "shuffle_mb": _median(ok, "engine", "shuffle_mb"),
        "spill_mb": _median(ok, "engine", "spill_mb"),
        "peak_rss_mb": statistics.median(
            j["counters"]["proc.rss_nonheap_peak_mb"] + j["counters"]["jvm.heap_peak_mb"]
            for j in ok),
        "fail_ratio": failed / attempted,
    }
    units = {"fail_ratio": "ratio", "spill_mb": "MB",  # reported, not result metrics
             **{m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}}
    report = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "jobs": len(timed), "job_s": job_s, "tail_percentile": tail_pct,
        "step_s": [j["steps"] for j in timed],
        "warmup_jobs": WARMUP_JOBS, "inputs_and_oracle_s": prep_s,
        "oracle_s": getattr(w, "oracle_s", None), "environment": env,
        "errors": errors, "end_to_end": e2e, "rollup_s": t_rollup, "stop_s": t_stop,
        "engine": {k: _median(ok, "engine", k) for k in sorted({k for j in ok for k in j["engine"]})},
    }
    if tracer is not None:
        bad = check_tree(tracer.spans)
        if bad:
            failed += len(traced)
            report["errors"].append(f"malformed span tree: {bad[:5]}")
        selft = self_times(tracer.spans)
        report["spans"] = [{**s, "self_s": selft[s["id"]]} for s in tracer.spans]
        layers = per_layer(w, jobs, ok, selft, tracer.spans, setup)
        report["per_layer"] = layers
        metrics = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    print(json.dumps(report, default=str))
    for k, v in sorted((report.get("per_layer") or e2e).items()):
        print(f"  {w.name:16s} {k:40s} {v:14.6g} {units.get(k, '')}")
    correct = failed == 0
    print(f"  {w.name:16s} correct={correct} attempted={attempted} failed={failed}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _median(jobs: list[dict], part: str, key: str) -> float:
    xs = [j[part][key] for j in jobs if key in j.get(part, {})]
    return statistics.median(xs) if xs else 0.0


def per_layer(w, jobs: list[dict], untraced: list[dict], selft: dict,
              spans: list[dict], setup: dict) -> dict:
    """Per-layer metrics: engine metrics and counters are medians over the
    untraced jobs (counters only traced jobs have, over the traced ones);
    module spans are self times summed per name within a job, median over
    jobs; the tracing overhead is the median over adjacent untraced/traced
    pairs of their difference."""
    traced = [j for j in jobs if j["traced"]]
    out = dict(setup)
    for part, group in (("engine", untraced), ("counters", untraced), ("counters", traced)):
        for k in {k for j in group for k in j.get(part, {})} - out.keys():
            out[k] = _median(group, part, k)
    for k in ("spark.broadcast.", "spark.python.sent_", "spark.python.returned_"):
        if f"{k}bytes" in out:
            out[f"{k}mb"] = out.pop(f"{k}bytes") / 2**20
    out["io.scans_per_input"] = out.pop("io.input_scans", 0.0) / len(w.tables)
    out.update(w.derive(out))
    per_job: dict = {}
    for s in spans:
        d = per_job.setdefault(s["job"], {})
        d[s["name"]] = d.get(s["name"], 0.0) + selft[s["id"]]
    for name in {n for d in per_job.values() for n in d}:
        out[f"{name}_s"] = statistics.median(d.get(name, 0.0) for d in per_job.values())
    out["trace.overhead_s"] = statistics.median(
        sum(j["job_s"] if j["traced"] else -j["job_s"] for j in pair)
        for pair in zip(jobs[0::2], jobs[1::2]))
    return out


if __name__ == "__main__":
    sys.exit(main())
