"""Repository benchmark: the paper's packet pipeline and cold registry queries.

    python3 perfbench/run.py --workload packets --seed 1 --seconds 10 --trace 0

Run it from the repository root.  Each workload is a closed loop: one
client, one operation at a time, on ``local[nproc]``.  The run sets up the
Spark session three times (``get_spark`` plus ``bench._warm_session``; the
first one also starts the JVM) and reports the median as ``setup_s``.  It
then repeats whole passes of the workload until ``--seconds`` have passed,
checks every operation's output, and prints one JSON object as the last
line of stdout.  ``--trace 0`` reports the end-to-end metrics.  ``--trace
1`` runs the passes inside spans and reports the per-layer metrics plus the
tracing overhead.  See README.md beside this file.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
REQUIRED = ("phenoxtract_spark", "__spark_entry__.py", "bench.py",
            os.path.join("tools", "check_correctness.py"))
SETUPS = 3
WORKLOADS = ("packets", "registry_sf0.1")
LAYERS = (
    "ontology",
    "sources.extract",
    "plans.preprocess",
    "plans.strategies",
    "phenopacket_v2.render",
    "sources.sink",
    "registry.build",
    "registry.exec",
)
#: registry modules that hold the workload's queries (per-module rows)
MODULES = ("queries_core", "queries_graph", "queries_scale",
           "queries_semantic", "queries_analytics")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # smaller inputs and fault injection, for perfbench/selftest.py
    p.add_argument("--tiles", type=int, default=None)
    p.add_argument("--sf", default="0.1")
    p.add_argument("--queries", default=None)
    p.add_argument("--inject", choices=("corrupt-packet", "wrong-count"))
    return p.parse_args(argv)


def host_record(spark) -> dict:
    sc = spark.sparkContext
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    try:
        git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=30)
        commit = git.stdout.strip() if git.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    digest = hashlib.sha1()
    sources = glob.glob(os.path.join(ROOT, "phenoxtract_spark", "**", "*.py"),
                        recursive=True)
    for path in sorted(sources) + [os.path.join(ROOT, "__spark_entry__.py"),
                                   os.path.join(ROOT, "bench.py")]:
        with open(path, "rb") as f:
            digest.update(f.read())
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "master": sc.master,
        "driver_memory": sc.getConf().get("spark.driver.memory", None),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "git_commit": commit,
        "source_sha1": digest.hexdigest(),
    }


class Run:
    """One invocation: sessions, the measured loop, and its bookkeeping."""

    def __init__(self, args):
        self.args = args
        self.latencies: list[float] = []
        self.failed = 0

    def record(self, latency: float, ok: bool):
        self.latencies.append(latency)
        self.failed += 0 if ok else 1

    def setup(self):
        """``get_spark`` plus the frozen bench's session warm-up."""
        import bench
        from phenoxtract_spark import get_spark
        from registry import testdata_dir

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{self.args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        bench._warm_session(spark, testdata_dir("0.001"))
        return spark, time.perf_counter() - t0

    def measure(self, spark, workload, tracer) -> tuple[list[float], float]:
        """Whole passes until ``--seconds`` have passed.  Returns the pass
        walls (the sum of the pass's operation latencies) and the
        process-tree CPU seconds per pass."""
        from spans import tree_sample

        walls = []
        jvm0, py0, _, _ = tree_sample(os.getpid())
        start = time.perf_counter()
        while not walls or time.perf_counter() - start < self.args.seconds:
            done = len(self.latencies)
            workload.run_pass(spark, tracer, self.record)
            walls.append(sum(self.latencies[done:]))
        jvm1, py1, _, _ = tree_sample(os.getpid())
        return walls, (jvm1 - jvm0 + py1 - py0) / len(walls)


def make_workload(args):
    if args.workload == "packets":
        from packets import TILES, PacketsWorkload

        w = PacketsWorkload(WORK, args.seed, args.tiles or TILES)
    else:
        from registry import RegistryWorkload, testdata_dir

        queries = args.queries.split(",") if args.queries else None
        w = RegistryWorkload(WORK, args.seed, testdata_dir(args.sf), queries)
    w.inject = args.inject
    return w


def end_to_end(setups, walls, cpu_per_pass) -> dict:
    return {
        "setup_s": (statistics.median(setups), "s"),
        "wall_s": (statistics.median(walls), "s"),
        "cpu_s": (cpu_per_pass, "s"),
    }


def per_layer(tracer, groups, workload, cores, walls, rss) -> dict:
    from spans import LAYER_FIELDS, layer_metrics, self_time

    spans = tracer.spans
    ops = [s for s in spans if s["parent"] is None]
    input_rows = sum(workload.input_rows(op) for op in ops)
    out = {}
    for layer in LAYERS:
        row = layer_metrics(spans, groups, layer, cores, input_rows)
        for field, unit in LAYER_FIELDS:
            out[f"{layer}.{field}"] = (row[field], unit)
    for module in MODULES:
        mine = {s["id"] for s in ops if s.get("module") == module}
        for layer, field in (("registry.build", "build_s"),
                             ("registry.exec", "exec_s")):
            t = sum(s["end"] - s["start"] for s in spans
                    if s["name"] == layer and s["parent"] in mine)
            out[f"{module}.{field}"] = (t, "s")
    op_wall = sum(s["end"] - s["start"] for s in ops)
    leaf_self = sum(self_time(spans, s) for s in spans if s["parent"] is not None)
    wall = statistics.median(walls)
    out["trace.wall_s"] = (wall, "s")
    # traced wall / the same wall without the time spent in the tracer
    out["trace.overhead"] = (wall / (wall - tracer.cost_s / len(walls)), "ratio")
    out["trace.layer_share"] = (leaf_self / op_wall if op_wall else 0.0, "ratio")
    # memory of the process tree during the traced pass; G1's heap growth
    # under the default 24g heap makes it too unsteady to bound end to end
    out["runtime.peak_rss_mb"] = (rss.peak / 2**20, "MB")
    out["runtime.peak_rss_jvm_mb"] = (rss.peak_jvm / 2**20, "MB")
    out["runtime.peak_rss_py_mb"] = (rss.peak_py / 2**20, "MB")
    return out


def stop_jvm():
    """End the JVM pyspark launched and wait for it: the gateway exits when
    its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None or getattr(gateway, "proc", None) is None:
        return
    gateway.close()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [r for r in REQUIRED if not os.path.exists(os.path.join(ROOT, r))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    for d in ("tmp", "local", "results", "spans"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # the same two program settings tier-1 uses; every other default stays
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # keep the JVMs' scratch files (and no perf-data file) inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    import tempfile

    tempfile.tempdir = None
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    import __spark_entry__  # noqa: F401  (puts the package on the workers' path)
    from spans import RssSampler, Tracer, read_status_store

    run = Run(args)
    workload = make_workload(args)
    workload.prepare()
    setups = []
    for i in range(SETUPS):
        spark, dt = run.setup()
        setups.append(dt)
        if i < SETUPS - 1:
            spark.stop()
    # start every pass from the same heap state, whatever garbage the
    # stopped sessions left
    spark.sparkContext._jvm.java.lang.System.gc()
    tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
    with RssSampler(os.getpid()) as rss:
        walls, cpu = run.measure(spark, workload, tracer)
    if args.trace:
        groups = read_status_store(spark.sparkContext)
    run.failed += workload.final_checks(spark)
    cores = spark.sparkContext.defaultParallelism
    host = host_record(spark)
    spark.stop()
    stop_jvm()

    if args.trace:
        metrics = per_layer(tracer, groups, workload, cores, walls, rss)
    else:
        metrics = end_to_end(setups, walls, cpu)
    result = {
        "correct": run.failed == 0,
        "attempted": len(run.latencies),
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        tracer.dump(os.path.join(WORK, "spans", f"{tag}.jsonl"))
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump({"host": host, "setups_s": setups, "walls_s": walls,
                   "peak_rss_jvm_mb": rss.peak_jvm / 2**20,
                   "peak_rss_py_mb": rss.peak_py / 2**20,
                   "latencies_s": run.latencies, **result}, f, indent=1)
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
