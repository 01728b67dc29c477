"""Benchmark of the crawl engine and the query suite.

Usage, from the repository root:

    python3 perfbench/run.py --workload crawl-bulk --seed 1 --seconds 12 --trace 0

Workloads:
  crawl-bulk    depth-4 crawls of a bench.py-shaped corpus from a hub
  query-suite   the 14 bench.py queries over seeded sf-shaped tables

Each run is one process, one ``local[nproc]`` session and one client
thread, which warms the session up and then times whole crawls or suite
passes until ``--seconds`` have passed. Inputs come from ``--seed`` and
are cached under
``perfbench/_work``. ``--trace 0`` prints the end-to-end metrics; ``--trace
1`` turns on the Spark event log and prints the per-layer metrics, with
the per-wave or per-query table they are summed from. The last line of
stdout is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import inputs  # noqa: E402
from perfbench.checks import Ops, median, phase  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402

SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"

WORKLOADS = {
    "crawl-bulk": inputs.CrawlShape(n_docs=1000, depth=4),
    "query-suite": inputs.TableShape(
        docs=500, vectors=250, customers=1500, orders=15000, events=10000
    ),
}


def start_session(work: Path, eventlog: Path | None):
    from pyspark.sql import SparkSession

    for d in ("local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", str(work / "local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            # A fixed, pre-touched heap: without it the JVM's RSS follows
            # when G1 happened to grow the heap (peak_rss_mb spread 0.17
            # IQR/median over five seeds), and GC runs more often. The
            # heap's RSS is then constant; Spark's own on-heap use shows in
            # spark.onheap_peak_mb.
            # One C1 and one C2 compiler thread instead of the JVM's three
            # on four cores: every wave and query compiles new generated
            # classes, and a third compiler thread competes with the tasks
            # for the cores, which makes walls slower and less steady.
            f"-Djava.io.tmpdir={work / 'tmp'} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
            "-XX:CICompilerCount=2",
        )
    )
    if eventlog is not None:
        eventlog.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{eventlog}")
            # per-stage peaks of Spark's memory use, polled every 250 ms
            .config("spark.eventLog.logStageExecutorMetrics", "true")
            .config("spark.executor.metrics.pollingInterval", "250ms")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def prepare_inputs(workload: str, seed: int) -> None:
    """Generate a workload's inputs and oracle answers into the cache."""
    shape = WORKLOADS[workload]
    if isinstance(shape, inputs.CrawlShape):
        inputs.crawl_inputs(shape, seed)
    else:
        inputs.suite_inputs(shape, seed)


def stop_session(spark, procs) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for each."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline and len(procs.tree()) > 1:
        time.sleep(0.1)


def end_to_end(run, setup_s: float, procs) -> dict[str, float]:
    """The end-to-end metrics, and throughput and the median step for the
    per-layer report."""
    if run.crawls:
        walls = [c.wall_s for c in run.crawls]
        work = [
            sum(s["fetched"] + s["candidates"] + s["dedup_dropped"] for s in c.summaries)
            for c in run.crawls
        ]
        steps = [w for c in run.crawls for w in c.wave_walls()]
        cpu = [sum(c.cpu.values()) for c in run.crawls]
        rate = [w / t for w, t in zip(work, walls)]
    else:
        walls = [sum(c.wall_s for c in calls) for calls in run.passes]
        steps = [c.wall_s for calls in run.passes for c in calls]
        cpu = [sum(sum(c.cpu.values()) for c in calls) for calls in run.passes]
        rate = [run.input_rows / t for t in walls]
    return {
        "setup_s": setup_s,
        "wall_s": median(walls),
        "throughput_per_s": median(rate),
        "step_p50_s": median(steps),
        "cpu_per_op_s": median(cpu),
        "peak_rss_mb": procs.peak_total_mb,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("web_crawler_spark", "__spark_entry__.py", "scripts")
               if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: not a checkout of the crawler (missing {missing})",
              file=sys.stderr)
        return 2

    from perfbench.procstat import ProcTree, cpu_steal, steal_pct

    work = inputs.WORK / f"run-{os.getpid()}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    shape = WORKLOADS[args.workload]
    t0 = time.time()
    if not inputs.cached(shape.key(args.seed)):
        # in a child process, so that neither its time nor the modules it
        # loads (DuckDB, the oracle) count in this run's setup or RSS
        code = ("from perfbench.run import prepare_inputs; "
                f"prepare_inputs({args.workload!r}, {args.seed})")
        child = subprocess.run([sys.executable, "-c", code], cwd=ROOT, stdout=sys.stderr)
        if child.returncode != 0:
            print("perfbench: input generation failed", file=sys.stderr)
            shutil.rmtree(work, ignore_errors=True)
            return 1
        phase("inputs generated")
    gen_s = time.time() - t0
    # no hsperfdata files in the system temp dir, from the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    eventlog = work / "eventlog" if args.trace else None
    procs = ProcTree().start()
    ops = Ops()
    steal0 = cpu_steal()
    spark = None
    try:
        spark = start_session(work, eventlog)
        session_s = time.time() - T_PROCESS - gen_s
        phase(f"session started: {session_s:.2f}s")
        if isinstance(shape, inputs.CrawlShape):
            from perfbench.workloads import crawl_client

            run = crawl_client(spark, ops, procs, shape, args.seed, args.seconds,
                               work, SHUFFLE_PARTITIONS, bool(args.trace))
        else:
            from perfbench.workloads import suite_client

            run = suite_client(spark, ops, procs, shape, args.seed, args.seconds)
        cpu_total = procs.snapshot()
        steal = steal_pct(steal0, cpu_steal())
    finally:
        if spark is not None:
            stop_session(spark, procs)
        procs.stop()
        phase("session stopped")

    setup_s = session_s + run.prep_s + run.warmup_s
    e2e = end_to_end(run, setup_s, procs)
    if args.trace:
        from perfbench.layers import per_layer

        metrics = per_layer(run, eventlog, session_s, cpu_total, steal, procs,
                            e2e, args.workload)
        units = {n: u for n, u, _ in PER_LAYER}
    else:
        _record_untraced(args.workload, e2e)
        metrics = e2e
        units = {n: u for n, u, _ in END_TO_END}
        print(f"cpu steal {steal:.1f}%", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)

    failed = ops.failed
    if not run.crawls and not run.passes:
        failed = max(failed, 1)
    attempted = max(ops.attempted, 1)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


def _record_untraced(workload: str, e2e: dict) -> None:
    """Keep untraced walls so a traced run can report its own overhead."""
    path = inputs.untraced_log(workload)
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps({"wall_s": e2e["wall_s"]}) + "\n")


if __name__ == "__main__":
    sys.exit(main())
