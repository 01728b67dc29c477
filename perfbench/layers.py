"""Per-layer metrics of a traced run, and the tables they are summed from.

Crawl workloads: the engine's commit summaries, the event log cut into
waves at the commit times, /proc CPU and RSS, the store's layout and the
read APIs. Query suite: the event log grouped by the job description the
client set on each call, and /proc CPU around each call."""

from __future__ import annotations

import json
import sys

from perfbench import inputs, trace
from perfbench.checks import median, tail_percentile
from perfbench.metrics import PER_LAYER, SIX


def per_layer(run, eventlog, session_s, cpu_total, steal, procs, e2e, workload) -> dict:
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    jobs, stages = trace.load(eventlog)
    m.update({
        "session.start_s": session_s,
        "corpus_table.save_s": run.prep_s,
        "warmup_s": run.warmup_s,
        "proc.driver_py_cpu_s": cpu_total["driver_py"],
        "proc.jvm_cpu_s": cpu_total["jvm"],
        "proc.pyworker_cpu_s": cpu_total["pyworker"],
        "proc.jvm_peak_rss_mb": procs.peak_mb["jvm"],
        "proc.pyworker_peak_rss_mb": procs.peak_mb["pyworker"],
        "proc.cpu_steal_pct": steal,
    })
    if run.crawls:
        _crawl_layers(m, run, jobs, stages)
        steps = [w for c in run.crawls for w in c.wave_walls()]
    else:
        _suite_layers(m, run, stages)
        steps = [c.wall_s for calls in run.passes for c in calls]
    tail = tail_percentile(steps)
    m["step_samples"] = len(steps)
    if tail is not None:
        m["step_tail_pct"], m["step_tail_s"] = 100 * tail[0], tail[1]
    m["throughput_per_s"] = e2e["throughput_per_s"]
    m["step_p50_s"] = e2e["step_p50_s"]
    m["trace.overhead_frac"] = _overhead(workload, e2e["wall_s"])
    return m


def _crawl_layers(m: dict, run, jobs, stages) -> None:
    n = len(run.crawls)
    summ = [s for c in run.crawls for s in c.summaries]

    def total(key):
        return sum(s.get(key, 0) for s in summ) / n

    fetched, ok = total("fetched"), total("ok")
    fresh, dropped = total("candidates"), total("dedup_dropped")
    children = total("children")
    inner = total("elapsed_ms") / 1000
    wall = sum(c.wall_s for c in run.crawls) / n
    m.update({
        "engine.waves": len(summ) / n,
        "engine.wave_inner_s": inner,
        "engine.interwave_s": wall - inner,
        "engine.urls_fetched": fetched,
        "engine.links_seen": fresh + dropped,
        "engine.fresh_candidates": fresh,
        "engine.children": children,
        "engine.dns_dropped": total("dns_dropped"),
        "engine.retries": total("parent_retries"),
        "engine.fresh_ratio": fresh / (fresh + dropped) if fresh + dropped else 0.0,
        "engine.admit_ratio": children / fresh if fresh else 0.0,
        "engine.fetch_ok_ratio": ok / fetched if fetched else 0.0,
        "dedup.bloom_tested": total("bloom_candidates"),
    })
    tested, maybe = total("bloom_candidates"), total("bloom_maybe")
    m["dedup.bloom_cut"] = 1 - maybe / tested if tested else 0.0

    rows, resid = [], []
    for c in run.crawls:
        commits = [(s["wave"], s["ts"]) for s in c.summaries]
        table = trace.wave_table(jobs, stages, c.start, commits)
        rows += table
        covered = sum(r["wall_s"] for r in table)
        resid.append(c.wall_s - covered)
        print(f"crawl {c.crawl_id}: wall {c.wall_s:.3f}s = waves {covered:.3f}s "
              f"+ residual {c.wall_s - covered:.3f}s")
        for r in table:
            print("  wave {wave:2d} wall {wall_s:6.3f}s busy {busy_s:6.3f}s idle "
                  "{idle_s:6.3f}s jobs {jobs:3d} stages {stages:3d} tasks {tasks:4d}"
                  .format(**r))
    waves = max(1, len(rows))
    m.update({
        "spark.jobs_per_wave": sum(r["jobs"] for r in rows) / waves,
        "spark.stages_per_wave": sum(r["stages"] for r in rows) / waves,
        "spark.tasks_per_wave": sum(r["tasks"] for r in rows) / waves,
        "spark.stage_busy_s": sum(r["busy_s"] for r in rows) / n,
        "spark.driver_idle_s": sum(r["idle_s"] for r in rows) / n,
        "trace.residual_frac": sum(resid) / sum(c.wall_s for c in run.crawls),
    })
    lo_hi = [(c.start * 1000, (c.start + c.wall_s) * 1000) for c in run.crawls]
    in_crawls = [
        st for st in stages.values()
        if any(lo <= st.submit_ms <= hi for lo, hi in lo_hi)
    ]
    t = trace.totals(in_crawls)
    for key in ("task_run_s", "task_cpu_s", "gc_s", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb"):
        m[f"spark.{key}"] = t[key] / n
    m["spark.heavy_stage_skew"] = t["heavy_stage_skew"]
    m["spark.onheap_peak_mb"] = t["onheap_peak_mb"]

    for k, v in run.api_s.items():
        m[f"api.{k}_s"] = v
    m["api.read_s"] = sum(run.api_s.values())
    for k, v in run.store_s.items():
        m[f"store.{k}"] = v


def _suite_layers(m: dict, run, stages) -> None:
    groups = trace.by_description(stages)
    calls = [c for p in run.passes for c in p]
    walls = [sum(c.wall_s for c in p) for p in run.passes]
    m["query_suite_s"] = median(walls)
    busy_total = 0.0
    print(f"{'query':26s} {'wall_s':>8s} {'busy_s':>8s} {'stages':>6s} "
          f"{'py_sent_MB':>10s} {'py_ret_MB':>9s} {'wkr_cpu_s':>9s} {'skew':>6s}")
    for name in inputs.SUITE:
        mine = [c for c in calls if c.name == name]
        sts = [st for c in mine for st in groups.get(c.description, [])]
        t = trace.totals(sts)
        k = max(1, len(mine))
        busy = sum(
            trace.busy_ms([(st.submit_ms, st.complete_ms) for st in groups.get(c.description, [])],
                          c.start * 1000, (c.start + c.wall_s) * 1000)
            for c in mine
        ) / 1000 / k
        busy_total += busy
        row = {
            "wall_s": median([c.wall_s for c in mine]),
            "stages": t["stages"] / k,
            "task_run_s": t["task_run_s"] / k,
            "shuffle_mb": (t["shuffle_read_mb"] + t["shuffle_write_mb"]) / k,
            "py_bytes_sent_mb": t["py_sent_mb"] / k,
            "py_bytes_returned_mb": t["py_returned_mb"] / k,
            "pyworker_cpu_s": median([c.cpu.get("pyworker", 0.0) for c in mine]),
            "max_task_ratio": t["heavy_stage_skew"],
        }
        print(f"{name:26s} {row['wall_s']:8.3f} {busy:8.3f} {row['stages']:6.1f} "
              f"{row['py_bytes_sent_mb']:10.2f} {row['py_bytes_returned_mb']:9.2f} "
              f"{row['pyworker_cpu_s']:9.3f} {row['max_task_ratio']:6.2f}")
        if name in SIX:
            m[f"q.{name}_s"] = row["wall_s"]
            for key in ("stages", "task_run_s", "shuffle_mb", "py_bytes_sent_mb",
                        "py_bytes_returned_mb", "pyworker_cpu_s", "max_task_ratio"):
                m[f"op.{name}.{key}"] = row[key]
    sts = [st for c in calls for st in groups.get(c.description, [])]
    t = trace.totals(sts)
    k = max(1, len(run.passes))
    m.update({
        "op.suite.stages": t["stages"] / k,
        "op.suite.task_run_s": t["task_run_s"] / k,
        "op.suite.shuffle_mb": (t["shuffle_read_mb"] + t["shuffle_write_mb"]) / k,
        "op.suite.py_bytes_sent_mb": t["py_sent_mb"] / k,
        "op.suite.py_bytes_returned_mb": t["py_returned_mb"] / k,
        "op.suite.pyworker_cpu_s": median(
            [sum(c.cpu.get("pyworker", 0.0) for c in p) for p in run.passes]),
        "op.suite.max_task_ratio": t["heavy_stage_skew"],
        "spark.stage_busy_s": busy_total,
        "spark.driver_idle_s": m["query_suite_s"] - busy_total,
        "spark.task_run_s": t["task_run_s"] / k,
        "spark.task_cpu_s": t["task_cpu_s"] / k,
        "spark.gc_s": t["gc_s"] / k,
        "spark.shuffle_read_mb": t["shuffle_read_mb"] / k,
        "spark.shuffle_write_mb": t["shuffle_write_mb"] / k,
        "spark.spill_mb": t["spill_mb"] / k,
        "spark.heavy_stage_skew": t["heavy_stage_skew"],
        "spark.onheap_peak_mb": t["onheap_peak_mb"],
    })
    print(f"suite pass {m['query_suite_s']:.3f}s = stage-busy {busy_total:.3f}s "
          f"+ driver-idle {m['query_suite_s'] - busy_total:.3f}s")


def _overhead(workload: str, traced_wall: float) -> float:
    """Traced wall against the median wall of earlier untraced runs of the
    same workload on the same source tree (0 when there are none)."""
    path = inputs.untraced_log(workload)
    if not path.exists():
        print("trace overhead: no untraced runs recorded yet", file=sys.stderr)
        return 0.0
    walls = [json.loads(line)["wall_s"] for line in path.read_text().splitlines() if line]
    base = median(walls)
    return traced_wall / base - 1 if base else 0.0
