"""The benchmark's metric names, units and directions.

``BENCHMARK.json`` lists exactly these; ``perfbench/tests`` checks that
the two agree. Every workload reports every metric: a per-layer metric of
a layer the workload does not exercise reads 0.

End-to-end metrics are defined per workload on its unit of work: one crawl
(start_crawl to run_crawl done) on crawl-bulk, one pass of the 14-query
suite on query-suite. A run times whole units, after a warm-up, until
``--seconds`` have passed: at the 12 s of ``BENCHMARK.json`` that is two
crawls (~7 s each) or two passes (~9 s each) on four cores of a quiet
host, and one of each when the host is loaded and runs them ~1.8x slower.
Longer runs would take well over a minute each on a loaded host.

* ``wall_s``: median wall of the units timed.
* ``cpu_per_op_s``: median CPU seconds of driver, JVM and Python workers
  per unit.
* ``peak_rss_mb``: peak RSS of that process tree over the whole run. The
  JVM's heap is fixed at 2 GB and pre-touched, so this moves with the
  Python processes and off-heap memory; on-heap use is
  ``spark.onheap_peak_mb``.
* ``setup_s``: process start to ready-to-time: session start, the
  bucketed corpus save (crawl-bulk), the warm-up (the timed crawl once,
  as a one-member fleet / one pass of the suite) and the wait for the JIT
  compilers and host steal to go quiet; input generation is excluded.

``throughput_per_s`` — crawl-bulk: (URLs fetched + links seen) / wall, the
paper's baseline metric; query-suite: input rows scanned / wall — is a
per-layer metric: at this corpus size every wave costs about the same
fixed floor, so the crawl's wall barely follows its work, and the ratio
would mostly report how much work the seed's corpus happened to hold.
So is ``step_p50_s``, the median commit-to-commit wave time / median
one-shot query time: the median of 14 different queries jumps from one
query to another between runs (IQR/median 0.22-0.26 over seeds).

Which layer metric should move which end-to-end metric:

* ``spark.driver_idle_s``, ``spark.jobs_per_wave`` and
  ``proc.driver_py_cpu_s`` move ``wall_s`` (and ``step_p50_s``) on
  crawl-bulk, whose waves are floor-bound at this size; not query-suite.
* ``spark.task_run_s``, ``spark.shuffle_write_mb`` and
  ``engine.fresh_ratio`` move ``wall_s`` on crawl-bulk through its two
  heavy waves (wave 2 expands the frontier, wave 3 meets a nearly
  saturated seen set and is mostly dedup), and ``throughput_per_s``.
* ``store.delta_files`` and ``store.frontier_read_s`` move
  ``api.read_s`` (per-layer) on crawl-bulk.
* ``op.Q.py_bytes_*`` and ``op.Q.pyworker_cpu_s`` move ``q.Q_s`` and
  ``wall_s``/``cpu_per_op_s`` on query-suite (minhash, ann_cosine,
  simhash), not crawl-bulk.
* ``op.jaccard_pairs.max_task_ratio`` moves ``q.jaccard_pairs_s``.
* ``proc.pyworker_peak_rss_mb`` moves ``peak_rss_mb`` on query-suite.
  ``spark.onheap_peak_mb`` (traced runs: the peak over stages of Spark's
  on-heap execution + storage memory, from the event log's per-stage
  executor metrics) shows on-heap growth such as a cached frontier, which
  ``peak_rss_mb`` cannot: the heap's RSS is fixed.
* ``dedup.bloom_*`` read 0 on both workloads (the seen set stays below
  ``bloom_min_seen``): deleting the bloom twins predicts no change.
"""

from __future__ import annotations

# end-to-end: (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("cpu_per_op_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]

SIX = [
    "simhash_near_dup",
    "jaccard_pairs",
    "minhash_band_buckets",
    "embedding_near_dup_lsh",
    "ann_lsh_topk",
    "ann_cosine_topk",
]


def _per_layer() -> list[tuple[str, str, str]]:
    m = [
        ("session.start_s", "s", "lower"),
        ("corpus_table.save_s", "s", "lower"),
        ("warmup_s", "s", "lower"),
        ("engine.waves", "count", "lower"),
        ("engine.wave_inner_s", "s", "lower"),
        ("engine.interwave_s", "s", "lower"),
        ("engine.urls_fetched", "count", "higher"),
        ("engine.links_seen", "count", "higher"),
        ("engine.fresh_candidates", "count", "higher"),
        ("engine.children", "count", "higher"),
        ("engine.dns_dropped", "count", "lower"),
        ("engine.retries", "count", "lower"),
        ("engine.fresh_ratio", "ratio", "higher"),
        ("engine.admit_ratio", "ratio", "higher"),
        ("engine.fetch_ok_ratio", "ratio", "higher"),
        ("dedup.bloom_tested", "count", "lower"),
        ("dedup.bloom_cut", "ratio", "higher"),
        ("spark.jobs_per_wave", "count", "lower"),
        ("spark.stages_per_wave", "count", "lower"),
        ("spark.tasks_per_wave", "count", "lower"),
        ("spark.stage_busy_s", "s", "lower"),
        ("spark.driver_idle_s", "s", "lower"),
        ("spark.task_run_s", "s", "lower"),
        ("spark.task_cpu_s", "s", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("spark.shuffle_read_mb", "MB", "lower"),
        ("spark.shuffle_write_mb", "MB", "lower"),
        ("spark.spill_mb", "MB", "lower"),
        ("spark.heavy_stage_skew", "ratio", "lower"),
        ("spark.onheap_peak_mb", "MB", "lower"),
        ("proc.driver_py_cpu_s", "s", "lower"),
        ("proc.jvm_cpu_s", "s", "lower"),
        ("proc.pyworker_cpu_s", "s", "lower"),
        ("proc.jvm_peak_rss_mb", "MB", "lower"),
        ("proc.pyworker_peak_rss_mb", "MB", "lower"),
        ("proc.cpu_steal_pct", "%", "lower"),
        ("store.frontier_read_s", "s", "lower"),
        ("store.edges_read_s", "s", "lower"),
        ("store.wave_dirs", "count", "lower"),
        ("store.delta_files", "count", "lower"),
        ("store.bytes_per_node", "B", "lower"),
        ("api.progress_s", "s", "lower"),
        ("api.stats_s", "s", "lower"),
        ("api.list_s", "s", "lower"),
        ("api.graph_s", "s", "lower"),
        ("api.read_s", "s", "lower"),
        ("query_suite_s", "s", "lower"),
    ]
    m += [(f"q.{q}_s", "s", "lower") for q in SIX]
    for q in SIX + ["suite"]:
        m += [
            (f"op.{q}.stages", "count", "lower"),
            (f"op.{q}.task_run_s", "s", "lower"),
            (f"op.{q}.shuffle_mb", "MB", "lower"),
            (f"op.{q}.py_bytes_sent_mb", "MB", "lower"),
            (f"op.{q}.py_bytes_returned_mb", "MB", "lower"),
            (f"op.{q}.pyworker_cpu_s", "s", "lower"),
            (f"op.{q}.max_task_ratio", "ratio", "lower"),
        ]
    m += [
        ("throughput_per_s", "1/s", "higher"),
        ("step_p50_s", "s", "lower"),
        ("step_tail_s", "s", "lower"),
        ("step_tail_pct", "%", "higher"),
        ("step_samples", "count", "higher"),
        ("trace.residual_frac", "ratio", "lower"),
        ("trace.overhead_frac", "ratio", "lower"),
    ]
    return m


PER_LAYER = _per_layer()
