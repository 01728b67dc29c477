"""Closed-loop clients: one thread, one call at a time, until the deadline.

Each client times calls into the library's public functions from outside
and records what it saw in a ``Run``; ``run.py`` turns that into metrics.
"""

from __future__ import annotations

import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import inputs
from perfbench.checks import Ops, frontier_digest, phase

CORPUS_TABLE = "perfbench_corpus"


@dataclass
class Crawl:
    """One timed crawl: its wall, CPU, commit times and wave summaries."""

    crawl_id: str
    start: float
    wall_s: float
    cpu: dict
    summaries: list

    def wave_walls(self) -> list[float]:
        """Commit-to-commit wave walls, the first from the crawl start."""
        ts = [self.start] + [s["ts"] for s in self.summaries]
        return [b - a for a, b in zip(ts, ts[1:])]


@dataclass
class Call:
    """One timed query call."""

    name: str
    description: str
    start: float
    wall_s: float
    cpu: dict


@dataclass
class Run:
    prep_s: float = 0.0
    warmup_s: float = 0.0
    crawls: list = field(default_factory=list)
    passes: list = field(default_factory=list)      # list[list[Call]]
    input_rows: int = 0                             # per suite pass
    store: object = None                            # last crawl's store
    store_s: dict = field(default_factory=dict)     # traced runs only
    api_s: dict = field(default_factory=dict)       # traced runs only


NODE_COLS = ["full_key", "name", "http_type", "depth", "status", "attempts",
             "wave", "domain", "ip", "request_time"]


def crawl_state(spark, store, crawl_id: str) -> dict[str, tuple[int, str]]:
    """member crawl_id -> (node count, frontier digest) of a finished
    crawl (one member) or fleet; a member with no nodes reads as empty."""
    nodes, edges = defaultdict(list), defaultdict(list)
    for r in store.frontier(spark, crawl_id).select("crawl_id", *NODE_COLS).collect():
        nodes[r[0]].append(tuple(r[1:]))
    for r in store.edges(spark, crawl_id).select("crawl_id", "src", "dst", "wave").collect():
        edges[r[0]].append(tuple(r[1:]))
    return defaultdict(lambda: (0, frontier_digest([], [])),
                       {m: (len(nodes[m]), frontier_digest(nodes[m], edges[m])) for m in nodes})


def check_crawl(ops: Ops, spark, store, crawl: Crawl, oracle: dict) -> int:
    """Check a finished crawl against the oracle answer; return its node
    count. Per-wave fetched/children/candidates and the digest of the
    frontier (all node attributes) and edge set must equal the oracle's."""
    got = {
        str(s["wave"]): [s["fetched"], s["children"], s["candidates"]]
        for s in crawl.summaries
    }
    ops.check("crawl.waves", got == oracle["waves"],
              f"engine {got} != oracle {oracle['waves']}")
    n, digest = crawl_state(spark, store, crawl.crawl_id)[crawl.crawl_id]
    ops.check("crawl.frontier", digest == oracle["digest"],
              f"{n} nodes vs oracle {oracle['nodes']}; digests differ")
    return n


def warm_up(spark, ops: Ops, store, docs, shape: inputs.CrawlShape, oracle: dict) -> float:
    """The warm-up: the timed crawl run once as a one-member fleet
    (``start_fleet``), timed, then checked against the oracle. It runs
    every plan a timed crawl runs, so the session's first-use costs (class
    loading, code generation, JIT compilation) are mostly paid before
    timing starts."""
    from web_crawler_spark.engine import CrawlEngine

    t0 = time.perf_counter()
    eng = CrawlEngine(spark, store, docs, shape.config(), prepared=True)
    fid = ops.run("warmup.fleet", _fleet, eng, [oracle["seed_url"]], shape.depth)
    wall = time.perf_counter() - t0
    if fid is not None:
        [member] = store.read_crawl_meta(fid)["members"]
        n, digest = crawl_state(spark, store, fid)[member]
        ops.check("warmup.member", digest == oracle["digest"],
                  f"member {member}: {n} nodes vs oracle {oracle['nodes']}")
    return wall


def _fleet(eng, urls, depth):
    fid = eng.start_fleet(urls, depth, fleet_id="warm")
    eng.run_crawl(fid)
    return fid


def read_api(ops: Ops, spark, store, crawl_id: str, n_nodes: int) -> dict:
    """The four read APIs on a finished crawl, each timed and checked
    against the frontier's size."""
    from web_crawler_spark import queries as api

    out = {}

    def timed(key, fn, *args):
        t0 = time.perf_counter()
        res = ops.run(f"api.{key}", fn, *args)
        out[key] = time.perf_counter() - t0
        return res

    for key, fn in (("progress", api.crawl_progress), ("stats", api.crawl_stats)):
        res = timed(key, fn, spark, store, crawl_id)
        if res is not None:
            ops.check(f"api.{key}", res["total_urls"] == n_nodes,
                      f"{key} total {res['total_urls']} != nodes {n_nodes}")
    listed = timed("list", api.list_crawls, spark, store)
    if listed is not None:
        ops.check("api.list", crawl_id in {r["crawl_id"] for r in listed[0]},
                  f"{crawl_id} not listed")
    graph = timed("graph", api.graph_data, spark, store, crawl_id)
    if graph is not None:
        ops.check("api.graph", len(graph["nodes"]) == n_nodes + 1,
                  f"graph nodes {len(graph['nodes'])} != {n_nodes} + root")
    return out


def crawl_client(spark, ops: Ops, procs, shape: inputs.CrawlShape, seed: int,
                 seconds: float, work: Path, n_buckets: int, traced: bool) -> Run:
    """Set up (bucketed corpus, warm-up fleet, JIT settled), then crawl
    the corpus from the same seed URL until ``seconds`` have passed. A
    traced run also calls the four read APIs on the last crawl and
    measures the store's merge-on-read cost and layout."""
    from web_crawler_spark.engine import CrawlEngine
    from web_crawler_spark.sources.corpus_table import save_bucketed_corpus
    from web_crawler_spark.store import SnapshotStore

    corpus_dir, oracle = inputs.crawl_inputs(shape, seed)
    phase("inputs ready")
    run = Run()
    raw = spark.read.parquet(str(corpus_dir))
    t0 = time.perf_counter()
    docs = save_bucketed_corpus(spark, raw, CORPUS_TABLE, n_buckets=n_buckets)
    run.prep_s = time.perf_counter() - t0
    phase("bucketed corpus saved")
    cfg = shape.config()
    stores = work / "stores"

    run.warmup_s = warm_up(spark, ops, SnapshotStore(stores / "warm"), docs, shape, oracle)
    phase("warm-up fleet done")
    run.warmup_s += settle(procs)

    deadline = time.perf_counter() + seconds
    k = 0
    while True:
        store = SnapshotStore(stores / f"c{k}")
        eng = CrawlEngine(spark, store, docs, cfg, prepared=True)
        cpu0 = procs.snapshot()
        t_start = time.time()
        t0 = time.perf_counter()
        cid = ops.run("crawl", _crawl, eng, oracle["seed_url"], shape.depth, f"c{k}")
        wall = time.perf_counter() - t0
        cpu1 = procs.snapshot()
        if cid is None:
            break
        summaries = [store.wave_summary(cid, w) for w in store.committed_waves(cid)]
        crawl = Crawl(cid, t_start, wall, {p: cpu1[p] - cpu0[p] for p in cpu0}, summaries)
        phase(f"crawl {cid}: {wall:.2f}s, {len(summaries)} waves")
        n_nodes = check_crawl(ops, spark, store, crawl, oracle)
        run.crawls.append(crawl)
        if run.store is not None:
            shutil.rmtree(run.store.root, ignore_errors=True)
        run.store = store
        k += 1
        if time.perf_counter() >= deadline:
            break
    if traced and run.store is not None:
        cid = run.crawls[-1].crawl_id
        run.api_s = read_api(ops, spark, run.store, cid, n_nodes)
        run.store_s = store_layer(spark, run.store, cid)
    return run


def _crawl(eng, url, depth, crawl_id):
    cid = eng.start_crawl(url, depth, crawl_id=crawl_id)
    eng.run_crawl(cid)
    return cid


def store_layer(spark, store, crawl_id) -> dict:
    """Merge-on-read cost and physical layout of a finished crawl."""
    t0 = time.perf_counter()
    nodes = store.frontier(spark, crawl_id).count()
    frontier_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    store.edges(spark, crawl_id).count()
    edges_s = time.perf_counter() - t0
    root = store.crawl_dir(crawl_id)
    files = [p for p in root.rglob("*.parquet") if p.is_file()]
    size = sum(p.stat().st_size for p in root.rglob("*") if p.is_file())
    return {
        "frontier_read_s": frontier_s,
        "edges_read_s": edges_s,
        "wave_dirs": len(store.committed_waves(crawl_id)),
        "delta_files": len(files),
        "bytes_per_node": size / nodes if nodes else 0.0,
    }


def suite_client(spark, ops: Ops, procs, shape: inputs.TableShape, seed: int,
                 seconds: float) -> Run:
    """Set up (one warm-up pass of the suite, JIT settled), then run the
    14-query suite in passes until ``seconds`` have passed. The query a
    pass starts with moves on with the seed and the pass, so across runs
    no query always runs first."""
    import __spark_entry__ as entry
    from scripts.check_entry import canon

    tables, answers, rows = inputs.suite_inputs(shape, seed)
    phase("inputs ready")
    run = Run()
    run.input_rows = sum(rows[t] for q in inputs.SUITE for t in inputs.SUITE_TABLES[q])
    fns = entry.queries()
    sc = spark.sparkContext

    def call(name: str, tag: str) -> Call | None:
        desc = f"perfbench:{tag}:{name}"
        sc.setJobDescription(desc)
        cpu0 = procs.snapshot()
        t_start = time.time()
        t0 = time.perf_counter()
        got = ops.run(f"q.{name}", _collect, fns[name], spark, str(tables))
        wall = time.perf_counter() - t0
        cpu = procs.snapshot()
        sc.setJobDescription(None)
        if got is None:
            return None
        want = answers[name]
        ops.check(f"q.{name}", sorted(got[1]) == want["cols"] and canon(*got) == want["rows"],
                  f"{len(got[0])} rows differ from the DuckDB oracle")
        return Call(name, desc, t_start, wall, {k: cpu[k] - cpu0[k] for k in cpu})

    def order(p: int) -> list[str]:
        first = (seed + p) % len(inputs.SUITE)
        return inputs.SUITE[first:] + inputs.SUITE[:first]

    t0 = time.perf_counter()
    for name in order(-1):
        call(name, "warmup")
    run.warmup_s = time.perf_counter() - t0
    phase("warm-up pass done")
    run.warmup_s += settle(procs)

    deadline = time.perf_counter() + seconds
    p = 0
    while True:
        calls = [c for c in (call(n, f"p{p}") for n in order(p)) if c is not None]
        if len(calls) < len(inputs.SUITE):
            break
        run.passes.append(calls)
        phase(f"pass {p}: {sum(c.wall_s for c in calls):.2f}s: "
              + " ".join(f"{c.name}={c.wall_s:.2f}" for c in calls))
        p += 1
        if time.perf_counter() >= deadline:
            break
    return run


def settle(procs) -> float:
    """Wait for the JIT compilers and the host to go quiet after the
    warm-up; the wait counts in ``setup_s``."""
    waited = procs.wait_until_quiet()
    phase(f"settled after {waited:.2f}s")
    return waited


def _collect(fn, spark, tables: str) -> tuple[list, list]:
    df = fn(spark, tables)
    return [tuple(r) for r in df.collect()], df.columns
