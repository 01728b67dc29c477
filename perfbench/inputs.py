"""Seeded benchmark inputs, generated once per (workload shape, seed).

Every input is a pure function of the ``--seed`` argument:

* the crawl corpus is ``CorpusParams(seed_tag=f"v{seed}")`` in the frozen
  ``bench.py`` shape (seed 1 is its tag), built by the library's
  ``build_corpus_py`` — row for row what ``generate_documents_df`` makes,
  without a Spark job;
* the query-suite tables are ``documents``/``embeddings`` from
  ``scripts/gen_sf_extrap.py`` (imported, seeded from ``--seed``) plus the
  four relational tables the suite reads, drawn here with numpy.

Inputs and oracle answers are cached under ``perfbench/_work/cache`` so a
repeated seed skips generation; generation is never inside ``setup_s``.
"""

from __future__ import annotations

import hashlib
import json
import pickle
import shutil
from dataclasses import dataclass
from pathlib import Path

WORK = Path(__file__).resolve().parent / "_work"
CACHE = WORK / "cache"


@dataclass(frozen=True)
class CrawlShape:
    """One crawl workload's corpus and crawl parameters."""

    n_docs: int
    depth: int

    def params(self, seed: int):
        """The frozen bench.py corpus shape at this size and seed."""
        from web_crawler_spark.corpus import CorpusParams

        return CorpusParams(
            n_docs=self.n_docs,
            seed_tag=f"v{seed}",
            urls_per_host=8,
            links_per_span_max=10,
            spans_max=10,
            dead_link_pct=8,
        )

    def config(self):
        """One fetch attempt per URL: no retry waves, so every crawl takes
        ``depth`` waves whatever the seed (a retry wave fetches a few dozen
        URLs at the full per-wave cost, and how many there are depends on
        the seed)."""
        from web_crawler_spark.config import CrawlConfig

        return CrawlConfig(max_crawl_depth=max(5, self.depth), max_attempts=1)

    def key(self, seed: int) -> str:
        return f"crawl-{self.n_docs}-{self.depth}-a1-s{seed}-v2"


def untraced_log(workload: str) -> Path:
    """Where untraced runs of ``workload`` record their walls, one file per
    source tree (library, entry module, scripts, benchmark): a traced run
    compares itself only with untraced runs of the same code."""
    root = WORK.parent.parent
    files = sorted([root / "__spark_entry__.py", *(root / "web_crawler_spark").rglob("*.py"),
                    *(root / "scripts").glob("*.py"), *WORK.parent.glob("*.py")])
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode() + b"\0" + f.read_bytes())
    return WORK / f"untraced-{workload}-{h.hexdigest()[:16]}.jsonl"


def cached(key: str) -> bool:
    return (CACHE / key / ".done").exists()


def _cached(key: str, build) -> Path:
    """Directory ``CACHE/key``, filled by ``build(tmp_dir)`` on first use.
    A ``.done`` marker makes an interrupted build invisible."""
    out = CACHE / key
    if cached(key):
        return out
    tmp = CACHE / f".{key}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    (tmp / ".done").touch()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


# ---------------------------------------------------------------- crawl


def crawl_inputs(shape: CrawlShape, seed: int) -> tuple[Path, dict]:
    """(corpus parquet dir, oracle answer) for one crawl shape and seed.

    The crawl starts at a hub: of the first 32 admissible doc ids, the one
    with the most distinct links. The oracle answer holds the sequential
    ``OracleCrawler``'s per-wave metrics and digest of the final frontier
    and edge set for that seed URL — what the engine's output (the timed
    crawls and the warm-up fleet's one member) is checked against."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from web_crawler_spark.corpus import build_corpus_py, good_seeds

    def build(tmp: Path) -> None:
        corpus = build_corpus_py(shape.params(seed))
        span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                          ("media_ref", pa.string()), ("offset", pa.int32())])
        (tmp / "corpus").mkdir()
        pq.write_table(
            pa.table({"doc_id": list(corpus), "spans": list(corpus.values())},
                     schema=pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])),
            tmp / "corpus" / "part-0.parquet",
        )

        cfg = shape.config()
        url = max(good_seeds(corpus, cfg, 32), key=lambda u: len(_links(corpus[u])))
        answer = dict(_oracle(corpus, cfg, url, shape.depth), seed_url=url)
        (tmp / "oracle.json").write_text(json.dumps(answer))

    out = _cached(shape.key(seed), build)
    return out / "corpus", json.loads((out / "oracle.json").read_text())


def _oracle(corpus: dict, cfg, url: str, depth: int) -> dict:
    """Per-wave [fetched, children, candidates], node count and frontier
    digest of the sequential oracle's crawl of ``url``."""
    from web_crawler_spark.oracle import OracleCrawler

    from perfbench.checks import frontier_digest

    res = OracleCrawler(corpus, cfg).crawl(url, depth)
    return {
        "waves": {
            m["wave"]: [m["fetched"], m["children"], m["candidates"]]
            for m in res.wave_metrics
        },
        "nodes": len(res.nodes),
        "digest": frontier_digest(
            (
                (k, n.name, n.http_type, n.depth, n.status, n.attempts,
                 n.wave, n.domain, n.ip, n.request_time)
                for k, n in res.nodes.items()
            ),
            res.edges,
        ),
    }


def _links(spans: list[dict]) -> set[str]:
    from web_crawler_spark.functions.urls import extract_links_py

    return {x for s in spans if s["kind"] == "text" for x in extract_links_py(s["text"])}


# ---------------------------------------------------------- query suite

# the 14 queries of the frozen bench.py, in its order
SUITE = [
    "progress_counts",
    "stats_distinct_max",
    "anti_join_seen_set",
    "left_outer_progress",
    "first_writer_dedup",
    "politeness_topk",
    "minhash_band_buckets",
    "token_count",
    "ann_cosine_topk",
    "simhash_near_dup",
    "ann_lsh_topk",
    "embedding_near_dup_lsh",
    "media_features_real",
    "jaccard_pairs",
]

# the input tables each suite query scans (for rows/s)
SUITE_TABLES = {
    "progress_counts": ["orders"],
    "stats_distinct_max": ["lineitem"],
    "anti_join_seen_set": ["customer", "orders"],
    "left_outer_progress": ["orders", "lineitem"],
    "first_writer_dedup": ["events"],
    "politeness_topk": ["lineitem"],
    "minhash_band_buckets": ["documents"],
    "token_count": ["documents"],
    "ann_cosine_topk": ["embeddings"],
    "simhash_near_dup": ["documents"],
    "ann_lsh_topk": ["embeddings"],
    "embedding_near_dup_lsh": ["embeddings"],
    "media_features_real": [],
    "jaccard_pairs": ["documents"],
}


@dataclass(frozen=True)
class TableShape:
    """Row counts of the query-suite tables."""

    docs: int
    vectors: int
    customers: int
    orders: int
    events: int

    def key(self, seed: int) -> str:
        return (
            f"tables-{self.docs}-{self.vectors}-{self.customers}-{self.orders}-"
            f"{self.events}-s{seed}"
        )


def suite_inputs(shape: TableShape, seed: int) -> tuple[Path, dict, dict]:
    """(table dir, oracle answers, table row counts) for one seed.

    Oracle answers are the ``oracle_sql()`` DuckDB twins over the same
    files, canonicalized like ``scripts/check_entry.py``."""

    def build(tmp: Path) -> None:
        from concurrent.futures import ThreadPoolExecutor

        import duckdb

        import __spark_entry__ as entry
        from scripts import gen_sf_extrap as sf
        from scripts.check_entry import canon

        con = duckdb.connect()
        sf.gen_documents(con, tmp, shape.docs, seed=seed)
        sf.gen_embeddings(con, tmp, shape.vectors, seed=seed + 1)
        con.close()
        _gen_relational(tmp, shape, seed)
        tables = ("documents", "embeddings", "customer", "orders", "lineitem", "events")
        sqls = entry.oracle_sql()

        def connect():
            con = duckdb.connect()
            for t in tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp}/{t}.parquet'")
            return con

        def answer(name):
            # one connection per query, so the queries are planned in
            # parallel: planning the LSH twins' literal-heavy SQL takes
            # seconds, far longer than running it on these tables
            con = connect()
            res = con.execute(sqls[name])
            cols = [d[0] for d in res.description]
            out = {"cols": sorted(cols), "rows": canon(res.fetchall(), cols)}
            con.close()
            return name, out

        with ThreadPoolExecutor(4) as pool:
            answers = dict(pool.map(answer, SUITE))
        con = connect()
        rows = {t: con.sql(f"SELECT count(*) FROM {t}").fetchone()[0] for t in tables}
        con.close()
        with open(tmp / "oracle.pkl", "wb") as f:
            pickle.dump({"answers": answers, "rows": rows}, f)

    out = _cached(shape.key(seed), build)
    with open(out / "oracle.pkl", "rb") as f:
        data = pickle.load(f)
    return out, data["answers"], data["rows"]


def _gen_relational(out: Path, shape: TableShape, seed: int) -> None:
    """customer / orders / lineitem / events with sf0.1's value domains:
    a third of customers place no orders, 1-7 lines per order, uniform
    status / priority / flag / segment / event-type mixes."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed + 2)
    nc, no, ne = shape.customers, shape.orders, shape.events
    segs = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"])
    pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
            "c_mktsegment": segs[rng.integers(0, 5, nc)],
        }
    ).to_parquet(out / "customer.parquet", index=False)

    buyers = np.arange(nc, dtype=np.int64)
    buyers = buyers[buyers % 3 != 0]
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    day0 = np.datetime64("1995-01-01", "s")
    pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": buyers[rng.integers(0, len(buyers), no)],
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(900, 500000, no), 2),
            "o_orderdate": day0 + rng.integers(0, 2400, no) * np.timedelta64(1, "D"),
            "o_orderpriority": prios[rng.integers(0, 5, no)],
        }
    ).to_parquet(out / "orders.parquet", index=False)

    # ~2% of orders get no lines (left_outer_progress's n_empty column)
    n_lines = rng.integers(1, 8, no)
    n_lines[rng.random(no) < 0.02] = 0
    okey = np.repeat(np.arange(no, dtype=np.int64), n_lines)
    nl = len(okey)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    pd.DataFrame(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, max(1, no // 7), nl).astype(np.int64),
            "l_suppkey": rng.integers(0, max(1, nc // 15), nl).astype(np.int64),
            "l_linenumber": (np.arange(nl) - starts + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
            "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
            "l_shipdate": day0 + rng.integers(0, 2500, nl) * np.timedelta64(1, "D"),
        }
    ).to_parquet(out / "lineitem.parquet", index=False)

    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": ts0 + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(1, ne // 66), ne).astype(np.int64),
            "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
                rng.integers(0, 5, ne)
            ],
            "value": np.round(rng.uniform(0, 200, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    ).to_parquet(out / "events.parquet", index=False)
