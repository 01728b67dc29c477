"""Profile the per-wave driver-serial plan-construction cost.

Runs a small crawl (default 20k docs, depth 5) twice — once warm-up,
once under cProfile — and prints the top cumulative py4j / plan-side
costs plus each wave's phase decomposition and Spark job count (the
``phase_ms`` and ``job_ids`` the engine records in every wave's commit
summary; phases plan / union_build / write / bloom_upd / fold).  Small
corpus on purpose: executor work is negligible, so wall ~= driver floor
and the profile isolates exactly the non-scaling seconds the scaling
analysis charges to "plan" / "union_build" / "fold".

Usage: python scripts/profile_wave_plan.py [ndocs] [depth]
"""
from __future__ import annotations

import cProfile
import io
import os
import pstats
import sys
import tempfile

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NDOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
DEPTH = int(sys.argv[2]) if len(sys.argv) > 2 else 5


def main() -> None:
    from web_crawler_spark.config import CrawlConfig
    from web_crawler_spark.corpus import CorpusParams, doc_id_for, generate_documents_df
    from web_crawler_spark.engine import CrawlEngine
    from web_crawler_spark.store import SnapshotStore

    builder = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .appName("profile_wave_plan")
    )
    if os.environ.get("PROF_NO_DEBUGGING") == "1":
        builder = builder.config("spark.python.sql.dataFrameDebugging.enabled", "false")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    params = CorpusParams(n_docs=NDOCS)
    docs = generate_documents_df(spark, params).repartition(8, "doc_id").cache()
    docs.count()
    seed = doc_id_for(0, params)

    def one_crawl(tag: str) -> float:
        import time

        store = SnapshotStore(tempfile.mkdtemp(prefix=f"prof_{tag}_"))
        eng = CrawlEngine(
            spark, store, docs, CrawlConfig(max_crawl_depth=DEPTH), prepared=True
        )
        cid = eng.start_crawl(seed, DEPTH, crawl_id=f"prof_{tag}")
        t0 = time.time()
        eng.run_crawl(cid)
        wall = time.time() - t0
        for w in store.committed_waves(cid):
            summary = store.wave_summary(cid, w)
            phases = summary.get("phase_ms", {})
            print(
                f"phase_ms {tag} w{w} jobs={len(summary.get('job_ids', []))} "
                + " ".join(f"{k}={v}" for k, v in phases.items()),
                flush=True,
            )
        return wall

    w = one_crawl("warm")
    print(f"warm-up crawl wall: {w:.2f}s", flush=True)

    prof = cProfile.Profile()
    prof.enable()
    w2 = one_crawl("prof")
    prof.disable()
    print(f"profiled crawl wall: {w2:.2f}s", flush=True)

    s = io.StringIO()
    st = pstats.Stats(prof, stream=s).sort_stats("cumulative")
    st.print_stats(45)
    print(s.getvalue())
    s2 = io.StringIO()
    st2 = pstats.Stats(prof, stream=s2).sort_stats("tottime")
    st2.print_stats(30)
    print(s2.getvalue())
    spark.stop()


if __name__ == "__main__":
    main()
