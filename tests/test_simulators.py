"""Spark-vs-Python parity for the deterministic fetch/DNS simulators."""

from __future__ import annotations

from pyspark.sql import functions as F

from web_crawler_spark.config import CrawlConfig
from web_crawler_spark.sources.simulators import (
    dns_cols_unrolled,
    dns_py,
    fetch_outcome_cols,
    fetch_outcome_py,
    transient_fail_count_col,
    transient_fail_count_py,
)

CFG = CrawlConfig()

URLS = [f"HTTPS://SUB{i}.HOST-{i:05d}.TEST" for i in range(200)] + [
    "HTTP://LOCALHOST:3000",
    "HTTP://EXAMPLE.COM:8080",
    "HTTPS://A.B.C.D.E.DEEP.TEST",
]

NAMES = [u.split("://", 1)[1] for u in URLS]


def test_fail_count_parity(spark):
    df = spark.createDataFrame([(u,) for u in URLS], ["u"])
    rows = df.select("u", transient_fail_count_col(F.col("u"), CFG).alias("f")).collect()
    got = {r["u"]: r["f"] for r in rows}
    py = {u: transient_fail_count_py(u, CFG) for u in URLS}
    assert got == py
    # the distribution must include successes and both failure kinds
    vals = set(py.values())
    assert 0 in vals and (vals & {1, 2, 3, 99})


def test_fetch_outcome_parity(spark):
    df = spark.createDataFrame(
        [(u, i % 2 == 0, i % 3) for i, u in enumerate(URLS)], ["u", "has_doc", "att"]
    )
    cols = fetch_outcome_cols(F.col("u"), F.col("has_doc"), F.col("att"), CFG)
    rows = df.select(
        "u", "has_doc", "att",
        cols["fetch_ok"].alias("ok"), cols["sim_status"].alias("st"),
        cols["latency_ms"].alias("lat"),
    ).collect()
    for r in rows:
        ok, st, lat = fetch_outcome_py(r["u"], r["has_doc"], r["att"], CFG)
        assert r["ok"] == ok, r
        assert r["st"] == st, r
        if ok:
            assert r["lat"] == lat, r


def test_dns_unrolled_parity(spark):
    """The unrolled Spark form (substring_index when-chain, zero HOFs,
    zero Python) is bit-identical to dns_py — including port-glued last
    labels, deep subdomains, and single-label names."""
    extra = [
        "A.B.C.D.E.F.BASE-0001.TEST",  # deeper than max_dns_depth
        "S00001.BASE-0001.TEST:8080",  # port glued to the last label
        "SINGLELABEL",
        "LOCALHOST:3000",  # single label with a port
        "X.Y",
    ]
    names = NAMES + extra
    df = spark.createDataFrame([(n,) for n in names], ["name"])
    cols = dns_cols_unrolled(F.col("name"), CFG)
    rows = df.select(
        "name", cols["dns_ok"].alias("ok"), cols["domain"].alias("dom"),
        cols["ip"].alias("ip"),
    ).collect()
    for r in rows:
        ok, dom, ip = dns_py(r["name"], CFG)
        assert r["ok"] == ok, r["name"]
        assert r["dom"] == dom, r["name"]
        assert r["ip"] == ip, r["name"]
    # single-label names must always fail, like the reference
    by_name = {r["name"]: r["ok"] for r in rows}
    assert dns_py("LOCALHOST:3000", CFG)[0] is False
    assert by_name["LOCALHOST:3000"] is False
    assert by_name["SINGLELABEL"] is False
