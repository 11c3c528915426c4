"""VERDICT r2 #7 — HLL + KLL as CHECKPOINTED crawl metrics: one
``metrics_sketches`` delta per epoch, cross-epoch merge, resume parity,
and estimates consistent with the exact counts the crawl also records."""

import re

import numpy as np
from pyspark.sql import functions as F

from retailer_scrapers_spark.plans.catalog import SnapshotCatalog
from retailer_scrapers_spark.plans.crawl import CrawlConfig, CrawlPlan
from retailer_scrapers_spark.plans.metrics import merged_sketches


def test_metrics_sketches_written_per_epoch(crawl_run):
    plan, _ = crawl_run
    cat: SnapshotCatalog = plan.catalog
    eps = cat.committed_epochs("metrics_sketches")
    assert eps == cat.committed_epochs("fetch_log")  # one delta per crawl epoch
    df = cat.read_all("metrics_sketches")
    assert set(df.columns) == {"host", "kind", "sketch", "epoch"}
    kinds = {r.kind for r in df.select("kind").distinct().collect()}
    assert kinds == {"hll_urls", "kll_wait_ms"}


def test_hll_estimates_match_exact_touched_counts(crawl_run):
    """Merged per-host HLL ≈ exact distinct URLs the crawl touched per
    host (recoverable from the seen table, whose URLs embed the host)."""
    plan, _ = crawl_run
    merged = merged_sketches(plan.catalog)
    seen = plan.catalog.read_all("seen").collect()
    exact: dict[str, int] = {}
    for r in seen:
        host = re.match(r"https?://([^/]+)/", r.url_canon).group(1)
        exact[host] = exact.get(host, 0) + 1
    for host, n in exact.items():
        assert host in merged["hll_urls"], host
        est = merged["hll_urls"][host]
        # hll_urls counts TOUCHED urls ⊇ seen urls; at p=12 the error on
        # these cardinalities is ≈1.6%, so a ±10% fence is conservative
        assert est >= n * 0.9, (host, est, n)
        assert est <= n * 1.5, (host, est, n)


def test_tdigest_wait_quantiles_sane(crawl_run):
    """Merged per-host wait KLL spans the actual fetch-log waits."""
    plan, _ = crawl_run
    qs = (0.1, 0.5, 0.95)
    merged = merged_sketches(plan.catalog, ranks=qs)
    cat = plan.catalog
    waits: dict[str, list] = {}
    for ep in cat.committed_epochs("fetch_log"):
        for r in cat.read("fetch_log", ep).select("host", "wait_ms").collect():
            waits.setdefault(r.host, []).append(r.wait_ms)
    for host, vals in waits.items():
        kll = merged["kll_wait_ms"][host]
        assert kll["n"] == len(vals)
        lo, hi = min(vals), max(vals)
        for q, est in zip(qs, kll["quantiles"]):
            assert lo <= est <= hi, (host, q, est)
        # median within the exact interquartile neighbourhood
        assert abs(kll["quantiles"][1] - float(np.percentile(vals, 50))) <= (hi - lo) * 0.25 + 1e-9


def test_sketches_resume_merge_matches_one_shot(spark, baseline_crawl_10x6, resumed_crawl_10x6):
    """R8 for the sketches: crash after epoch 2 + resume produces the
    SAME merged per-host sketches as an uninterrupted run (per-epoch
    deltas hold the same contents; merges are associative). The two
    crawls are the shared session fixtures."""
    qs = (0.05, 0.5, 0.95)
    m1 = merged_sketches(SnapshotCatalog(baseline_crawl_10x6, spark), ranks=qs)
    m2 = merged_sketches(SnapshotCatalog(resumed_crawl_10x6, spark), ranks=qs)
    assert m1["hll_urls"] == m2["hll_urls"]
    assert set(m1["kll_wait_ms"]) == set(m2["kll_wait_ms"])
    for host, a in m1["kll_wait_ms"].items():
        b = m2["kll_wait_ms"][host]
        assert a["n"] == b["n"], host
        assert a["quantiles"] == b["quantiles"], host


def test_epoch_sketch_df_distributed_at_10k_hosts(spark):
    """VERDICT r3 #4: the per-epoch sketch build must not materialize
    all sketches on the driver. At 10^4 hosts the DataFrame path stays
    lazy (plan-only until the write), the epoch write routes no sketch
    bytes through a driver collect (ast-verified on the metrics/sketch
    builders), and the estimate fences hold."""
    import ast
    import inspect

    from retailer_scrapers_spark.plans import metrics as metrics_mod
    from retailer_scrapers_spark.plans.metrics import epoch_sketch_df

    # ast gate: no .collect()/.toPandas()/createDataFrame in the
    # DataFrame-producing builders (the dict APIs may collect — they're
    # the bounded reporting path, not the epoch loop)
    for fn in (metrics_mod.epoch_sketch_df, metrics_mod.merged_sketch_df):
        tree = ast.parse(inspect.getsource(fn).lstrip())
        called = {
            n.func.attr
            for n in ast.walk(tree)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        }
        assert not called & {"collect", "toPandas", "createDataFrame", "toLocalIterator"}, (
            fn.__name__,
            called,
        )

    n_hosts = 10_000
    touched = spark.range(3 * n_hosts).select(
        F.concat(F.lit("https://h"), (F.col("id") % n_hosts).cast("string"), F.lit(".test/p/"), F.col("id").cast("string")).alias("url_canon"),
        F.concat(F.lit("h"), (F.col("id") % n_hosts).cast("string"), F.lit(".test")).alias("host"),
    )
    fetched = spark.range(2 * n_hosts).select(
        F.concat(F.lit("h"), (F.col("id") % n_hosts).cast("string"), F.lit(".test")).alias("host"),
        (F.col("id") % 17 * 100).cast("long").alias("wait_ms"),
    )
    df = epoch_sketch_df(touched, fetched, epoch=0)
    counts = {r.kind: r.n for r in df.groupBy("kind").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"hll_urls": n_hosts, "kll_wait_ms": n_hosts}
    # spot-check estimate fences on a handful of hosts (each has exactly
    # 3 distinct touched urls and 2 wait samples)
    some = (
        df.filter((F.col("kind") == "hll_urls") & (F.col("host").isin("h0.test", "h42.test", "h9999.test")))
        .select("host", F.hll_sketch_estimate("sketch").alias("est"))
        .collect()
    )
    assert len(some) == 3
    for r in some:
        assert 2.4 <= r.est <= 3.6, (r.host, r.est)
