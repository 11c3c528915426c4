"""Fourth golden-trace config (VERDICT r2 #10): a LARGER synthetic web —
18 Woolworths categories (the reference's real count), more listing
pages per retailer, higher per-epoch discovery volume — hardening the
exact-ordering/seen-set parity where many URLs are discovered, deduped,
and sequenced per epoch."""

import pandas as pd
import pytest
from pyspark.sql import functions as F  # noqa: F401

from retailer_scrapers_spark import schemas
from retailer_scrapers_spark.plans.crawl import CrawlConfig, CrawlPlan
from retailer_scrapers_spark.sources import synthetic_site as G
from tests.reference_impl.executor import RefConfig, run_reference

LARGE_CATEGORIES = (
    "food", "drinks", "household", "bakery", "butchery", "deli",
    "frozen", "dairy", "snacks", "health", "baby", "pets",
    "cleaning", "toiletries", "stationery", "outdoor", "electronics", "flowers",
)

LARGE_SPEC = G.SiteSpec(
    pages={"shoprite.test": 14, "checkers.test": 12, "pnp.test": 10},
    wool_pages_per_category=3,
    categories=LARGE_CATEGORIES,
    error_every=13,
)


@pytest.fixture(scope="module")
def large_runs(spark, tmp_path_factory):
    site_pdf = G.build_site_pages(LARGE_SPEC)
    seeds_pdf = G.build_seeds(LARGE_SPEC)
    robots_pdf = G.build_robots()
    site_df = spark.createDataFrame(site_pdf, schemas.SITE_PAGES)
    seeds_df = spark.createDataFrame(seeds_pdf)
    robots_df = spark.createDataFrame(robots_pdf)

    work = str(tmp_path_factory.mktemp("crawl_large"))
    cfg = CrawlConfig(workdir=work, epochs=8, per_host_budget=10)
    plan = CrawlPlan(spark, cfg, site_df, robots_df)
    plan.run(seeds_df)
    golden = run_reference(
        site_pdf.to_dict("records"),
        robots_pdf.to_dict("records"),
        seeds_pdf.to_dict("records"),
        RefConfig(epochs=8, per_host_budget=10),
    )
    return plan, golden


def test_large_site_actually_larger(large_runs):
    plan, golden = large_runs
    # the discovery volume per epoch is the point of this config: 18
    # concurrent woolworths category chains + deeper listing chains give
    # a 98-fetch trace vs the default config's 38 (measured), with a
    # backlog left (frontier_left > 0) since per_host_budget < fan-out
    assert len(golden.trace) > 90
    assert golden.frontier_left > 0


def test_large_seen_set_exact(large_runs):
    plan, golden = large_runs
    engine_seen = {r.url_canon for r in plan.catalog.read_all("seen").collect()}
    assert engine_seen == golden.seen


def test_large_ordering_exact(large_runs):
    plan, golden = large_runs
    cat = plan.catalog
    engine = pd.concat(
        [cat.read("fetch_log", ep).toPandas() for ep in cat.committed_epochs("fetch_log")],
        ignore_index=True,
    ).sort_values(["epoch", "fetch_seq"]).reset_index(drop=True)
    ref = pd.DataFrame(golden.trace).sort_values(["epoch", "fetch_seq"]).reset_index(drop=True)
    assert len(engine) == len(ref)
    for col in ("epoch", "fetch_seq", "url_canon", "host", "result", "scheduled_offset_ms", "attempt"):
        mism = (engine[col].to_numpy() != ref[col].to_numpy()).nonzero()[0]
        assert len(mism) == 0, (
            f"{col}: {len(mism)} mismatches\n"
            f"engine={engine.iloc[mism[:3]][['epoch', 'fetch_seq', 'url_canon', col]].values}\n"
            f"golden={ref.iloc[mism[:3]][['epoch', 'fetch_seq', 'url_canon', col]].values}"
        )


def test_large_saturated_filter_epoch_skips_probe(spark, large_runs, tmp_path_factory, monkeypatch):
    """The same crawl with a tiny Bloom filter (64 bits, one slice) that
    saturates by epoch 1: epoch 1 still probes, epoch 2 goes straight to
    the exact verify. Its first three epochs' fetch trace and seen set
    equal the reference executor's and the default-filter crawl's."""
    from retailer_scrapers_spark.operators import bloom

    plan, _ = large_runs
    site_pdf, seeds_pdf, robots_pdf = G.build_site_pages(LARGE_SPEC), G.build_seeds(LARGE_SPEC), G.build_robots()
    golden = run_reference(
        site_pdf.to_dict("records"), robots_pdf.to_dict("records"), seeds_pdf.to_dict("records"),
        RefConfig(epochs=3, per_host_budget=10),
    )

    epochs, probed = [], []
    run_epoch, probe = CrawlPlan.run_epoch, bloom.probe_filter_state

    def tracking_run_epoch(self, epoch, *a, **kw):
        epochs.append(epoch)
        return run_epoch(self, epoch, *a, **kw)

    def tracking_probe(*a, **kw):
        probed.append(epochs[-1])
        return probe(*a, **kw)

    monkeypatch.setattr(CrawlPlan, "run_epoch", tracking_run_epoch)
    monkeypatch.setattr(bloom, "probe_filter_state", tracking_probe)
    cfg = CrawlConfig(
        workdir=str(tmp_path_factory.mktemp("crawl_large_tiny_bloom")), epochs=3, per_host_budget=10,
        bloom_bits=64, bloom_slices=1,
    )
    tiny = CrawlPlan(spark, cfg, spark.createDataFrame(site_pdf, schemas.SITE_PAGES), spark.createDataFrame(robots_pdf))
    tiny.run(spark.createDataFrame(seeds_pdf))
    assert epochs == [0, 1, 2] and probed == [1], probed  # epoch 0 has no filter yet

    def fpp(epoch):
        row = tiny.catalog.read("seen_filter", epoch).first()
        return bloom.predicted_fpp(row.n_items, row.m_bits, row.n_slices, row.k_hashes)

    assert fpp(0) < bloom.PROBE_BYPASS_FPP <= fpp(1)

    cols = ["epoch", "fetch_seq", "url_canon", "host", "result", "scheduled_offset_ms", "attempt"]

    def trace(cat):
        log = pd.concat([cat.read("fetch_log", ep).toPandas() for ep in (0, 1, 2)])
        return log.sort_values(["epoch", "fetch_seq"])[cols].reset_index(drop=True)

    got = trace(tiny.catalog)
    ref = pd.DataFrame(golden.trace).sort_values(["epoch", "fetch_seq"])[cols].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, ref, check_dtype=False)
    pd.testing.assert_frame_equal(got, trace(plan.catalog))
    got_seen = {r.url_canon for r in tiny.catalog.read_all("seen").collect()}
    assert got_seen == golden.seen
    assert got_seen == {r.url_canon for r in plan.catalog.read_all("seen", max_epoch=2).collect()}
