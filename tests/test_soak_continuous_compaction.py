"""Continuous-mode + compaction soak (VERDICT r3 next #10): a 12-epoch
crawl with ``compact_seen_every=4`` and continuous politeness —
asserting (a) cross-epoch carry spacing survives
compaction boundaries (exact parity vs the reference executor), (b) a
mid-crawl kill + resume lands on the identical final state, and (c)
``read_all('seen')`` stays O(few) files after compaction."""

import os

import pandas as pd
import pytest

from retailer_scrapers_spark.plans.catalog import SnapshotCatalog
from retailer_scrapers_spark.plans.crawl import CrawlConfig, CrawlPlan
from retailer_scrapers_spark.sources import synthetic_site as G
from tests.reference_impl.executor import RefConfig, run_reference

EPOCHS = 12
COMPACT_EVERY = 4
BUDGET_S = 25.0
PER_HOST = 6


def _cfg(work: str) -> CrawlConfig:
    return CrawlConfig(
        workdir=work,
        epochs=EPOCHS,
        per_host_budget=PER_HOST,
        epoch_budget_s=BUDGET_S,
        politeness_mode="continuous",
        compact_seen_every=COMPACT_EVERY,
    )


@pytest.fixture(scope="module")
def soak(spark, site_df, robots_df, seeds_df, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("soak"))
    plan = CrawlPlan(spark, _cfg(work), site_df, robots_df)
    plan.run(seeds_df)
    golden = run_reference(
        G.build_site_pages(G.SiteSpec()).to_dict("records"),
        G.build_robots().to_dict("records"),
        G.build_seeds().to_dict("records"),
        RefConfig(
            epochs=EPOCHS,
            per_host_budget=PER_HOST,
            epoch_budget_s=BUDGET_S,
            politeness_mode="continuous",
        ),
    )
    return plan, golden


TRACE_COLS = ["epoch", "fetch_seq", "url_canon", "scheduled_offset_ms", "attempt"]


def _engine_log(cat: SnapshotCatalog) -> pd.DataFrame:
    rows = [cat.read("fetch_log", ep).toPandas() for ep in cat.committed_epochs("fetch_log")]
    return pd.concat(rows).sort_values(["epoch", "fetch_seq"]).reset_index(drop=True)


def _engine_trace(cat: SnapshotCatalog) -> pd.DataFrame:
    return _engine_log(cat)[TRACE_COLS].reset_index(drop=True)


def test_carry_spacing_exact_across_compactions(soak):
    """Offsets and waits match the reference for ALL 12 epochs — in
    particular across the compaction boundaries after epochs 3, 7, 11,
    where the seen/sched state is re-read from the compacted
    generation."""
    plan, golden = soak
    engine = _engine_trace(plan.catalog)
    ref = (
        pd.DataFrame(golden.trace)
        .sort_values(["epoch", "fetch_seq"])[TRACE_COLS]
        .reset_index(drop=True)
    )
    assert engine["epoch"].max() >= COMPACT_EVERY  # crossed a boundary
    pd.testing.assert_frame_equal(engine, ref, check_dtype=False)
    # carry engaged: some host's FIRST fetch of a later epoch starts at
    # a nonzero offset (owed wait carried over the epoch/compaction
    # boundary) — per (epoch, host), since uncarried hosts start at 0
    log = _engine_log(plan.catalog)
    post = log[log.epoch > 0]
    first_off = post.groupby(["epoch", "host"]).scheduled_offset_ms.min()
    assert (first_off > 0).any(), first_off


def test_seen_set_exact_and_file_count_bounded(soak):
    plan, golden = soak
    cat = plan.catalog
    assert {r.url_canon for r in cat.read_all("seen").collect()} == golden.seen
    # compaction kept the raw delta count bounded: at most
    # COMPACT_EVERY-1 raw deltas above the last compacted generation
    comp = cat.committed_epochs("seen__compacted")
    assert comp, "seen was never compacted"
    raw_above = [e for e in cat.committed_epochs("seen") if e > comp[-1]]
    assert len(raw_above) <= COMPACT_EVERY, (comp, raw_above)
    # and the superseded raw delta dirs are actually gone from disk
    seen_dirs = [
        d for d in os.listdir(os.path.join(plan.cfg.workdir, "seen")) if d.startswith("epoch=")
    ]
    assert len(seen_dirs) <= COMPACT_EVERY, seen_dirs


def test_kill_after_compaction_resume_parity(
    spark, site_df, robots_df, seeds_df, tmp_path_factory, soak
):
    """Kill the crawl right after a compaction epoch (epoch 5 > first
    boundary at 3) and mid-cycle (epoch 9 > boundary at 7), resume to
    12 — final seen set and full fetch trace identical to the
    uninterrupted run."""
    plan_full, _ = soak
    work = str(tmp_path_factory.mktemp("soak_resume"))
    cfg = _cfg(work)
    CrawlPlan(spark, cfg, site_df, robots_df).run(seeds_df, epochs=5)
    CrawlPlan(spark, cfg, site_df, robots_df).run(seeds_df, epochs=9)
    CrawlPlan(spark, cfg, site_df, robots_df).run(seeds_df, epochs=EPOCHS)

    cat_a, cat_b = plan_full.catalog, SnapshotCatalog(work, spark)
    seen_a = {r.url_canon for r in cat_a.read_all("seen").collect()}
    seen_b = {r.url_canon for r in cat_b.read_all("seen").collect()}
    assert seen_a == seen_b
    pd.testing.assert_frame_equal(_engine_trace(cat_a), _engine_trace(cat_b), check_dtype=False)
