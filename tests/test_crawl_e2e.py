"""End-to-end crawl: epoch loop, frontier drain, retries, checkpoints,
resume, products assembly, and the input_hint per-row invariants."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from retailer_scrapers_spark.functions.images import decode_image, phash64, psnr
from retailer_scrapers_spark.plans.catalog import SnapshotCatalog
from retailer_scrapers_spark.plans.crawl import CrawlConfig, CrawlPlan
from retailer_scrapers_spark.sources import synthetic_site as G


def test_frontier_drains_and_seen_covers_site(crawl_run, site_df):
    plan, _ = crawl_run
    frontier = plan.catalog.read("frontier")
    assert frontier.isEmpty()  # everything reachable was crawled
    seen = {r.url_canon for r in plan.catalog.read_all("seen").collect()}
    site_urls = {r.url_canon for r in site_df.collect()}
    # every site URL was eventually fetched (incl. seeded-5xx pages via retry)
    assert site_urls <= seen


def test_fetch_log_and_metrics_exist(crawl_run):
    plan, _ = crawl_run
    cat: SnapshotCatalog = plan.catalog
    assert cat.committed_epochs("fetch_log")
    log = cat.read("fetch_log")
    assert {"url_canon", "host", "epoch", "fetch_seq", "status", "result", "attempt", "partition_id",
            "wait_ms", "scheduled_offset_ms"} <= set(log.columns)
    retried = log.filter(F.col("status") >= 500)
    if retried.count():
        # the retry of a seeded-5xx URL appears later with attempt=1
        u = retried.collect()[0].url_canon
        again = plan.catalog.read_all("seen").filter(F.col("url_canon") == u)
        assert again.count() == 1
    metrics = cat.read("metrics")
    assert {"host", "result", "n", "epoch"} <= set(metrics.columns)


def test_politeness_respected_in_log(crawl_run):
    plan, _ = crawl_run
    cat = plan.catalog
    for ep in cat.committed_epochs("fetch_log"):
        pdf = cat.read("fetch_log", ep).toPandas()
        for host, grp in pdf.groupby("host"):
            offs = np.sort(grp.scheduled_offset_ms.to_numpy())
            if len(offs) > 1:
                delay = 5000 if host in ("shoprite.test", "checkers.test") else 10000
                assert (np.diff(offs) >= delay).all(), (ep, host)


def test_products_parity_shape(crawl_run, site_spec):
    _, products = crawl_run
    cols = ["index", "name", "price", "promotion_price", "retailer", "image_url", "promotion_valid"]
    assert products.columns == cols
    pdf = products.toPandas()
    assert len(pdf) > 300
    assert set(pdf.retailer.unique()) == {"Shoprite", "Checkers", "Pick n Pay", "Woolworths"}
    # D1/D3: (name, price) unique
    assert not pdf.duplicated(["name", "price"]).any()
    # D2: index unique per retailer
    assert not pdf.duplicated(["retailer", "index"]).any()
    # value shapes match the reference formats (woolworths C7 is a raw
    # float f-string → 'R189.6' without the trailing zero, :133)
    assert pdf.price.str.match(r"^R\d+(\.\d{1,2})?$").all()
    assert (pdf.promotion_price.notna() & (pdf.promotion_price != "")).all()
    # base offsets respected (O2)
    for retailer, base in G.BASE_OFFSETS.items():
        sub = pdf[pdf.retailer == retailer]
        assert (sub["index"] >= base).all(), retailer


def test_sentinel_and_decoy_absent(crawl_run):
    _, products = crawl_run
    pdf = products.toPandas()
    assert (pdf.name != G.SENTINEL_NAME).all()  # F2
    assert ~pdf.image_url.str.contains("discovery-vitality").any()  # F1


def test_image_invariants_phash_caption_psnr(crawl_run, corpus_pdf):
    """input_hint: decoded-pixel allclose (PSNR ≥ 40 dB lossy), byte-exact
    caption equality, phash parity vs the corpus."""
    plan, _ = crawl_run
    images = plan.catalog.read_all("images").toPandas()
    assert len(images) > 200
    corpus = corpus_pdf.set_index("image_id")
    for _, row in images.sample(60, random_state=42).iterrows():
        ref = corpus.loc[row.image_id]
        assert row.caption == ref["caption"]  # byte-exact caption
        assert row.phash == ref["phash"]
        got = decode_image(bytes(row["bytes"]), row.fmt)
        want = decode_image(bytes(ref["bytes"]), ref["fmt"])
        if row.fmt == "qjpg":
            assert psnr(want, got) >= 40.0 or np.array_equal(got, want)
        else:
            assert np.array_equal(got, want)
        assert phash64(got) == row.phash  # C12 verify-after-write


def test_skip_refetch_reuses_existing_image(crawl_run, existing_df):
    _, products = crawl_run
    p0 = G.product_at("shoprite.test", 0, 0)
    row = products.filter((F.col("name") == p0["name"]) & (F.col("retailer") == "Shoprite")).collect()
    assert row, "seeded product missing"
    # F5: name collides with existing_products row carrying a real image → reused
    assert row[0].image_url == G.image_url_of("shoprite.test", p0["image_id"])


def test_resume_matches_uninterrupted(spark, baseline_crawl_10x6, resumed_crawl_10x6):
    """R8: kill after epoch 2, resume, final state identical to one shot
    (the crash + fresh-driver resume happen in the shared fixture)."""
    cat1 = SnapshotCatalog(baseline_crawl_10x6, spark)
    cat2 = SnapshotCatalog(resumed_crawl_10x6, spark)
    seen1 = {r.url_canon for r in cat1.read_all("seen").collect()}
    seen2 = {r.url_canon for r in cat2.read_all("seen").collect()}
    assert seen1 == seen2
    f1 = cat1.read("frontier")
    f2 = cat2.read("frontier")
    assert f1.isEmpty() and f2.isEmpty()


def test_crawl_with_cuckoo_filter_matches_bloom_seen_set(
    spark, site_df, robots_df, seeds_df, crawl_run, tmp_path_factory
):
    """filter_kind='cuckoo' must produce the same crawl (the membership
    structure is an implementation detail of D6, not a semantics change)."""
    work = str(tmp_path_factory.mktemp("crawl_ckf"))
    cfg = CrawlConfig(workdir=work, epochs=10, per_host_budget=8, filter_kind="cuckoo", bloom_bits=1 << 14)
    plan = CrawlPlan(spark, cfg, site_df, robots_df)
    plan.run(seeds_df)
    bloom_plan, _ = crawl_run
    seen_cuckoo = {r.url_canon for r in plan.catalog.read_all("seen").collect()}
    seen_bloom = {r.url_canon for r in bloom_plan.catalog.read_all("seen").collect()}
    assert seen_cuckoo == seen_bloom
    assert plan.catalog.read("frontier").isEmpty()


def test_crawl_with_per_host_retry_budgets(spark, site_df, robots_df, seeds_df, crawl_run, tmp_path_factory):
    """A robots `max_attempts` column routes through the epoch loop
    (R4 per-host budgets). With unlimited budgets everywhere (-1) the
    synthetic site's transient 5xx pages still drain to the identical
    seen set (they succeed on retry before any cap could bind)."""
    robots2 = robots_df.withColumn("max_attempts", F.lit(-1).cast("int"))
    work = str(tmp_path_factory.mktemp("crawl_budget"))
    cfg = CrawlConfig(workdir=work, epochs=10, per_host_budget=8)
    plan = CrawlPlan(spark, cfg, site_df, robots2)
    plan.run(seeds_df)
    baseline_plan, _ = crawl_run
    seen_b = {r.url_canon for r in plan.catalog.read_all("seen").collect()}
    seen_a = {r.url_canon for r in baseline_plan.catalog.read_all("seen").collect()}
    assert seen_b == seen_a
    assert plan.catalog.read("frontier").isEmpty()


def test_compacted_crawl_matches_uncompacted(spark, site_df, robots_df, seeds_df, baseline_crawl_10x6, tmp_path_factory):
    """compact_seen_every folds seen deltas mid-crawl; the crawl result,
    final seen set, and a later resume are unaffected."""
    w1 = baseline_crawl_10x6
    w2 = str(tmp_path_factory.mktemp("comp_b"))
    cfg2 = CrawlConfig(workdir=w2, epochs=10, per_host_budget=6, compact_seen_every=2)
    plan2 = CrawlPlan(spark, cfg2, site_df, robots_df)
    plan2.run(seeds_df, epochs=4)  # crash after epoch 4 (compactions ran)
    plan2b = CrawlPlan(spark, cfg2, site_df, robots_df)
    plan2b.run(seeds_df, epochs=10)  # resume over compacted state
    s1 = {r.url_canon for r in SnapshotCatalog(w1, spark).read_all("seen").collect()}
    s2 = {r.url_canon for r in SnapshotCatalog(w2, spark).read_all("seen").collect()}
    assert s1 == s2
    import os

    assert os.path.isdir(f"{w2}/seen__compacted")  # maintenance actually ran


def test_resume_rederives_slice_count_from_state(
    spark, site_df, robots_df, seeds_df, baseline_crawl_10x6, tmp_path_factory
):
    """A resume must probe with the slicing the checkpointed filter was
    BUILT with, not the resuming cluster's dynamic default — hash
    routing (__slice = h1 & (n_slices−1)) diverging from the build
    mis-routes probes (false negatives). Crawl with an explicit 4-slice
    filter, "crash", resume with bloom_slices=None (dynamic default 8 on
    the local[8] test session): the resumed plan must re-derive 4 and
    finish with the exact baseline seen set."""
    work = str(tmp_path_factory.mktemp("resize_resume"))
    CrawlPlan(
        spark, CrawlConfig(workdir=work, epochs=10, per_host_budget=6, bloom_slices=4), site_df, robots_df
    ).run(seeds_df, epochs=2)  # "crash" after epoch 1

    plan2 = CrawlPlan(
        spark, CrawlConfig(workdir=work, epochs=10, per_host_budget=6, bloom_slices=None), site_df, robots_df
    )
    assert plan2.resume_epoch() == 2
    assert plan2.n_slices == 8  # dynamic default before state is read
    plan2.run(seeds_df, epochs=10)
    assert plan2.n_slices == 4  # re-derived from the checkpoint

    cat1 = SnapshotCatalog(baseline_crawl_10x6, spark)
    cat2 = SnapshotCatalog(work, spark)
    seen1 = {r.url_canon for r in cat1.read_all("seen").collect()}
    seen2 = {r.url_canon for r in cat2.read_all("seen").collect()}
    assert seen1 == seen2


# the tables one crawl epoch writes, in continuous politeness
EPOCH_TABLES = (
    "sched_state", "staged_html", "staged_heavy", "staged_pnp", "staged_wool", "staged_offer",
    "fetch_log", "metrics", "metrics_sketches", "seen_filter", "seen", "frontier",
)


class _Crash(Exception):
    pass


def test_crash_after_any_write_resumes_to_the_uninterrupted_state(
    spark, robots_df, seeds_df, tmp_path_factory, monkeypatch
):
    """R8 crash-point sweep. Epoch 1 of a continuous-politeness crawl
    with the cuckoo filter writes every per-epoch table, sched_state and
    the cuckoo upkeep included. The crawl is aborted after each of those
    writes in turn, then resumed by a fresh CrawlPlan; every committed
    table must equal an uninterrupted run's as a multiset (fetch_log
    without its execution-detail partition_id), and the filter must hold
    one fingerprint per seen URL — a replay neither duplicates staged
    rows nor re-inserts its keys."""
    import shutil
    from collections import Counter

    from retailer_scrapers_spark import schemas

    # woolworths' category seeds outrank its Daily Difference offer seed,
    # which outranks the second category pages they link to: the 26 s
    # window (10 s crawl delay) defers the offer to epoch 1, which
    # fetches it and one second page, so it writes staged_offer as well
    # as staged_wool
    site_df = spark.createDataFrame(G.build_site_pages(G.SiteSpec(wool_pages_per_category=2)), schemas.SITE_PAGES)
    url = F.col("url")
    seeds = seeds_df.withColumn(
        "priority",
        F.when(url.contains("searchCategory"), F.lit(2.0))
        .when(url.contains("DailyDifference"), F.lit(1.5))
        .otherwise(F.col("priority")),
    )

    def plan(work):
        cfg = CrawlConfig(
            workdir=work, epochs=2, per_host_budget=6, filter_kind="cuckoo", bloom_bits=1 << 14,
            politeness_mode="continuous", epoch_budget_s=26.0,
        )
        return CrawlPlan(spark, cfg, site_df, robots_df)

    prefix = str(tmp_path_factory.mktemp("sweep_prefix"))
    plan(prefix).run(seeds, epochs=1)

    written, crash_after = [], [None]
    write = SnapshotCatalog.write

    def crashing_write(self, df, table, epoch, meta=None):
        write(self, df, table, epoch, meta)
        if epoch == 1:
            written.append(table)
            if len(written) == crash_after[0]:
                raise _Crash(table)

    monkeypatch.setattr(SnapshotCatalog, "write", crashing_write)

    def fork(name):
        work = str(tmp_path_factory.mktemp(name))
        shutil.copytree(prefix, work, dirs_exist_ok=True)
        return work

    base = str(tmp_path_factory.mktemp("sweep_base"))
    plan(base).run(seeds)  # uninterrupted, from the seeds
    assert sorted(written) == sorted(EPOCH_TABLES), written
    order = list(written)

    def rows(cat, table, epoch):
        df = cat.read(table, epoch)
        if table == "fetch_log":
            df = df.drop("partition_id")
        return Counter(map(tuple, df.select(*sorted(df.columns)).collect()))

    cat_base = SnapshotCatalog(base, spark)
    want = {
        (t, e): rows(cat_base, t, e)
        for t in EPOCH_TABLES if t not in ("seen_filter", "metrics_sketches")
        for e in cat_base.committed_epochs(t)
    }
    for i, table in enumerate(order, start=1):
        work = fork(f"sweep_{i}")
        written.clear()
        crash_after[0] = i
        with pytest.raises(_Crash, match=table):
            plan(work).run(seeds)
        spark.catalog.clearCache()  # the aborted epoch's pins
        crash_after[0] = None
        resumed = plan(work)  # a fresh driver
        assert resumed.resume_epoch() == (2 if table == "frontier" else 1), table
        resumed.run(seeds)
        cat = SnapshotCatalog(work, spark)
        for (t, e), expected in want.items():
            assert e in cat.committed_epochs(t), (table, t, e)
            assert rows(cat, t, e) == expected, f"crash after {table}: {t} epoch {e} differs"
        for t in ("seen_filter", "metrics_sketches"):
            assert cat.committed_epochs(t) == cat_base.committed_epochs(t), (table, t)
        n_items = cat.read("seen_filter", 1).agg(F.sum("n_items")).collect()[0][0]
        assert n_items == cat.read_all("seen").count(), f"crash after {table}: filter items != |seen|"


def test_epoch_replay_does_not_duplicate_staged_rows(
    spark, site_df, robots_df, seeds_df, baseline_crawl_10x6, tmp_path_factory
):
    """staged_* tables commit BEFORE the epoch's frontier snapshot; a
    crash in that window replays the whole epoch on resume. Tear epoch 2
    of a default-politeness Bloom crawl by deleting its post-staging
    commits (fetch_log … frontier) while keeping the staged commits,
    then resume: staged tables must match an uninterrupted run
    row-for-row (the shared ``baseline_crawl_10x6`` fixture, identical
    config). The crash-point sweep covers the continuous/cuckoo path."""
    import shutil

    w1 = baseline_crawl_10x6
    w2 = str(tmp_path_factory.mktemp("replay_b"))

    cfg2 = CrawlConfig(workdir=w2, epochs=10, per_host_budget=6)
    CrawlPlan(spark, cfg2, site_df, robots_df).run(seeds_df, epochs=3)
    # tear epoch 2: everything written AFTER the staged_* appends vanishes
    for table in ("fetch_log", "metrics", "seen_filter", "seen", "frontier"):
        shutil.rmtree(f"{w2}/{table}/epoch=2", ignore_errors=True)
    plan_b = CrawlPlan(spark, cfg2, site_df, robots_df)
    assert plan_b.resume_epoch() == 2  # replays the torn epoch
    plan_b.run(seeds_df, epochs=10)

    cat1, cat2 = SnapshotCatalog(w1, spark), SnapshotCatalog(w2, spark)
    for table in ("staged_html", "staged_heavy", "staged_pnp", "staged_wool"):
        t1, t2 = cat1.read_all(table), cat2.read_all(table)
        if t1 is None:
            assert t2 is None, table
            continue
        rows1 = sorted(map(tuple, t1.collect()))
        rows2 = sorted(map(tuple, t2.collect()))
        assert rows1 == rows2, f"{table}: replay changed staged rows"


def test_torn_filter_commit_replay_does_not_double_insert(
    spark, site_df, robots_df, seeds_df, tmp_path_factory
):
    """On resume after a torn commit (seen_filter epoch N committed,
    frontier not), the filter must be read at the FRONTIER's epoch —
    reading the epoch-N filter would make the cuckoo replay re-insert
    epoch-N's keys (duplicated fingerprints, inflated n_items). With
    load_epoch reading seen_filter at epoch − 1, the replayed epoch
    inserts each key exactly once: Σ n_items == |seen| at the end of a
    default-politeness crawl torn several epochs before it drains."""
    import shutil

    work = str(tmp_path_factory.mktemp("torn_filter"))
    cfg = CrawlConfig(
        workdir=work, epochs=10, per_host_budget=6, filter_kind="cuckoo", bloom_bits=1 << 14
    )
    CrawlPlan(spark, cfg, site_df, robots_df).run(seeds_df, epochs=3)
    # tear epoch 2: filter + seen committed, frontier commit lost
    shutil.rmtree(f"{work}/frontier/epoch=2")
    plan = CrawlPlan(spark, cfg, site_df, robots_df)
    assert plan.resume_epoch() == 2
    plan.run(seeds_df, epochs=10)
    cat = SnapshotCatalog(work, spark)
    n_seen = cat.read_all("seen").count()
    n_items = cat.read("seen_filter").agg(F.sum("n_items")).collect()[0][0]
    assert n_items == n_seen, f"filter holds {n_items} fingerprints for {n_seen} seen URLs"
    assert cat.read("frontier").isEmpty()
