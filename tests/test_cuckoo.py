"""Cuckoo filter: membership, deletion (the Bloom can't do this), fpp,
serialization — the retry-requeue 'un-see a URL' path (R4 + D6)."""

import numpy as np
import pytest

from retailer_scrapers_spark.operators.cuckoo import CuckooFilter


def _hashes(n, seed=0):
    return np.random.default_rng(seed).integers(-(2**62), 2**62, n, dtype=np.int64)


def test_membership_no_false_negatives():
    cf = CuckooFilter.for_capacity(10_000)
    h = _hashes(10_000)
    cf.add_hashes(h)
    assert cf.contains_hashes(h).all()
    fresh = _hashes(50_000, seed=9)
    fpp = cf.contains_hashes(fresh).mean()
    assert fpp < 0.01, fpp  # ~2*4/2^16 ≈ 1.2e-4 expected; generous bound


def test_delete_restores_unseen():
    cf = CuckooFilter.for_capacity(1000)
    h = _hashes(1000)
    cf.add_hashes(h)
    victim = h[:100]
    assert cf.delete_hashes(victim).all()
    assert not cf.contains_hashes(victim).any() or cf.contains_hashes(victim).mean() < 0.02
    assert cf.contains_hashes(h[100:]).all()  # others untouched
    assert cf.n_items == 900


def test_serialize_roundtrip():
    cf = CuckooFilter.for_capacity(500)
    h = _hashes(500)
    cf.add_hashes(h)
    rt = CuckooFilter.deserialize(cf.serialize())
    assert np.array_equal(rt.table, cf.table)
    assert rt.contains_hashes(h).all()
    assert (rt.n_buckets, rt.bucket_size, rt.n_items) == (cf.n_buckets, cf.bucket_size, cf.n_items)


def test_over_capacity_raises():
    cf = CuckooFilter(16, 2)  # 32 slots
    with pytest.raises(RuntimeError):
        cf.add_hashes(_hashes(100))


def test_distributed_sliced_build_and_probe(spark):
    """Cuckoo state built by upsert_cuckoo_state feeds the SAME
    slice-routed probe/verify as the Bloom state — exact unseen set."""
    from retailer_scrapers_spark.operators.bloom import filter_unseen_split_state
    from retailer_scrapers_spark.operators.cuckoo import upsert_cuckoo_state

    seen_urls = [(f"https://s.test/{i}",) for i in range(2000)]
    seen = spark.createDataFrame(seen_urls, "url_canon string")
    state = spark.createDataFrame(upsert_cuckoo_state(None, seen, capacity=1 << 13, n_slices=8).collect())
    assert state.agg({"n_items": "sum"}).first()[0] == 2000
    frontier = spark.createDataFrame(
        seen_urls[:300] + [(f"https://f.test/{i}",) for i in range(700)], "url_canon string"
    )
    unseen, dup = filter_unseen_split_state(frontier, state, seen, n_slices=8)
    assert sorted(r.url_canon for r in unseen.collect()) == sorted(f"https://f.test/{i}" for i in range(700))
    assert sorted(r.url_canon for r in dup.collect()) == sorted(u for (u,) in seen_urls[:300])


def test_epoch_loop_rebuilds_on_slice_overflow(spark, site_df, robots_df, seeds_df, monkeypatch, tmp_path_factory):
    """The crawl must survive a skewed-slice overflow that the aggregate
    headroom check could not predict: the delta upsert raising
    RuntimeError falls back to a doubled-capacity rebuild. The delta
    path is `upsert_cuckoo_state(state, …)` with a non-None state; the
    rebuild passes state=None — the wrapper fails only the former."""
    from retailer_scrapers_spark.operators import cuckoo as C
    from retailer_scrapers_spark.plans.crawl import CrawlConfig, CrawlPlan

    calls = {"n": 0}
    real = C.upsert_cuckoo_state

    def overflow_on_delta(state, df, url_col="url_canon", capacity=1 << 16, n_slices=None):
        if state is not None:
            calls["n"] += 1
            raise RuntimeError("cuckoo filter over capacity")
        return real(state, df, url_col=url_col, capacity=capacity, n_slices=n_slices)

    monkeypatch.setattr(C, "upsert_cuckoo_state", overflow_on_delta)
    work = str(tmp_path_factory.mktemp("cuckoo_overflow"))
    cfg = CrawlConfig(workdir=work, epochs=3, per_host_budget=6, filter_kind="cuckoo", bloom_bits=1 << 14)
    plan = CrawlPlan(spark, cfg, site_df, robots_df)
    plan.run(seeds_df, epochs=3)  # must not raise
    assert calls["n"] >= 1  # the insert path was attempted and failed over
    assert plan.catalog.latest_epoch("frontier") == 2


def test_upsert_cuckoo_state_build_and_delta(spark):
    """VERDICT r4 #1 (cuckoo side): build + delta-insert with the filter
    as a per-slice state DataFrame — no whole-filter collect. The state
    rows probe through the same slice-routed path as the Bloom, with
    exact membership (no false negatives) and untouched-slice blobs
    passing through byte-identical."""
    from pyspark.sql import functions as F

    from retailer_scrapers_spark.operators.bloom import probe_filter_state
    from retailer_scrapers_spark.operators.cuckoo import upsert_cuckoo_state

    seen = spark.createDataFrame([(f"https://s.test/{i}",) for i in range(2000)], "url_canon string")
    state = upsert_cuckoo_state(None, seen, capacity=1 << 13, n_slices=8)
    rows = {r.partition_id: r for r in state.collect()}
    assert sum(r.n_items for r in rows.values()) == 2000
    state = spark.createDataFrame(list(rows.values()))  # pin (lazy plans recompute)

    # no false negatives through the slice-routed probe
    probed = probe_filter_state(seen, state, n_slices=8)
    assert probed.filter(~F.col("__maybe_seen")).count() == 0

    # delta insert: new keys become members; slices with no delta keys
    # pass through byte-identical
    delta = spark.createDataFrame([(f"https://d.test/{i}",) for i in range(50)], "url_canon string")
    state2_rows = {r.partition_id: r for r in upsert_cuckoo_state(state, delta, capacity=1 << 13, n_slices=8).collect()}
    assert sum(r.n_items for r in state2_rows.values()) == 2050
    state2 = spark.createDataFrame(list(state2_rows.values()))
    both = seen.unionByName(delta)
    assert probe_filter_state(both, state2, n_slices=8).filter(~F.col("__maybe_seen")).count() == 0
    from retailer_scrapers_spark.operators.bloom import with_url_hashes
    touched = {
        r[0] & 7 for r in with_url_hashes(delta).select("__h1").collect()
    }
    for sid, r in state2_rows.items():
        if sid not in touched:
            assert bytes(r.filter_bytes) == bytes(rows[sid].filter_bytes)


def test_upsert_cuckoo_state_overflow_raises(spark):
    """A slice overflow inside the cogroup task surfaces at action time
    with the documented message the epoch loop's fallback matches."""
    import pytest as _pytest

    from retailer_scrapers_spark.operators.cuckoo import upsert_cuckoo_state

    tiny = upsert_cuckoo_state(
        None, spark.createDataFrame([("https://h.test/x",)], "url_canon string"),
        capacity=128, n_slices=2,
    )
    tiny = spark.createDataFrame(tiny.collect())
    flood = spark.createDataFrame([(f"https://h.test/f/{i}",) for i in range(5000)], "url_canon string")
    with _pytest.raises(Exception, match="over capacity"):
        upsert_cuckoo_state(tiny, flood, capacity=128, n_slices=2).collect()


def test_upsert_cuckoo_state_rejects_multi_generation_state(spark):
    """ADVICE r5: the cuckoo upsert consumes exactly ONE state row per
    slice — unlike the Bloom probe it cannot fold extra generations
    (fingerprints don't retain the key), so silently taking row 0 would
    drop entries (false negatives downstream). Unioned unmerged
    generations must fail loudly instead."""
    import pytest as _pytest

    from retailer_scrapers_spark.operators.cuckoo import upsert_cuckoo_state

    seen = spark.createDataFrame([(f"https://h.test/{i}",) for i in range(100)], "url_canon string")
    gen1 = spark.createDataFrame(upsert_cuckoo_state(None, seen, capacity=1 << 12, n_slices=2).collect())
    two_gens = gen1.unionByName(gen1)
    delta = spark.createDataFrame([("https://h.test/new",)], "url_canon string")
    with _pytest.raises(Exception, match="state rows"):
        upsert_cuckoo_state(two_gens, delta, capacity=1 << 12, n_slices=2).collect()
