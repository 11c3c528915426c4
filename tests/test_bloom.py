"""D6 — partitioned Bloom URL-seen filter, held as per-slice state rows:
no false negatives, bounded fpp, executor-side merge, and exact
unseen-set semantics via the prefilter."""

import math

import numpy as np
from pyspark.sql import functions as F

from retailer_scrapers_spark.operators.bloom import (
    build_bloom_state,
    filter_unseen_split_state,
    merge_filter_state,
    probe_filter_state,
    with_url_hashes,
)


def _urls(spark, prefix: str, n: int):
    return spark.range(n).select(F.concat(F.lit(prefix), F.col("id").cast("string")).alias("url_canon"))


def _bench_urls(spark, n=3000, n_hosts=31):
    return spark.range(n).select(
        F.concat(
            F.lit("https://h"), (F.col("id") % n_hosts).cast("string"),
            F.lit(".test/p/"), F.col("id").cast("string"),
        ).alias("url_canon"),
        F.col("id"),
    )


def _positives(df, state, **kw) -> int:
    return probe_filter_state(df, state, **kw).filter(F.col("__maybe_seen")).count()


def _negatives(df, state, **kw) -> int:
    return probe_filter_state(df, state, **kw).filter(~F.col("__maybe_seen")).count()


def _slices(rows) -> dict[int, bytes]:
    return {r.partition_id: bytes(r.filter_bytes) for r in rows}


def test_no_false_negatives_and_fpp(spark):
    """Members all probe positive; at for-capacity sizing (n = 10^4,
    p = 1e-3) the fresh-key positive share stays under 5e-3."""
    n, fpp = 10_000, 1e-3
    m_bits = int(-n * math.log(fpp) / math.log(2) ** 2)
    k = round(m_bits / n * math.log(2))
    members = _urls(spark, "https://m.test/", n)
    state = spark.createDataFrame(build_bloom_state(members, m_bits=m_bits, k_hashes=k, n_slices=8).collect())
    assert _negatives(members, state, n_slices=8) == 0  # membership property
    fresh = _urls(spark, "https://q.test/", 50_000)
    fp_rate = _positives(fresh, state, n_slices=8) / 50_000
    assert fp_rate < 5e-3, fp_rate


def test_serialize_roundtrip_and_merge(spark):
    """Per-slice merge is a bytewise OR of equal-geometry states; the
    merged rows survive a driver round-trip unchanged and still probe."""
    kw = dict(m_bits=1 << 12, k_hashes=5, n_slices=4)
    a_urls = spark.createDataFrame([("a1",), ("a2",), ("a3",)], "url_canon string")
    b_urls = spark.createDataFrame([("b1",)], "url_canon string")
    a, b = build_bloom_state(a_urls, **kw).collect(), build_bloom_state(b_urls, **kw).collect()
    merged_rows = merge_filter_state(spark.createDataFrame(a), spark.createDataFrame(b)).collect()
    rt = spark.createDataFrame(merged_rows)
    assert _slices(rt.collect()) == _slices(merged_rows)
    assert sum(r.n_items for r in merged_rows) == 4
    empty = bytes((1 << 12) // 4 // 8)
    sa, sb = _slices(a), _slices(b)
    for sid, blob in _slices(merged_rows).items():
        want = np.frombuffer(sa.get(sid, empty), np.uint64) | np.frombuffer(sb.get(sid, empty), np.uint64)
        assert blob == want.tobytes()
    assert _negatives(a_urls.unionByName(b_urls), rt, n_slices=4) == 0


def test_build_probe_distributed(spark):
    urls = [(f"https://h{i % 7}.test/p/{i}",) for i in range(2000)]
    df = spark.createDataFrame(urls, "url_canon string").repartition(8)
    state = spark.createDataFrame(build_bloom_state(df, m_bits=1 << 16, k_hashes=7).collect())
    assert state.agg(F.sum("n_items")).first()[0] == 2000
    assert _negatives(df, state) == 0  # no false negatives
    fresh = spark.createDataFrame([(f"https://new.test/{i}",) for i in range(2000)], "url_canon string")
    assert _positives(fresh, state) < 2000 * 0.02


def test_filter_unseen_exact(spark):
    seen_urls = [(f"https://s.test/{i}",) for i in range(500)]
    seen = spark.createDataFrame(seen_urls, "url_canon string")
    state = build_bloom_state(seen, m_bits=1 << 14, k_hashes=5, n_slices=8)
    frontier = spark.createDataFrame(
        seen_urls[:100] + [(f"https://f.test/{i}",) for i in range(300)], "url_canon string"
    )
    unseen, dup = filter_unseen_split_state(frontier, state, seen, n_slices=8)
    got = sorted(r.url_canon for r in unseen.collect())
    assert got == sorted(f"https://f.test/{i}" for i in range(300))  # EXACT despite Bloom fpp
    assert sorted(r.url_canon for r in dup.collect()) == sorted(u for (u,) in seen_urls[:100])


def test_sliced_build_equivalent_and_state_roundtrip(spark, tmp_path):
    """Key-space-sliced build (the O(m)-total scale path): one row per
    slice, no false negatives, fpp bounded — and the per-slice state
    rows round-trip through a parquet checkpoint byte for byte."""
    urls = spark.createDataFrame([(f"https://h{i % 5}.test/{i}",) for i in range(3000)], "url_canon string")
    rows = build_bloom_state(urls, m_bits=1 << 16, k_hashes=7, n_slices=8).collect()
    assert sorted(r.partition_id for r in rows) == list(range(8))
    assert {(r.m_bits, r.k_hashes, r.n_slices) for r in rows} == {(1 << 16, 7, 8)}
    assert sum(r.n_items for r in rows) == 3000
    spark.createDataFrame(rows).write.parquet(str(tmp_path / "state"))
    state = spark.read.parquet(str(tmp_path / "state"))
    assert _slices(state.collect()) == _slices(rows)
    assert _negatives(urls, state) == 0  # no FN
    fresh = spark.createDataFrame([(f"https://x.test/{i}",) for i in range(3000)], "url_canon string")
    assert _positives(fresh, state) < 90


def test_filter_unseen_without_bloom(spark):
    """No filter state: the exact anti/semi pair. Nothing seen yet:
    every row is unseen and no row is a duplicate."""
    seen = spark.createDataFrame([("a",)], "url_canon string")
    frontier = spark.createDataFrame([("a",), ("b",)], "url_canon string")
    unseen, dup = filter_unseen_split_state(frontier, None, seen)
    assert [r.url_canon for r in unseen.collect()] == ["b"]
    assert [r.url_canon for r in dup.collect()] == ["a"]
    unseen, dup = filter_unseen_split_state(frontier, None, None)
    assert unseen.count() == 2 and dup.count() == 0


def _km_oracle(seen_h, probe_h, m_bits: int, k: int, n_slices: int):
    """Numpy Kirsch-Mitzenmacher oracle over the ``with_url_hashes``
    columns: per-slice bit tables built from ``seen_h`` and membership
    flags for ``probe_h``. slice = h1 & (n-1); local = ((h1 >> shift) +
    i·(h2|1)) mod m_slice."""
    m_slice = m_bits // n_slices
    shift = np.uint64(n_slices.bit_length() - 1)

    def index(h):
        u1, u2 = h[:, 0].astype(np.uint64), h[:, 1].astype(np.uint64) | np.uint64(1)
        i = np.arange(k, dtype=np.uint64)[None, :]
        local = ((u1 >> shift)[:, None] + i * u2[:, None]) % np.uint64(m_slice)
        return (u1 & np.uint64(n_slices - 1)).astype(np.int64)[:, None] * m_slice + local.astype(np.int64)

    bits = np.zeros(m_bits, dtype=bool)
    bits[index(seen_h).ravel()] = True
    words = np.packbits(bits, bitorder="little").view(np.uint64).reshape(n_slices, -1)
    return words, bits[index(probe_h)].all(axis=1)


def test_state_path_matches_km_oracle(spark):
    """The slice-routed build and probe agree bit-for-bit and
    flag-for-flag with an independent numpy oracle of the same hashing."""
    urls = _bench_urls(spark)
    seen = urls.filter(F.col("id") % 2 == 0).select("url_canon")
    urls = urls.select("url_canon")
    m_bits, k, n = 1 << 16, 7, 8

    def hashes(df):
        rows = with_url_hashes(df).select("url_canon", "__h1", "__h2").collect()
        return [r.url_canon for r in rows], np.array([(r["__h1"], r["__h2"]) for r in rows], dtype=np.int64)

    _, seen_h = hashes(seen)
    names, probe_h = hashes(urls)
    words, flags = _km_oracle(seen_h, probe_h, m_bits, k, n)
    state = spark.createDataFrame(build_bloom_state(seen, m_bits=m_bits, k_hashes=k, n_slices=n).collect())
    blobs, zero = _slices(state.collect()), bytes(words.shape[1] * 8)
    assert [blobs.get(sid, zero) for sid in range(n)] == [w.tobytes() for w in words]
    got = {r.url_canon: r["__maybe_seen"] for r in probe_filter_state(urls, state, n_slices=n).collect()}
    assert got == dict(zip(names, flags.tolist()))
    assert sum(got.values()) >= len(seen_h)  # every seen URL probes positive (no FN)


def test_state_probe_no_whole_filter_broadcast(spark):
    """Filter state ≫ one slice: the probe plan must route by slice
    (FlatMapCoGroupsInArrow) with NO broadcast of the filter and no
    driver collect in the build (build returns a lazy DataFrame)."""
    urls = _bench_urls(spark, n=5000)
    seen = urls.filter(F.col("id") % 2 == 0).select("url_canon")
    state = build_bloom_state(seen, m_bits=1 << 18, k_hashes=7, n_slices=8)
    rows = state.collect()
    assert len(rows) == 8 and len({r.partition_id for r in rows}) == 8  # state spans all 8 slices
    probed = probe_filter_state(urls.select("url_canon"), state, n_slices=8)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInArrow" in plan, plan
    assert "Broadcast" not in plan, plan


def test_merge_filter_state_matches_union_build(spark):
    """Executor-side reduce-by-slice OR equals building over A ∪ B, byte
    for byte in every slice, and the per-slice n_items add up."""
    urls = _bench_urls(spark)
    half_a = urls.filter(F.col("id") % 2 == 0).select("url_canon")
    half_b = urls.filter(F.col("id") % 2 == 1).select("url_canon")
    kw = dict(m_bits=1 << 16, k_hashes=7, n_slices=8)
    merged = merge_filter_state(build_bloom_state(half_a, **kw), build_bloom_state(half_b, **kw)).collect()
    whole = build_bloom_state(half_a.unionByName(half_b), **kw).collect()
    assert sum(r.n_items for r in merged) == 3000
    assert {r.partition_id: r.n_items for r in merged} == {r.partition_id: r.n_items for r in whole}
    assert _slices(merged) == _slices(whole)


def test_filter_unseen_split_state_exact(spark):
    """Exactness contract of the state-path split: (unseen, dup) is the
    true membership partition of the frontier — including when the state
    holds MULTIPLE unmerged delta generations per slice (probe ORs)."""
    urls = _bench_urls(spark, n=2000)
    seen_a = urls.filter(F.col("id") % 4 == 0).select("url_canon")
    seen_b = urls.filter(F.col("id") % 4 == 1).select("url_canon")
    seen = seen_a.unionByName(seen_b)
    kw = dict(m_bits=1 << 16, k_hashes=7, n_slices=8)
    # two generations, deliberately NOT merged
    state = build_bloom_state(seen_a, **kw).unionByName(build_bloom_state(seen_b, **kw))
    unseen, dup = filter_unseen_split_state(urls.select("url_canon"), state, seen, n_slices=8)
    got_unseen = {r.url_canon for r in unseen.collect()}
    got_dup = {r.url_canon for r in dup.collect()}
    truth_seen = {r.url_canon for r in seen.collect()}
    all_urls = {r.url_canon for r in urls.collect()}
    assert got_dup == truth_seen
    assert got_unseen == all_urls - truth_seen


def test_state_probe_survives_long_typed_partition_id(spark):
    """Regression: a LONG-typed partition_id (schema inference on a
    reloaded state) must not mis-route cogroup keys — mis-routing makes
    slices meet the wrong rows and produces FALSE NEGATIVES, silently
    breaking seen-set exactness."""
    urls = _bench_urls(spark, n=2000)
    seen = urls.filter(F.col("id") % 2 == 0).select("url_canon")
    state = build_bloom_state(seen, m_bits=1 << 16, k_hashes=7, n_slices=8)
    long_state = spark.createDataFrame(state.collect())  # ints infer as LongType
    assert str(long_state.schema["partition_id"].dataType) == "LongType()"
    fn = (
        probe_filter_state(seen, long_state, n_slices=8)
        .filter(~F.col("__maybe_seen"))
        .count()
    )
    assert fn == 0


def test_exact_verify_has_no_seen_side_exchange(spark):
    """VERDICT r5 #1: the exact-verify backstop must never SHUFFLE the
    seen table. The flipped shape scans seen into a BroadcastHashJoin
    LeftSemi against the broadcast positives keys; the only
    hash-partitioning Exchange anywhere in the plan is the probe's own
    slice routing — none keyed on url_canon."""
    import re

    urls = _bench_urls(spark, n=2000)
    seen = urls.filter(F.col("id") % 2 == 0).select("url_canon")
    state = build_bloom_state(seen, m_bits=1 << 16, k_hashes=7, n_slices=8)
    unseen, dup = filter_unseen_split_state(urls.select("url_canon"), state, seen, n_slices=8)
    for df in (unseen, dup):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        for m in re.finditer(r"Exchange hashpartitioning\(([^,)]*)", plan):
            # probe routing only: the frontier by __slice, the (tiny)
            # per-slice state rows by partition_id — never url_canon
            assert "__slice" in m.group(1) or "partition_id" in m.group(1), plan
    # exactness is untouched by the plan flip
    truth = {r.url_canon for r in seen.collect()}
    assert {r.url_canon for r in dup.collect()} == truth
    assert {r.url_canon for r in unseen.collect()} == {
        r.url_canon for r in urls.select("url_canon").collect()
    } - truth


def test_exact_verify_forced_shuffled_by_negative_guard(spark):
    """A NEGATIVE verify_broadcast_max_rows forces the exact shuffled
    anti/semi pair with no sizing job and no positives broadcast — for
    callers that already know from input metadata that the positives are
    past the broadcast crossover (the scale-adaptive d6 entry at large
    SF). Results must be identical to the flipped shape."""
    urls = _bench_urls(spark, n=2000)
    seen = urls.filter(F.col("id") % 2 == 0).select("url_canon")
    state = build_bloom_state(seen, m_bits=1 << 16, k_hashes=7, n_slices=8)
    unseen, dup = filter_unseen_split_state(
        urls.select("url_canon"), state, seen, n_slices=8, verify_broadcast_max_rows=-1
    )
    # the verify is the direct anti-join, not the flip: the flipped
    # shape nests a LeftSemi (matched = seen ⋉ positives) inside the
    # unseen plan's broadcast build; the forced pair has no semi at all
    # (Catalyst may still auto-broadcast the tiny test-sized build side,
    # so the node TYPE is not the discriminator — the join shape is)
    plan = unseen._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan, plan
    truth = {r.url_canon for r in seen.collect()}
    assert {r.url_canon for r in dup.collect()} == truth
    assert {r.url_canon for r in unseen.collect()} == {
        r.url_canon for r in urls.select("url_canon").collect()
    } - truth


def test_probe_rejects_incompatible_state_blobs():
    """ADVICE r5: a pre-state-DataFrame SCK1 checkpoint or a mis-sized
    blob must fail loudly, never be probed as garbage bits (garbage
    probes can yield FALSE NEGATIVES, breaking seen-set exactness)."""
    import pytest

    from retailer_scrapers_spark.operators.bloom import _probe_slice_blob

    h1 = np.array([1, 2], dtype=np.int64)
    h2 = np.array([3, 4], dtype=np.int64)
    with pytest.raises(ValueError, match="incompatible filter state"):
        _probe_slice_blob(b"SCK1" + b"\x00" * 64, 7, 3, h1, h2)
    with pytest.raises(ValueError, match="not word-aligned"):
        _probe_slice_blob(b"\x00" * 13, 7, 3, h1, h2)
    with pytest.raises(ValueError, match="incompatible filter state"):
        # 128 bytes = 1024 bits, but the state row declares 2048
        _probe_slice_blob(b"\x00" * 128, 7, 3, h1, h2, expected_m_slice=2048)
    # a correctly-sized blob still probes fine
    out = _probe_slice_blob(b"\x00" * 128, 7, 3, h1, h2, expected_m_slice=1024)
    assert not out.any()


def test_state_probe_empty_state_unknown_slicing(spark):
    """Library edge: an EMPTY state with n_slices unspecified must probe
    all-False (nothing is in an empty filter), not crash inferring the
    slice count from a row that isn't there."""
    from retailer_scrapers_spark.operators.bloom import STATE_DDL, probe_filter_state

    urls = _bench_urls(spark, n=50)
    empty = spark.createDataFrame([], STATE_DDL)
    probed = probe_filter_state(urls.select("url_canon"), empty).collect()
    assert len(probed) == 50 and not any(r["__maybe_seen"] for r in probed)


def test_predicted_fpp_hand_values():
    """(1 − e^(−k·n/m_slice))^k with m_slice = m_bits / n_slices."""
    from retailer_scrapers_spark.operators.bloom import predicted_fpp

    assert predicted_fpp(0, 1 << 10, 1, 7) == 0.0
    # k = 1: 1 − e^(−n/m) = 1 − e^(−0.5)
    assert abs(predicted_fpp(64, 128, 1, 1) - 0.393469) < 1e-6
    # 2 bits per item, k = 7 (the reseed filter: 32,768 keys per slice,
    # 2^18 bits over 4 slices): (1 − e^(−3.5))^7
    assert abs(predicted_fpp(32_768, 1 << 18, 4, 7) - 0.806833) < 1e-6
    # one slice's row stands for the whole filter
    assert predicted_fpp(125, 8_000, 8, 5) == predicted_fpp(1_000, 8_000, 1, 5)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _split_sets(unseen, dup):
    return sorted(r.url_canon for r in unseen.collect()), sorted(r.url_canon for r in dup.collect())


def test_saturated_state_skips_probe(spark):
    """At 2 bits per item and k = 7 the predicted fpp is past the
    crossover: neither output runs the slice-routed probe (no Arrow
    cogroup, no ``__slice`` exchange), and the split still equals the
    truth and the probed split of a roomy filter, which does probe."""
    from retailer_scrapers_spark.operators.bloom import PROBE_BYPASS_FPP, predicted_fpp

    urls = _bench_urls(spark, n=2000)
    seen = urls.filter(F.col("id") % 2 == 0).select("url_canon")
    frontier = urls.select("url_canon")
    saturated = spark.createDataFrame(build_bloom_state(seen, m_bits=2_000, k_hashes=7, n_slices=8).collect())
    row = saturated.first()
    assert predicted_fpp(row.n_items, row.m_bits, row.n_slices, row.k_hashes) >= PROBE_BYPASS_FPP
    unseen, dup = filter_unseen_split_state(frontier, saturated, seen, n_slices=8)
    for df in (unseen, dup):
        assert "FlatMapCoGroupsInArrow" not in _plan(df) and "__slice" not in _plan(df), _plan(df)
    got = _split_sets(unseen, dup)

    truth = {r.url_canon for r in seen.collect()}
    assert got == (sorted({r.url_canon for r in frontier.collect()} - truth), sorted(truth))
    roomy = build_bloom_state(seen, m_bits=1 << 16, k_hashes=7, n_slices=8)
    r_unseen, r_dup = filter_unseen_split_state(frontier, roomy, seen, n_slices=8)
    assert "FlatMapCoGroupsInArrow" in _plan(r_unseen), _plan(r_unseen)
    assert _split_sets(r_unseen, r_dup) == got


def test_loaded_cuckoo_state_still_probes(spark):
    """A cuckoo table at 0.9 load keeps the probe: its fpp does not grow
    with load the way a Bloom filter's does (its row geometry alone
    would read as saturated)."""
    from retailer_scrapers_spark.operators.cuckoo import upsert_cuckoo_state

    urls = _bench_urls(spark, n=8_000)
    seen = urls.filter(F.col("id") < 7_372).select("url_canon")
    state = spark.createDataFrame(upsert_cuckoo_state(None, seen, capacity=64, n_slices=1).collect())
    row = state.first()
    assert bytes(row.filter_bytes[:4]) == b"CKF1" and row.n_items / row.m_bits >= 0.89
    unseen, dup = filter_unseen_split_state(urls.select("url_canon"), state, seen, n_slices=1)
    assert "FlatMapCoGroupsInArrow" in _plan(unseen), _plan(unseen)
    truth = {r.url_canon for r in seen.collect()}
    assert _split_sets(unseen, dup) == (
        sorted({r.url_canon for r in urls.collect()} - truth), sorted(truth)
    )


def test_unmerged_generations_keep_the_probe(spark):
    """Two unmerged generations, each below the crossover, saturate the
    filter together. One state row then under-counts the fill and the
    rule keeps the probe — the safe side — while the merged state skips
    it. Both give the exact split."""
    urls = _bench_urls(spark, n=2000)
    seen_a = urls.filter(F.col("id") % 4 == 0).select("url_canon")
    seen_b = urls.filter(F.col("id") % 4 == 1).select("url_canon")
    seen = seen_a.unionByName(seen_b)
    kw = dict(m_bits=2_048, k_hashes=7, n_slices=8)
    two_gens = build_bloom_state(seen_a, **kw).unionByName(build_bloom_state(seen_b, **kw))
    merged = merge_filter_state(build_bloom_state(seen_a, **kw), build_bloom_state(seen_b, **kw))
    truth = {r.url_canon for r in seen.collect()}
    want = (sorted({r.url_canon for r in urls.collect()} - truth), sorted(truth))
    unseen, dup = filter_unseen_split_state(urls.select("url_canon"), two_gens, seen, n_slices=8)
    assert "FlatMapCoGroupsInArrow" in _plan(unseen), _plan(unseen)
    assert _split_sets(unseen, dup) == want
    unseen, dup = filter_unseen_split_state(urls.select("url_canon"), merged, seen, n_slices=8)
    assert "FlatMapCoGroupsInArrow" not in _plan(unseen), _plan(unseen)
    assert _split_sets(unseen, dup) == want


def _jobs_run(spark, group: str, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_unknown_slicing_call_runs_no_extra_job(spark, tmp_path):
    """Called with ``n_slices=None`` (as the reseed path calls it), the
    split runs no more Spark jobs than probe + verify composed by hand —
    the one state-row read replaces the probe's own slice-count lookup —
    for a roomy state and for a saturated one."""
    from retailer_scrapers_spark.operators.bloom import (
        VERIFY_BROADCAST_DEFAULT_ROWS,
        _exact_verify_scan_side,
        _own_pin,
    )

    urls = _bench_urls(spark, n=2000)
    seen = urls.filter(F.col("id") % 2 == 0).select("url_canon")
    frontier = urls.select("url_canon")
    for name, m_bits in (("roomy", 1 << 16), ("saturated", 2_000)):
        path = str(tmp_path / name)
        build_bloom_state(seen, m_bits=m_bits, k_hashes=7, n_slices=8).write.parquet(path)
        state = spark.read.parquet(path)
        held = []
        pin = _own_pin(held)

        def composed():
            probed = pin(probe_filter_state(frontier, state))
            positives = probed.filter(F.col("__maybe_seen")).drop("__maybe_seen")
            verified, dup = _exact_verify_scan_side(
                positives, seen, "url_canon", pin, max_broadcast_rows=VERIFY_BROADCAST_DEFAULT_ROWS
            )
            probed.filter(~F.col("__maybe_seen")).drop("__maybe_seen").unionByName(verified).collect()
            dup.collect()

        def split():
            unseen, dup = filter_unseen_split_state(frontier, state, seen, pin=pin)
            unseen.collect()
            dup.collect()

        n_composed = _jobs_run(spark, f"composed-{name}", composed)
        n_split = _jobs_run(spark, f"split-{name}", split)
        for d in held:
            d.unpersist()
        assert 0 < n_split <= n_composed, (name, n_split, n_composed)
