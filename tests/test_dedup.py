"""D1–D3, J4 reference dedup + training-data dedup family."""

from pyspark.sql import functions as F

from retailer_scrapers_spark.operators import dedup as D

ROWS = [
    # (index, name, price, promotion_price)
    (1, "apple", "R10", "No promo"),
    (2, "apple", "R10", "R8"),        # same (name, price), has promo → D1 keeps this
    (3, "apple", "R12", "No promo"),  # different price → separate key
    (4, "pear", "R5", "No promo"),
    (5, "pear", "R5", "No promo"),    # exact dup key, no promo → keeps idx 4
]


def _df(spark):
    return spark.createDataFrame(ROWS, "index long, name string, price string, promotion_price string")


def test_d1_promo_priority(spark):
    out = {(r.name, r.price): (r["index"], r.promotion_price) for r in D.dedup_keep_promo(_df(spark)).collect()}
    assert out[("apple", "R10")] == (2, "R8")   # promo wins over lower index
    assert out[("apple", "R12")] == (3, "No promo")
    assert out[("pear", "R5")] == (4, "No promo")  # tie → lowest index


def test_d3_keep_first(spark):
    out = {(r.name, r.price): r["index"] for r in D.drop_duplicates_first(_df(spark)).collect()}
    assert out[("apple", "R10")] == 1  # keep='first' by index, promo ignored
    assert out[("pear", "R5")] == 4


def test_j4_last_wins(spark):
    out = {r.name: r["index"] for r in D.last_wins(_df(spark), "name", "index").collect()}
    assert out == {"apple": 3, "pear": 5}


def test_d2_repair_duplicate_indexes(spark):
    df = spark.createDataFrame(
        [(10, "a", "R1"), (10, "b", "R2"), (10, "c", "R3"), (11, "d", "R4")],
        "index long, name string, price string",
    )
    out = D.repair_duplicate_indexes(df, "index", floor_value=99, order_cols=("name", "price"))
    rows = {r.name: r["index"] for r in out.collect()}
    # reference: ALL rows of a duplicated id are reassigned (keep=False);
    # base = max over the non-duplicated remainder (11) floored at 99 → 99
    assert rows["d"] == 11
    assert [rows["a"], rows["b"], rows["c"]] == [100, 101, 102]
    assert out.count() == 4
    assert out.select("index").distinct().count() == 4


def test_d2_floor_below_max(spark):
    # all rows duplicated → remainder empty → base = floor (reference:
    # max('-inf', floor) = floor), new ids = floor+1, floor+2
    df = spark.createDataFrame([(50, "a"), (50, "b")], "index long, name string")
    rows = {r.name: r["index"] for r in D.repair_duplicate_indexes(df, "index", 0, ("name",)).collect()}
    assert rows == {"a": 1, "b": 2}


def test_d2_base_from_nondup_remainder(spark):
    # ADVICE r1: input indexes [9, 9] with floor 17499 must yield
    # {17500, 17501} (reference), NOT {9, 17500}
    df = spark.createDataFrame([(9, "a"), (9, "b")], "index long, name string")
    rows = {r.name: r["index"] for r in D.repair_duplicate_indexes(df, "index", 17499, ("name",)).collect()}
    assert rows == {"a": 17500, "b": 17501}


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string"
    )
    got = sorted(r.doc_id for r in D.exact_dedup(df).collect())
    assert got == [1, 3]


def test_exact_dedup_null_text(spark):
    # ADVICE r2 (medium): null text is a legal key — the suspect join must
    # not drop it. Two null-text rows dedup to the lowest id, like the
    # window form where partitionBy groups nulls together.
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, None), (4, None), (5, "other")],
        "doc_id long, text string",
    )
    got = sorted(r.doc_id for r in D.exact_dedup(df).collect())
    assert got == [1, 3, 5]


def test_ngram_jaccard_releases_shingle_cache(spark):
    # ADVICE r2: the persisted shingle table must not leak for the session
    # lifetime — it is released when the result handle is dropped.
    import gc

    df = spark.createDataFrame(
        [(1, "one two three four"), (2, "one two three four")], "doc_id long, text string"
    )
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    out = D.ngram_jaccard_pairs(df, n=2, threshold=0.9)
    assert out.count() == 1
    assert spark.sparkContext._jsc.getPersistentRDDs().size() > before  # cache live while held
    del out
    gc.collect()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_minhash_estimates_jaccard(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words everywhere nothing shared at all here now ok"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "doc_id long, text string")
    pairs = {(r.a, r.b): r.est_jaccard for r in D.minhash_lsh_pairs(df, num_hashes=32, bands=16, shingle_k=3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.3
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_banded_table_cached_and_released(spark):
    """r6: the banded (id, band, bucket) table is persisted — the band
    explode materializes ONCE and both self-join sides plus the
    bucket-cap aggregation read the cache (previously 4 identical
    Generate subtrees executed, and each was codegen'd separately).
    Caches release with the result handle (no leak across a session)."""
    import gc

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [(i, base + f" tail{i}") for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = D.minhash_lsh_pairs(df, num_hashes=32, bands=16, shingle_k=3, bucket_cap=2000)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # both the signature cache AND the banded cache appear as in-memory
    # scans; no Generate (the band explode) above the banded cache reads
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert spark.sparkContext._jsc.getPersistentRDDs().size() >= before + 2
    del out, plan
    gc.collect()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_simhash_near_texts_close(spark):
    # simhash sign-sums need enough token mass to be stable — use ~100-token docs
    base = ("spark makes big data processing simple and fast for everyone who tries it today " * 8).strip()
    near = base.replace("everyone", "most").replace("today", "tomorrow")
    far = ("bananas oranges apples pears grapes melons kiwi fruit salad bowl morning lunch " * 8).strip()
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "doc_id long, text string")
    out = {r.doc_id: r.simhash for r in D.simhash(df).collect()}
    ham12 = bin(out[1] ^ out[2]).count("1")
    ham13 = bin(out[1] ^ out[3]).count("1")
    assert ham12 < ham13


def test_ngram_jaccard_pairs(spark):
    a = "one two three four five six seven eight"
    df = spark.createDataFrame([(1, a), (2, a), (3, "x y z w v u t s")], "doc_id long, text string")
    got = {(r.a, r.b): r.jaccard for r in D.ngram_jaccard_pairs(df, n=2, threshold=0.9).collect()}
    assert got == {(1, 2): 1.0}


def test_ngram_jaccard_hot_shingle_cap(spark):
    """VERDICT r1 #3: a boilerplate shingle shared by every doc must not
    generate quadratic candidate pairs; true near-dups (sharing rare
    shingles) still verify with their EXACT full-set Jaccard."""
    boiler = "all rights reserved contact us"
    docs = [(i, f"{boiler} unique{i} tail{i}") for i in range(40)]
    # one true near-dup pair sharing rare content
    docs += [(100, "the quick brown fox jumps over the lazy dog"),
             (101, "the quick brown fox jumps over the lazy dog today")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.a, r.b): r.jaccard for r in D.ngram_jaccard_pairs(df, n=2, threshold=0.5, df_cap=5).collect()}
    assert (100, 101) in got                       # rare-shingle pair survives
    assert all(a >= 100 for a, _ in got)           # boilerplate-only pairs capped away
    # and the score is the exact full-set Jaccard (8 shared of 9∪8=9 bigrams)
    assert abs(got[(100, 101)] - 8 / 9) < 1e-9


def test_ngram_jaccard_cap_noop_below_cap(spark):
    # with df_cap above every shingle's frequency the capped operator
    # matches the uncapped contract (pairs sharing >=1 shingle, exact jaccard)
    a = "one two three four five six seven eight"
    df = spark.createDataFrame([(1, a), (2, a), (3, "x y z w v u t s")], "doc_id long, text string")
    got = {(r.a, r.b): r.jaccard for r in D.ngram_jaccard_pairs(df, n=2, threshold=0.9, df_cap=1000).collect()}
    assert got == {(1, 2): 1.0}


def test_minhash_lsh_bucket_cap_bounds_pairs(spark):
    """A corpus of identical boilerplate docs lands in one bucket per
    band; with bucket_cap below the corpus size no quadratic pair set is
    generated, while distinct near-dup pairs in small buckets survive."""
    boiler = "terms and conditions apply see store for details every day " * 3
    docs = [(i, boiler) for i in range(30)]
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs += [(100, base), (101, base.replace("today", "tomorrow"))]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    capped = {(r.a, r.b) for r in D.minhash_lsh_pairs(df, num_hashes=32, bands=16, shingle_k=3, bucket_cap=10).collect()}
    assert (100, 101) in capped
    boiler_pairs = [p for p in capped if p[0] < 100]
    assert len(boiler_pairs) == 0  # 30-doc mega-bucket excluded, not exploded
    # sanity: without the cap the mega-bucket yields ~30*29/2 pairs
    uncapped = D.minhash_lsh_pairs(df, num_hashes=32, bands=16, shingle_k=3, bucket_cap=10**9).count()
    assert uncapped >= 30 * 29 / 2


def test_d2_prefix_sum_keeps_null_ids(spark):
    """Duplicated NULL ids are reassigned on both paths: the packed key
    of the prefix-sum path must not turn NULL (and drop the row at its
    block join)."""
    rows = [(None, "a", "R1"), (None, "b", "R2"), (1, "c", "R3"), (2, "d", "R4"), (2, "e", "R5")]
    df = spark.createDataFrame(rows, "index long, name string, price string")
    expected = [("a", 100), ("b", 101), ("c", 1), ("d", 102), ("e", 103)]
    for cap in (4_000_000, 0):  # window path, prefix-sum path
        out = D.repair_duplicate_indexes(df, "index", 99, ("name", "price"), block_cap=cap)
        assert sorted((r.name, r["index"]) for r in out.collect()) == expected, f"block_cap={cap}"


def test_d2_prefix_sum_keeps_its_sequence_cache_until_released(spark):
    """The prefix-sum path derives its result from global_sequence's
    handle (a cross join, then a union); the sequencing caches ride with
    the result (carry_caches), so its rank window reads the cached input,
    and they go with the result handle or its release_caches()."""
    import gc
    import re

    rows = [(i % 7, f"n{i % 13}", f"R{i % 5}") for i in range(200)]
    df = spark.createDataFrame(rows, "index long, name string, price string").repartition(7)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for release in (False, True):
        big = D.repair_duplicate_indexes(df, "index", 99, ("name", "price"), block_cap=0)
        gc.collect()
        plan = big._jdf.queryExecution().executedPlan().toString()
        # the packed sequencing input (the one with __ord) is read from its cache
        assert re.search(r"InMemoryTableScan \[[^\]]*__ord", plan), plan
        assert big.count() == 200
        if release:
            big.release_caches()
        else:
            del big
            gc.collect()
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == before, f"release_caches={release}"


def test_d2_hybrid_paths_identical(spark):
    """VERDICT r4 #3: the resequencing is hybrid on duplicate-subset
    size. Both paths — the bounded single-task window (small subsets)
    and the distributed prefix-sum (block_cap exceeded) — must produce
    identical output, under any input partitioning."""
    rows = [(i % 7, f"n{i % 13}", f"R{i % 5}") for i in range(200)]
    df = spark.createDataFrame(rows, "index long, name string, price string").repartition(7)
    small = D.repair_duplicate_indexes(df, "index", 99, ("name", "price"))  # window path
    big = D.repair_duplicate_indexes(df, "index", 99, ("name", "price"), block_cap=0)  # prefix-sum path
    # each path really ran: only the prefix-sum joins on its __gk block key
    plan = lambda d: d._jdf.queryExecution().optimizedPlan().toString()  # noqa: E731
    assert "__gk" not in plan(small)
    assert "__gk" in plan(big)
    key = lambda r: (r.name, r.price, r["index"])  # noqa: E731
    assert sorted(map(key, small.collect())) == sorted(map(key, big.collect()))
    # indexes are unique and contiguous above the base in both paths
    idx = sorted(r["index"] for r in small.collect())
    assert len(set(idx)) == len(idx)
