"""Edge cases across operators: degenerate inputs must not crash or
silently change semantics."""

from pyspark.sql import functions as F

from retailer_scrapers_spark.functions.urls import canonicalize_py, canonicalize_urls


def test_canonicalize_weird_urls(spark):
    cases = [
        "https://h.test/p?&&a=1&",          # empty params
        "https://h.test/p?a=1?b=2",          # second '?' inside query
        "https://h.test//double//slash",     # duplicate slashes preserved
        "https://h.test/p?utm_source=&ref",  # bare + empty tracking params
        "https://H.TEST/#",                  # empty fragment
        "ftp://files.test/x",                # non-http scheme
    ]
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = [r.c for r in canonicalize_urls(df, "url", "c").collect()]
    want = [canonicalize_py(u) for u in cases]
    assert got == want
    assert want[0] == "https://h.test/p?a=1"
    assert want[3] == "https://h.test/p"
    assert want[5] == "ftp://files.test/x"


def test_empty_dataframe_through_operators(spark):
    from retailer_scrapers_spark.operators.dedup import dedup_keep_promo, exact_dedup
    from retailer_scrapers_spark.operators.frontier import salt_hot_hosts, topk_per_host
    from retailer_scrapers_spark.operators.politeness import politeness_schedule

    empty = spark.createDataFrame(
        [], "name string, price string, promotion_price string, index long"
    )
    assert dedup_keep_promo(empty).count() == 0

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert exact_dedup(docs).count() == 0

    frontier = spark.createDataFrame(
        [], "url_canon string, host string, priority double, seq long, crawl_delay_s double"
    )
    assert topk_per_host(frontier, 5).count() == 0
    salted = salt_hot_hosts(frontier)
    assert politeness_schedule(salted, 100.0).count() == 0


def test_bloom_empty_build(spark):
    from retailer_scrapers_spark.operators.bloom import build_bloom_state, filter_unseen_split_state

    empty = spark.createDataFrame([], "url_canon string")
    state = build_bloom_state(empty, m_bits=1 << 10, k_hashes=3)
    assert state.count() == 0
    frontier = spark.createDataFrame([("https://a.test/1",)], "url_canon string")
    for n_slices in (None, 8):  # nothing probes positive in an empty filter
        unseen, dup = filter_unseen_split_state(frontier, state, empty, n_slices=n_slices)
        assert unseen.count() == 1 and dup.count() == 0


def test_single_row_everything(spark):
    from retailer_scrapers_spark.operators.dedup import minhash_lsh_pairs, simhash
    from retailer_scrapers_spark.operators.similarity import cosine_topk

    one_doc = spark.createDataFrame([(1, "just one tiny document here")], "doc_id long, text string")
    assert minhash_lsh_pairs(one_doc).count() == 0  # no pairs from one doc
    assert simhash(one_doc).count() == 1
    one_vec = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    got = cosine_topk(one_vec, [1.0, 0.0], k=5).collect()
    assert len(got) == 1 and got[0].cosine == 1.0


def test_get_price_unicode_and_weird_strings(spark):
    from retailer_scrapers_spark.functions.prices import NO_PRICE, get_price

    df = spark.createDataFrame(
        [("R1 234,99", None), ("— R9.99", None), ("NaN", None), ("R.5", None)],
        "old string, now string",
    )
    got = [r.p for r in df.select(get_price(F.col("old"), F.col("now")).alias("p")).collect()]
    # reference semantics: ANY digit validates → original string survives
    assert got[0] == "R1 234,99" and got[1] == "— R9.99" and got[3] == "R.5"
    assert got[2] == NO_PRICE  # 'NaN' has no digit
