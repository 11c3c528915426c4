"""Quantile sketch (Spark's KLL, ``kll_sketch_agg_*``; the crawl's
``kll_wait_ms`` sketch and the ``tdigest_value_quantiles`` entry):
accuracy, merge close to the whole, order independence below ``k``,
a round trip through parquet, and the distributed per-key build.

KLL bounds the *rank* error, uniformly over the distribution (about
0.3% at k = 1000), and compacts at random above ``k``, so the fences
below are set from k = 1000."""

import numpy as np
from pyspark.sql import functions as F

K = 1000


def _sketch(spark, values, parts=8):
    df = spark.createDataFrame([(float(v),) for v in values], "v double").repartition(parts)
    return df.agg(F.kll_sketch_agg_double("v", K).alias("s"))


def _quantiles(sketch_df, qs):
    return sketch_df.select(F.kll_sketch_get_quantile_double("s", F.array(*map(F.lit, qs)))).collect()[0][0]


def _merge(a, b):
    return a.unionByName(b).agg(F.kll_merge_agg_double("s").alias("s"))


def test_quantile_accuracy_uniform(spark):
    rng = np.random.default_rng(42)
    x = rng.uniform(0, 1000, 50_000)
    sk = _sketch(spark, x, parts=10)
    qs = (0.01, 0.1, 0.5, 0.9, 0.99)
    for q, got in zip(qs, _quantiles(sk, qs)):
        want = np.quantile(x, q)
        assert abs(got - want) < 15, (q, got, want)  # 1.5% of range
    # compacted far below the 400 KB of raw samples
    assert sk.select(F.length("s")).collect()[0][0] < 50_000


def test_merge_close_to_whole(spark):
    rng = np.random.default_rng(2)
    a, b = rng.exponential(5, 20_000), rng.exponential(5, 20_000)
    whole = np.sort(np.concatenate([a, b]))
    qs = (0.1, 0.5, 0.9, 0.99)
    merged = _quantiles(_merge(_sketch(spark, a), _sketch(spark, b)), qs)
    direct = _quantiles(_sketch(spark, whole), qs)
    for q, m, d in zip(qs, merged, direct):
        # compare where each answer sits in the exact distribution
        rank_m = np.searchsorted(whole, m, side="right") / len(whole)
        rank_d = np.searchsorted(whole, d, side="right") / len(whole)
        assert abs(rank_m - rank_d) < 0.01, (q, m, d)
        assert abs(rank_m - q) < 0.01, (q, rank_m)


def test_serialize_roundtrip_and_empty(spark, tmp_path):
    empty = spark.createDataFrame([], "v double").agg(F.kll_sketch_agg_double("v").alias("s"))
    assert empty.select(F.kll_sketch_get_n_double("s")).collect()[0][0] == 0
    sk = _sketch(spark, [3.0, 1.0, 2.0])
    path = str(tmp_path / "kll")
    sk.write.parquet(path)
    back = spark.read.parquet(path)
    assert back.collect()[0][0] == sk.collect()[0][0]
    assert _quantiles(back, (0.5,)) == _quantiles(sk, (0.5,)) == [2.0]


def test_order_independence(spark):
    # at most k items: the sketch holds them all, so any arrival order
    # (and any merge of partials) gives the exact order statistics
    x = np.arange(1000, dtype=float)
    qs = [i / 20 for i in range(1, 20)]
    fwd = _quantiles(_sketch(spark, x, parts=1), qs)
    rev = _quantiles(_sketch(spark, x[::-1], parts=7), qs)
    assert fwd == rev
    assert fwd == [float(np.quantile(x, q, method="inverted_cdf")) for q in qs]


def test_tdigest_by_key_distributed(spark):
    rng = np.random.default_rng(7)
    rows = [(f"h{i % 3}.test", float(rng.gamma(2.0, 50.0))) for i in range(30_000)]
    df = spark.createDataFrame(rows, "host string, latency_ms double").repartition(8)
    p95 = {
        r.host: r.p95
        for r in df.groupBy("host")
        .agg(F.kll_sketch_get_quantile_double(F.kll_sketch_agg_double("latency_ms", K), F.lit(0.95)).alias("p95"))
        .collect()
    }
    assert set(p95) == {"h0.test", "h1.test", "h2.test"}
    import collections

    by_host = collections.defaultdict(list)
    for h, v in rows:
        by_host[h].append(v)
    for h, est in p95.items():
        exact = np.quantile(by_host[h], 0.95)
        assert abs(est - exact) / exact < 0.05, (h, est, exact)
