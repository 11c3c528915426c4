"""HyperLogLog (Spark's ``hll_sketch_agg`` at lgK 12, the crawl's
``hll_urls`` sketch): accuracy, merge equals union, a round trip
through parquet, and the distributed per-key build."""

from pyspark.sql import functions as F

LG_K = 12


def _values(spark, n, start=0, repeat=1):
    """Values ``v{start}`` … ``v{start + n − 1}``, each ``repeat``
    times, over 8 partitions."""
    ids = spark.range(n * repeat, numPartitions=8)
    return ids.select(F.concat(F.lit("v"), (F.col("id") % n + start).cast("string")).alias("v"))


def _sketch(df):
    return df.agg(F.hll_sketch_agg("v", LG_K).alias("s"))


def _estimate(sketch_df):
    return sketch_df.select(F.hll_sketch_estimate("s")).collect()[0][0]


def test_estimate_accuracy(spark):
    est = _estimate(_sketch(_values(spark, 100_000)))
    # standard error ≈ 1.04/sqrt(4096) ≈ 1.6%; allow 5%
    assert abs(est - 100_000) / 100_000 < 0.05, est


def test_duplicates_dont_inflate(spark):
    est = _estimate(_sketch(_values(spark, 1000, repeat=5)))  # same values repeatedly
    assert abs(est - 1000) / 1000 < 0.10


def test_small_range_linear_counting(spark):
    est = _estimate(_sketch(_values(spark, 50)))
    assert abs(est - 50) < 8


def test_merge_equals_union(spark):
    a, b = _values(spark, 30_000, start=0), _values(spark, 30_000, start=20_000)
    sa, sb = _sketch(a), _sketch(b)
    merged = sa.unionByName(sb).agg(F.hll_union_agg("s").alias("s"))
    whole = _sketch(a.unionByName(b)).agg(F.hll_union_agg("s").alias("s"))
    # register-max merge == the sketch of the union, byte for byte
    assert merged.collect()[0][0] == whole.collect()[0][0]
    assert abs(_estimate(merged) - 50_000) / 50_000 < 0.05


def test_serialize_roundtrip(spark, tmp_path):
    sk = _sketch(_values(spark, 5000))
    path = str(tmp_path / "hll")
    sk.write.parquet(path)
    back = spark.read.parquet(path)
    assert back.collect()[0][0] == sk.collect()[0][0]
    assert _estimate(back) == _estimate(sk)


def test_hll_by_key_distributed(spark):
    rows = [(f"h{i % 4}.test", f"https://h{i % 4}.test/p/{i}") for i in range(40_000)]
    df = spark.createDataFrame(rows, "host string, url string").repartition(8)
    est = {
        r.host: r.est
        for r in df.groupBy("host").agg(F.hll_sketch_estimate(F.hll_sketch_agg("url", LG_K)).alias("est")).collect()
    }
    assert set(est) == {f"h{i}.test" for i in range(4)}
    for host, e in est.items():
        # 10k at lgK 12: 1.6% standard error → 8% bound
        assert abs(e - 10_000) / 10_000 < 0.08, (host, e)
