"""d6_seen_filter_anti over a directory-style parquet dataset, the layout
Spark itself writes: the entry sizes its filter from the parquet footers,
which must read a directory as well as a single file, and the result
must still equal the exact anti-join."""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402


def test_d6_on_directory_dataset_matches_anti_join(spark, tmp_path):
    sf = str(tmp_path)
    spark.range(1, 601).select(F.col("id").alias("o_orderkey")).repartition(3).write.parquet(
        f"{sf}/orders.parquet"
    )
    assert os.path.isdir(f"{sf}/orders.parquet")
    got = entrymod.queries()["d6_seen_filter_anti"](spark, sf)

    keys = spark.read.parquet(f"{sf}/orders.parquet").select(
        F.col("o_orderkey"),
        F.concat(F.lit("https://h"), (F.col("o_orderkey") % 50).cast("string"),
                 F.lit(".test/o/"), F.col("o_orderkey").cast("string")).alias("url_canon"),
    )
    seen = keys.filter(F.col("o_orderkey") % 3 == 0).select("url_canon")
    want = keys.select("url_canon").join(seen, "url_canon", "left_anti")
    assert sorted(r.url_canon for r in got.collect()) == sorted(r.url_canon for r in want.collect())
    assert got.count() == 400
