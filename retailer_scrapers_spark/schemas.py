"""Explicit StructType schemas for every engine table.

The reference keeps its 7-column product schema implicit and duplicated
across four scripts (SURVEY.md §1.2, e.g. scrape_shoprite.py:302-310);
here every table is declared once. Column types follow
``BASELINE.json.input_hint`` for the corpus and the reference's
string-typed product columns byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Authoritative input shape (BASELINE.json.input_hint): the Iceberg
# image+caption table the crawl writes and the synthetic web serves from.
CORPUS = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

# Crawl frontier: one row per pending fetch (SURVEY.md §1.3).
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_canon", T.StringType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("priority", T.DoubleType(), True),
        T.StructField("depth", T.IntegerType(), True),
        T.StructField("attempt", T.IntegerType(), True),
        T.StructField("discovered_epoch", T.IntegerType(), True),
        T.StructField("seq", T.LongType(), True),
    ]
)

# Serialized per-partition (key-space slice) Bloom seen-filter state
# (SURVEY.md §1.3): one row per slice, ``partition_id`` the slice id,
# ``filter_bytes`` its raw bits, ``m_bits`` the whole filter's bit count.
SEEN_FILTER_STATE = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("filter_bytes", T.BinaryType(), False),
        T.StructField("n_items", T.LongType(), False),
        T.StructField("m_bits", T.LongType(), False),
        T.StructField("k_hashes", T.IntegerType(), False),
        T.StructField("n_slices", T.IntegerType(), False),
    ]
)

# Reference-compatible products output. String-typed prices/dates match
# the reference exactly (scrape_shoprite.py:302-310, csv_outputs/products.csv:1).
PRODUCTS = T.StructType(
    [
        T.StructField("index", T.LongType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("price", T.StringType(), True),
        T.StructField("promotion_price", T.StringType(), True),
        T.StructField("retailer", T.StringType(), True),
        T.StructField("image_url", T.StringType(), True),
        T.StructField("promotion_valid", T.StringType(), True),
    ]
)

# Robots / politeness config (reference README.md:61-67, scrape_pnp.py:46,53-63).
ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("crawl_delay_s", T.DoubleType(), True),
        T.StructField("visit_start_utc", T.StringType(), True),
        T.StructField("visit_end_utc", T.StringType(), True),
        T.StructField("disallow", T.ArrayType(T.StringType()), True),
        T.StructField("user_agent", T.StringType(), True),
    ]
)

# Per-fetch lineage/metrics (retry semantics: scrape_shoprite.py:387-394).
FETCH_LOG = T.StructType(
    [
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("epoch", T.IntegerType(), True),
        T.StructField("fetch_seq", T.LongType(), True),
        T.StructField("status", T.IntegerType(), True),
        T.StructField("result", T.StringType(), True),
        T.StructField("attempt", T.IntegerType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("wait_ms", T.LongType(), True),
        T.StructField("scheduled_offset_ms", T.LongType(), True),
    ]
)

# Synthetic web pages (FIXTURES.md §3): fetch is a lookup into this table.
SITE_PAGES = T.StructType(
    [
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("page", T.IntegerType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("payload_kind", T.StringType(), True),
        T.StructField("payload", T.StringType(), True),
        T.StructField("status", T.IntegerType(), True),
    ]
)

SEEDS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("retailer", T.StringType(), True),
        T.StructField("priority", T.DoubleType(), True),
    ]
)
