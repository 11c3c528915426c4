"""Fetch stages (SURVEY.md S1/S8): frontier rows → payloads / image bytes.

In the sandbox the web is the ``site_pages`` table, so a page fetch is
a hash join on ``url_canon`` (the network's role is played by a scan).
The join keys are pre-partitioned by the politeness scheduler's
``(host, salt)`` grouping, so on a cluster the fetch stage reads only
the site partitions its hosts hash to. A real deployment swaps
``fetch_pages`` for an HTTP client inside ``mapInArrow`` with the same
output contract — everything downstream is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fetch_pages(scheduled: DataFrame, site: DataFrame) -> DataFrame:
    """Resolve scheduled frontier rows against the synthetic web.

    Left join: URLs with no site row get status 404 (the reference's
    empty-page path). A first-attempt fetch of a seeded-5xx page keeps
    its error status; a retry (attempt > 0) succeeds — modeling the
    transient failures the reference retries through
    (scrape_shoprite.py:387-394).
    """
    site_cols = site.select(
        F.col("url_canon"),
        F.col("page"),
        F.col("category"),
        F.col("payload_kind"),
        F.col("payload"),
        F.col("status").alias("__site_status"),
    )
    from retailer_scrapers_spark.functions.prices import pick_user_agent

    joined = scheduled.join(site_cols, "url_canon", "left")
    status = (
        F.when(F.col("__site_status").isNull(), F.lit(404))
        .when((F.col("__site_status") >= 500) & (F.col("attempt") == 0), F.col("__site_status"))
        .otherwise(F.lit(200))
    )
    return (
        joined.withColumn("status", status)
        # C8 — deterministic per-URL UA rotation (scrape_shoprite.py:43-49)
        .withColumn("user_agent", pick_user_agent(F.col("url_canon")))
        .drop("__site_status")
    )


def stamp_fetch_seq(fetched: DataFrame) -> DataFrame:
    """Global deterministic fetch order (SURVEY.md §2.9 serialization):
    rank by (scheduled time, host, seq) — a TOTAL order so golden traces
    reproduce under any parallelism.

    The composite key packs into ONE lexicographically faithful string
    (zero-padded offset ∥ host ∥ '!' ∥ zero-padded seq — '!' sorts
    below every legal host character, so prefix hosts order exactly
    like the bare string comparison) and the rank comes from
    ``global_sequence``: no single-partition row-level sort of more
    than its ``block_cap`` rows, so a small fetch set is ranked by one
    window and returned as one partition. The epoch loop therefore
    stamps only the fetch log's projection, never the fetched frame
    the parsers and discovery read. The returned frame carries the
    sequencing caches (``carry_caches``), so the write that reads it
    reads the cached input instead of re-running its lineage.
    """
    from retailer_scrapers_spark.operators.caching import carry_caches
    from retailer_scrapers_spark.operators.frontier import global_sequence

    key = F.concat(
        F.lpad(F.col("scheduled_offset_ms").cast("string"), 19, "0"),
        F.col("host"),
        F.lit("!"),
        F.lpad(F.col("seq").cast("string"), 19, "0"),
    )
    stamped = global_sequence(
        fetched.withColumn("__fetch_key", key),
        order_col="__fetch_key",
        out_col="fetch_seq",
        prefix_len=30,
        coarse_len=19,
    )
    return carry_caches(stamped.drop("__fetch_key"), stamped)


def fetch_images(products: DataFrame, corpus: DataFrame, image_id_col: str = "image_id") -> DataFrame:
    """S8 — image blob fetch: products needing an image join the corpus
    on ``image_id`` (bytes live in the image+caption table per
    BASELINE.json.input_hint — no separate blob store). The join is an
    equi-join on the id; at 100 TB the corpus side is bucketed by
    ``image_id`` so this co-locates without a shuffle of the blobs."""
    blobs = corpus.select(
        F.col("image_id").alias(image_id_col),
        F.col("bytes"),
        F.col("w"),
        F.col("h"),
        F.col("fmt"),
        F.col("caption"),
        F.col("phash").alias("phash_expected"),
    )
    return products.join(blobs, image_id_col, "left")
