"""Vectorized payload parsers (SURVEY.md S1–S7, P1–P3, F1, F6).

The reference parses with BeautifulSoup + dict navigation per row; here
every parse is a JVM-side column program over the fetched ``payload``
string column: ``split``/``regexp_extract(_all)`` for HTML,
``from_json`` with explicit schemas for the JSON APIs, ``posexplode``
for the 1→N record fan-out (the positional ordinal later drives the J1
zip join). No Python runs in this stage at all — whole-stage codegen
end to end.

All parsers emit a common spine: (host, page, category, pos, name, …)
so downstream operators (index assignment O2, dedup D1-D3, enrichment
J1) are retailer-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from retailer_scrapers_spark.functions.prices import get_price, initial_promo
from retailer_scrapers_spark.functions.urls import canonicalize_urls

DECOY_MARKER = "discovery-vitality"  # F1, scrape_shoprite.py:276


# --- HTML (shoprite/checkers-like) -----------------------------------------

def parse_html_products(pages: DataFrame) -> DataFrame:
    """S3/P1 — ``.item-product`` blocks → one row per product position.

    Splitting on the block opener keeps per-item field alignment exact
    (global extract_all would misalign items with missing fields)."""
    blocks = F.split(F.col("payload"), r'<div class="item-product">')
    exploded = (
        pages.select(
            "host", "page", "category", F.posexplode(F.slice(blocks, 2, F.greatest(F.size(blocks) - 1, F.lit(0))))
        )
        .withColumnRenamed("pos", "pos")
        .withColumnRenamed("col", "block")
    )
    imgs = F.regexp_extract_all("block", F.lit(r'<img data-original-src="([^"]*)"'), 1)
    # `__img` is staged as a named column: the canonicalizer references
    # its input ~30 times, and a Column-level reuse would copy the
    # regexp_extract_all+filter subtree per reference (the F8 tree
    # blow-up — see functions/urls.py). As a column it codegens to one
    # local var, and image_id reuses it for free.
    staged = exploded.withColumns(
        {
            "__price_old": F.nullif(F.regexp_extract("block", r'<span class="before">([^<]*)</span>', 1), F.lit("")),
            "__price_now": F.nullif(F.regexp_extract("block", r'<span class="now">([^<]*)</span>', 1), F.lit("")),
            "__img": F.get(F.filter(imgs, lambda u: (u != "") & ~u.contains(DECOY_MARKER)), 0),  # F1
        }
    )
    canon = canonicalize_urls(staged, "__img", "__img_canon", default_host_col="host", host_out=None)  # F6
    return canon.select(
        "host",
        "page",
        "category",
        "pos",
        F.regexp_extract("block", r'<h3 class="item-product__name">([^<]*)</h3>', 1).alias("name"),
        get_price(F.col("__price_old"), F.col("__price_now")).alias("price"),
        initial_promo(F.col("__price_old"), F.col("__price_now")).alias("promotion_price"),
        F.when(F.col("__img").isNotNull(), F.col("__img_canon")).alias("image_url"),
        F.regexp_extract("__img", r"/img/([^.]+)\.png", 1).alias("image_id"),
    )


# --- Heavy-attrs promo enrichment (S6 second-stage fetch) -------------------

_HEAVY_SCHEMA = T.StructType(
    [
        T.StructField(
            "items",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("sku", T.StringType()),
                        T.StructField("salePrice", T.DoubleType()),
                        T.StructField("includedInBonusBuys", T.ArrayType(T.StructType([T.StructField("name", T.StringType())]))),
                        T.StructField("htmlBBs", T.StringType()),
                    ]
                )
            ),
        )
    ]
)


def parse_heavy_attrs(pages: DataFrame) -> DataFrame:
    """S6/C2/C4 feed — (host, page, pos, salePrice, bonus name, promo-valid
    span text). Joined back to products by position (J1)."""
    from retailer_scrapers_spark.functions.prices import promo_valid_span

    parsed = pages.select("host", "page", F.from_json("payload", _HEAVY_SCHEMA).alias("h"))
    rows = parsed.select("host", "page", F.posexplode("h.items")).select(
        "host",
        "page",
        "pos",
        F.col("col.salePrice").alias("sale_price"),
        F.get(F.col("col.includedInBonusBuys"), 0).getField("name").alias("bonus_buy_name"),
        promo_valid_span(F.col("col.htmlBBs")).alias("promotion_valid"),
    )
    return rows


# --- PnP JSON (S4/P2) -------------------------------------------------------

_PNP_SCHEMA = T.StructType(
    [
        T.StructField(
            "products",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("code", T.StringType()),
                        T.StructField("name", T.StringType()),
                        T.StructField("price", T.StructType([T.StructField("formattedValue", T.StringType())])),
                        T.StructField(
                            "images",
                            T.ArrayType(T.StructType([T.StructField("format", T.StringType()), T.StructField("url", T.StringType())])),
                        ),
                        T.StructField(
                            "potentialPromotions",
                            T.ArrayType(
                                T.StructType(
                                    [T.StructField("promotionTextMessage", T.StringType()), T.StructField("endDate", T.StringType())]
                                )
                            ),
                        ),
                    ]
                )
            ),
        ),
        T.StructField(
            "pagination",
            T.StructType([T.StructField("currentPage", T.IntegerType()), T.StructField("totalPages", T.IntegerType())]),
        ),
    ]
)


def parse_pnp_products(pages: DataFrame) -> DataFrame:
    """P2 — nested-struct projections (scrape_pnp.py:168-183): price with
    default, first carousel image, promotions[0] message + end date."""
    from retailer_scrapers_spark.functions.prices import NO_PROMO, promo_end_date

    parsed = pages.select("host", "page", "category", F.from_json("payload", _PNP_SCHEMA).alias("j"))
    rows = parsed.select("host", "page", "category", F.posexplode("j.products"))
    p = F.col("col")
    promo0 = F.get(p.getField("potentialPromotions"), 0)
    carousel = F.get(F.filter(p.getField("images"), lambda i: i.getField("format") == "carousel"), 0)
    return rows.select(
        "host",
        "page",
        "category",
        "pos",
        p.getField("name").alias("name"),
        F.coalesce(p.getField("price").getField("formattedValue"), F.lit("no price available")).alias("price"),
        F.coalesce(promo0.getField("promotionTextMessage"), F.lit(NO_PROMO)).alias("promotion_price"),
        F.coalesce(promo_end_date(promo0.getField("endDate")), F.lit(" ")).alias("promotion_valid"),
        carousel.getField("url").alias("image_url"),
        p.getField("code").alias("image_id"),
    )


# --- Woolworths JSON (S5/P3) -------------------------------------------------

_WOOL_SCHEMA = T.StructType(
    [
        T.StructField(
            "contents",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "mainContent",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField(
                                            "contents",
                                            T.ArrayType(
                                                T.StructType(
                                                    [
                                                        T.StructField(
                                                            "records",
                                                            T.ArrayType(
                                                                T.StructType(
                                                                    [
                                                                        T.StructField(
                                                                            "attributes",
                                                                            T.MapType(T.StringType(), T.StringType()),
                                                                        ),
                                                                        T.StructField(
                                                                            "startingPrice",
                                                                            T.StructType([T.StructField("p_pl10", T.DoubleType())]),
                                                                        ),
                                                                    ]
                                                                )
                                                            ),
                                                        ),
                                                        T.StructField("totalNumRecs", T.IntegerType()),
                                                        T.StructField("lastRecNum", T.IntegerType()),
                                                    ]
                                                )
                                            ),
                                        )
                                    ]
                                )
                            ),
                        )
                    ]
                )
            ),
        )
    ]
)


def parse_wool_products(pages: DataFrame) -> DataFrame:
    """P3 — ``contents[0].mainContent[0].contents[0].records`` deep path
    (scrape_woolworths.py:116-138) + sentinel filter F2 + price C7."""
    from retailer_scrapers_spark.functions.prices import rand_price_fmt
    from retailer_scrapers_spark.sources.synthetic_site import SENTINEL_NAME

    parsed = pages.select("host", "page", "category", F.from_json("payload", _WOOL_SCHEMA).alias("j"))
    inner = F.get(F.get(F.get(F.col("j.contents"), 0).getField("mainContent"), 0).getField("contents"), 0)
    rows = parsed.select(
        "host", "page", "category", inner.getField("totalNumRecs").alias("total_recs"),
        F.posexplode(inner.getField("records")),
    )
    attrs = F.col("col.attributes")
    return rows.select(
        "host",
        "page",
        "category",
        "pos",
        attrs.getItem("p_displayName").alias("name"),
        rand_price_fmt(F.col("col.startingPrice.p_pl10")).alias("price"),
        F.lit("No promo").alias("promotion_price"),
        F.nullif(attrs.getItem("p_imageReference"), F.lit("")).alias("image_url"),
        attrs.getItem("sku").alias("image_id"),
        "total_recs",
    ).filter(F.col("name") != SENTINEL_NAME)  # F2, scrape_woolworths.py:140-142


def parse_offer_sentence(pages: DataFrame) -> DataFrame:
    """S7/C6 — one-shot offer-validity lookup; broadcast as a scalar."""
    from retailer_scrapers_spark.functions.prices import offer_sentence

    return pages.select(offer_sentence(F.col("payload")).alias("offer_valid")).filter(F.col("offer_valid") != "")


# --- Link discovery (frontier growth) ----------------------------------------

def discover_links(fetched: DataFrame) -> DataFrame:
    """Extract next-page + enrichment URLs from fetched payloads.

    - html: the ``pagination__next`` href (absolute) + the page's
      heavy-attrs endpoint (derived, mirroring the reference's fixed
      POST per page, scrape_shoprite.py:345-352);
    - json_pnp: currentPage+1 while < totalPages (scrape_pnp.py:380-415);
    - json_wool: next offset page while lastRecNum < totalNumRecs
      (scrape_woolworths.py:118-123).

    One projection of ``fetched`` — each row's candidate ``(url,
    priority)`` structs, exploded — not a filtered branch per kind
    re-unioned. Returns (url, priority) rows.
    """
    kind = F.col("payload_kind")
    wool_inner = F.get(F.get(F.get(F.from_json("payload", _WOOL_SCHEMA).getField("contents"), 0).getField("mainContent"), 0).getField("contents"), 0)
    # staged as columns so each payload is parsed once per row
    parsed = fetched.select(
        "host", "page", "category", (kind == "html").alias("__html"),
        F.when(kind == "html", F.regexp_extract("payload", r'<a class="pagination__next" href="([^"]*)"', 1)).alias("__next"),
        F.when(kind == "json_pnp", F.from_json("payload", _PNP_SCHEMA).getField("pagination")).alias("__pnp"),
        F.when(kind == "json_wool", wool_inner).alias("__wool"),
    )

    def link(cond, url, priority: float):
        # a null url, never a null struct: `priority` stays non-nullable
        return F.struct(F.when(cond, url).alias("url"), F.lit(priority).alias("priority"))

    nxt, pnp, wool = F.col("__next"), F.col("__pnp"), F.col("__wool")
    links = F.array(
        link(nxt != "", nxt, 1.0),
        # enrichment outranks next-page
        link(F.col("__html"), F.format_string("https://%s/api/populateProductsWithHeavyAttributes?page=%d", F.col("host"), F.col("page")), 1.5),
        link(
            pnp.getField("currentPage") + 1 < pnp.getField("totalPages"),
            F.format_string(
                "https://%s/pnphybris/v2/pnp-spa/products/search?currentPage=%d&pageSize=72", F.col("host"), pnp.getField("currentPage") + 1
            ),
            1.0,
        ),
        link(
            wool.getField("lastRecNum") < wool.getField("totalNumRecs"),
            F.format_string(
                "https://%s/server/searchCategory?category=%s&No=%d&Nrpp=24", F.col("host"), F.col("category"), (F.col("page") + 1) * 24
            ),
            1.0,
        ),
    )
    return parsed.select(F.explode(F.filter(links, lambda c: c.getField("url").isNotNull())).alias("l")).select("l.url", "l.priority")
