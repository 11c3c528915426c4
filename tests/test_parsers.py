"""S1–S7 payload parsers over the synthetic web fixtures."""

from collections import Counter

from pyspark.sql import functions as F

from retailer_scrapers_spark.sources import parsers as P
from retailer_scrapers_spark.sources import synthetic_site as G
from tests.reference_impl.executor import discover


def test_html_parse_counts_and_alignment(site_df, site_spec):
    html = site_df.filter(F.col("payload_kind") == "html")
    out = P.parse_html_products(html)
    n_pages = site_spec.pages["shoprite.test"] + site_spec.pages["checkers.test"]
    assert out.count() == n_pages * G.ITEMS_PER_PAGE["shoprite.test"]
    # positional alignment: every (host, page, pos) matches the content oracle
    sample = out.filter((F.col("host") == "shoprite.test") & (F.col("page") == 1)).collect()
    for r in sample:
        p = G.product_at("shoprite.test", 1, r.pos)
        assert r.name == p["name"]


def test_html_image_decoy_filter(site_df):
    out = P.parse_html_products(site_df.filter(F.col("payload_kind") == "html"))
    # F1: no selected image may be the discovery-vitality decoy
    assert out.filter(F.col("image_url").contains(P.DECOY_MARKER)).count() == 0
    # rows whose oracle says missing_image have NULL image_url
    for r in out.filter(F.col("host") == "checkers.test").collect():
        p = G.product_at("checkers.test", r.page, r.pos)
        assert (r.image_url is None) == p["missing_image"]
        if r.image_url is not None:
            # F6: relative URLs were canonicalized to absolute
            assert r.image_url.startswith("https://checkers.test/")


def test_html_price_semantics(site_df):
    out = P.parse_html_products(site_df.filter(F.col("payload_kind") == "html"))
    for r in out.filter((F.col("host") == "shoprite.test") & (F.col("page") == 0)).collect():
        p = G.product_at("shoprite.test", 0, r.pos)
        if p["on_promo"]:
            assert r.price == p["price_old"]      # C1: original old-price string
            assert r.promotion_price == p["price_now"]  # C3
        else:
            assert r.price == p["price_now"]
            assert r.promotion_price == "No promo"


def test_heavy_attrs_parse(site_df):
    out = P.parse_heavy_attrs(site_df.filter(F.col("payload_kind") == "json_heavy_attrs"))
    rows = out.filter((F.col("host") == "shoprite.test") & (F.col("page") == 0)).collect()
    assert len(rows) == 20
    for r in rows:
        p = G.product_at("shoprite.test", 0, r.pos)
        if p["on_promo"]:
            assert (r.sale_price is not None) != (r.bonus_buy_name is not None)  # exactly one branch
            assert r.promotion_valid == p["valid_text"]  # C4 span extraction
        else:
            assert r.sale_price is None and r.bonus_buy_name is None


def test_pnp_parse(site_df, site_spec):
    out = P.parse_pnp_products(site_df.filter(F.col("payload_kind") == "json_pnp"))
    assert out.count() == site_spec.pages["pnp.test"] * 72
    for r in out.filter(F.col("page") == 0).limit(72).collect():
        p = G.product_at("pnp.test", 0, r.pos)
        assert r.price == p["price"]
        if p["on_promo"]:
            assert r.promotion_price.startswith("Save on ")
            assert r.promotion_valid == "Valid until 7 August 2025"  # C5
        else:
            assert r.promotion_price == "No promo"
        if not p["missing_image"]:
            assert r.image_url and "carousel" not in r.image_url and P.DECOY_MARKER not in r.image_url


def test_wool_parse_sentinel_and_price(site_df, site_spec):
    out = P.parse_wool_products(site_df.filter(F.col("payload_kind") == "json_wool"))
    per_cat = site_spec.wool_pages_per_category * 24
    want = len(site_spec.categories) * per_cat - len(site_spec.categories)  # sentinel removed on page 0 of each cat
    assert out.count() == want
    assert out.filter(F.col("name") == G.SENTINEL_NAME).count() == 0  # F2
    r = out.filter((F.col("category") == "food") & (F.col("page") == 0) & (F.col("pos") == 1)).collect()[0]
    assert r.price == G.product_at("woolworths.test", 0, 1, "food")["price"]  # C7 R-format


def test_offer_page(site_df):
    out = P.parse_offer_sentence(site_df.filter(F.col("payload_kind") == "json_offer"))
    assert [r.offer_valid for r in out.collect()] == [G.OFFER_SENTENCE]


def test_discover_links(site_df, site_spec):
    fetched = site_df  # pretend everything fetched ok
    links = P.discover_links(fetched).collect()
    urls = [r.url for r in links]
    # html next-page links exist for all but the last page of each html host
    assert sum("All-Departments" in u for u in urls) == (site_spec.pages["shoprite.test"] - 1) + (site_spec.pages["checkers.test"] - 1)
    # heavy-attrs enrichment derived per html page
    assert sum("populateProductsWithHeavyAttributes" in u for u in urls) == site_spec.pages["shoprite.test"] + site_spec.pages["checkers.test"]
    # pnp pagination: totalPages-1 next links
    assert sum("currentPage" in u for u in urls) == site_spec.pages["pnp.test"] - 1
    # wool: next offset per category until lastRecNum reaches total
    assert sum("searchCategory" in u for u in urls) == len(site_spec.categories) * (site_spec.wool_pages_per_category - 1)
    # exact parity: the (url, priority) multiset equals the reference
    # discovery over every site row, so a wrong URL or priority fails
    want = Counter(link for row in site_df.collect() for link in discover(row.asDict()))
    assert Counter((r.url, r.priority) for r in links) == want
