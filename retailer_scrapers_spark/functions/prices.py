"""Price / promotion scalar expressions (SURVEY.md §2.4 C1–C11).

All pure ``pyspark.sql.functions`` column expressions (codegen'd,
no UDF). Value shapes match the reference byte-for-byte: prices stay
*display strings* (``"R119.99"``), sentinels are ``"no price
available"`` / ``"No promo"`` (scrape_shoprite.py:190-220,302-310).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NO_PRICE = "no price available"
NO_PROMO = "No promo"
_NUM_RE = r"([0-9]+(?:\.[0-9]+)?)"


def _has_numeric(s: Column) -> Column:
    """True when the string contains an extractable float (the reference's
    ``float(re.sub(...))`` validation, scrape_shoprite.py:196-205)."""
    return s.isNotNull() & (F.regexp_extract(s, _NUM_RE, 1) != "")


def get_price(price_old: Column, price_now: Column) -> Column:
    """C1 — coalesce-with-validation (scrape_shoprite.py:190-220).

    Return the ORIGINAL string of ``price_old`` if it validates as a
    number, else ``price_now`` if it does, else ``'no price available'``.
    """
    return (
        F.when(_has_numeric(price_old), price_old)
        .when(_has_numeric(price_now), price_now)
        .otherwise(F.lit(NO_PRICE))
    )


def initial_promo(price_old: Column, price_now: Column) -> Column:
    """C3 — ``price_now if price_old else 'No promo'`` (scrape_shoprite.py:306).

    When an "old" (pre-promo) price exists, the "now" price is the
    promotional one; otherwise there is no promotion.
    """
    return F.when(_has_numeric(price_old), price_now).otherwise(F.lit(NO_PROMO))


def promo_price(sale_price: Column, bonus_buy_name: Column) -> Column:
    """C2 — promotion-price derivation (scrape_shoprite.py:354-379).

    ``salePrice`` (non-null, non-NaN) → ``f"R{salePrice}"``; else first
    bonus-buy name; else ``'No promo'``.
    """
    sale_ok = sale_price.isNotNull() & ~F.isnan(sale_price.cast("double"))
    return (
        F.when(sale_ok, F.concat(F.lit("R"), sale_price.cast("string")))
        .when(bonus_buy_name.isNotNull() & (bonus_buy_name != ""), bonus_buy_name)
        .otherwise(F.lit(NO_PROMO))
    )


def promo_valid_span(html: Column) -> Column:
    """C4 — extract ``<span class="item-product__valid">…</span>`` text,
    NBSP→space (scrape_shoprite.py:358-367). HTML entity unescape is
    limited to the entities the reference's payloads can contain."""
    txt = F.regexp_extract(html, r'<span class="item-product__valid">([^<]*)</span>', 1)
    for ent, ch in [("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " ")]:
        txt = F.regexp_replace(txt, ent, ch)
    return F.regexp_replace(txt, " ", " ")


def promo_end_date(end_iso: Column) -> Column:
    """C5 — ``'%Y-%m-%dT%H:%M:%S%z'`` → ``"Valid until {d MMMM yyyy}"``
    (scrape_pnp.py:211-214)."""
    ts = F.to_timestamp(end_iso, "yyyy-MM-dd'T'HH:mm:ssXXX")
    return F.when(
        ts.isNotNull(), F.concat(F.lit("Valid until "), F.date_format(ts, "d MMMM yyyy"))
    ).otherwise(F.lit(""))


OFFER_SENTENCE_RE = r"Offer valid\s+\d{1,2}\s+\w+\s+-\s+\d{1,2}\s+\w+\s+\d{4}"


def offer_sentence(text: Column) -> Column:
    """C6 — the Woolworths offer-validity sentence (scrape_woolworths.py:217)."""
    return F.regexp_extract(text, OFFER_SENTENCE_RE, 0)


def rand_price_fmt(amount: Column) -> Column:
    """C7 — ``f'R{p_pl10}'`` (scrape_woolworths.py:133)."""
    return F.concat(F.lit("R"), amount.cast("string"))


USER_AGENTS = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) Gecko/20100101 Firefox/118.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 Chrome/118.0 Safari/537.36",
)


def pick_user_agent(seed_col: Column) -> Column:
    """C8 — deterministic analogue of the reference's ``random.choice`` of 3
    UA strings (scrape_shoprite.py:43-49): uniform pick keyed on a hash of
    the row (reproducible across runs, unlike the reference)."""
    idx = (F.pmod(F.xxhash64(seed_col), F.lit(3)) + 1).cast("int")
    return F.element_at(F.array(*[F.lit(u) for u in USER_AGENTS]), idx)


_EXT_MAP = {"png": ".png", "jpg": ".jpg", "jpeg": ".jpg", "qjpg": ".jpg", "svg": ".svg", "bmp": ".bmp", "raw": ".bin"}


def content_type_extension(fmt: Column) -> Column:
    """C9 — content-type → filename extension (scrape_shoprite.py:70-73)."""
    mapping = F.create_map(*[F.lit(x) for kv in _EXT_MAP.items() for x in kv])
    return F.coalesce(mapping.getItem(F.lower(fmt)), F.lit(".jpg"))


def page_index(page: Column, pos: Column, items_per_page: int = 20) -> Column:
    """C11 — ``index = page*items - 1 + pos`` (scrape_shoprite.py:303),
    kept long-typed here (the reference str-casts then re-coerces)."""
    return (page.cast("long") * items_per_page - 1 + pos.cast("long"))


def last_page_of(count: Column, per_page: int = 24) -> Column:
    """D5 — Woolworths last-page math: ``count // 24``, minus one when the
    count is an exact multiple (scrape_woolworths.py:118-123). Equivalent
    closed form: ``floor((count - 1) / per_page)`` for count ≥ 1."""
    return F.floor((count.cast("long") - 1) / per_page).cast("int")
