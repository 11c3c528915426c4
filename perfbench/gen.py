"""Deterministic input generators for the benchmark workloads.

Every generated value is a pure function of ``(seed, row id)``: hosts,
messy spellings and planted duplicates come from ``xxhash64`` over the
seed and the id, never from ``F.rand()`` (whose stream depends on the
partition layout). Exact counts come from an affine permutation of the
row ids, so the number of planted duplicates and novel URLs is fixed
by the sizes alone.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# the 18 Woolworths categories of the large golden-trace geometry
RETAIL_CATEGORIES = (
    "food", "drinks", "household", "bakery", "butchery", "deli",
    "frozen", "dairy", "snacks", "health", "baby", "pets",
    "cleaning", "toiletries", "stationery", "outdoor", "electronics", "flowers",
)
RETAIL_ERROR_EVERY = 13
RETAIL_PER_HOST_BUDGET = 10


def seed_hash(seed: int, tag: str) -> int:
    """64-bit hash of ``(seed, tag)`` for driver-side choices."""
    return int.from_bytes(hashlib.blake2b(f"{seed}:{tag}".encode(), digest_size=8).digest(), "big")


def retail_spec(seed: int):
    """The large golden-trace geometry (18 Woolworths categories,
    error_every=13) with listing pages varied by seed within 4–6 / 3–5 /
    2–4 and 2–3 pages per category. The measured crawl reaches only the
    first pages, so deeper pages would only lengthen set-up."""
    from retailer_scrapers_spark.sources.synthetic_site import SiteSpec

    h = seed_hash(seed, "retail-pages")
    return SiteSpec(
        pages={
            "shoprite.test": 4 + h % 3,
            "checkers.test": 3 + (h >> 8) % 3,
            "pnp.test": 2 + (h >> 16) % 3,
        },
        wool_pages_per_category=2 + (h >> 24) % 2,
        categories=RETAIL_CATEGORIES,
        error_every=RETAIL_ERROR_EVERY,
    )


# ---------------------------------------------------------------------------
# reseed: seen set, existing frontier, and a raw batch of messy URLs
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ReseedSizes:
    n_seen: int = 1 << 17
    n_raw: int = 1 << 16  # a power of two, so every odd multiplier permutes it
    n_frontier: int = 1 << 14
    n_hosts: int = 128
    novel_share_per_mille: int = 100  # 10% of raw rows are novel

    @property
    def n_novel_rows(self) -> int:
        # even, so each novel URL appears exactly twice
        return (self.n_raw * self.novel_share_per_mille // 1000) & ~1

    @property
    def n_novel(self) -> int:
        return self.n_novel_rows // 2


def _h(seed: int, tag: str, col: Column) -> Column:
    return F.xxhash64(F.lit(seed), F.lit(tag), col)


def _zipf_host(seed: int, key: Column, n_hosts: int) -> Column:
    """Host rank with P(r) ∝ 1/(r+1) (log-uniform inverse CDF)."""
    u = (_h(seed, "host", key).bitwiseAND(F.lit(0xFFFFFFFF)).cast("double")) / float(1 << 32)
    r = F.floor(F.exp(u * F.log(F.lit(n_hosts + 1.0)))) - 1
    return F.least(F.greatest(r, F.lit(0)), F.lit(n_hosts - 1)).cast("int")


def _canon(host: Column, key: Column) -> Column:
    """Canonical URL of item ``key`` on ``host``: lowercase, sorted query."""
    return F.concat(
        F.lit("https://"), host, F.lit("/item/"), key.cast("string"),
        F.lit("?a="), (key % 7).cast("string"), F.lit("&b="), (key % 5).cast("string"),
    )


def _host_name(rank: Column) -> Column:
    return F.format_string("h%04d.bench", rank)


def _messy(seed: int, row: Column, host: Column, key: Column) -> Column:
    """One raw spelling of item ``key``: mixed-case scheme/host, default
    port, tracking params, fragment and unsorted query keys, chosen by
    hash bits of ``(seed, row)``."""
    m = _h(seed, "mess", row)

    def bit(i: int) -> Column:
        return m.bitwiseAND(F.lit(1 << i)) != 0

    scheme = F.when(bit(0), F.lit("HTTPS")).otherwise(F.lit("https"))
    h = F.when(bit(1), F.upper(host)).when(bit(2), F.initcap(host)).otherwise(host)
    port = F.when(bit(3), F.lit(":443")).otherwise(F.lit(""))
    a = F.concat(F.lit("a="), (key % 7).cast("string"))
    b = F.concat(F.lit("b="), (key % 5).cast("string"))
    q = F.when(bit(4), F.concat_ws("&", b, a)).otherwise(F.concat_ws("&", a, b))
    q = F.when(bit(5), F.concat(F.lit("utm_source=news&"), q)).otherwise(q)
    q = F.when(bit(6), F.concat(q, F.lit("&fbclid=x"), (key % 97).cast("string"))).otherwise(q)
    frag = F.when(bit(7), F.lit("#top")).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), h, port, F.lit("/item/"), key.cast("string"), F.lit("?"), q, frag)


def _perm(seed: int, n: int, i: Column) -> Column:
    """Affine permutation of [0, n) for a power-of-two n."""
    a = (seed_hash(seed, "perm-a") % n) | 1
    b = seed_hash(seed, "perm-b") % n
    return ((i * F.lit(a) + F.lit(b)) % F.lit(n)).cast("long")


def seen_urls(spark: SparkSession, seed: int, sz: ReseedSizes) -> DataFrame:
    """The existing crawl's seen set: item keys ``[0, n_seen)``."""
    k = F.col("id")
    return spark.range(sz.n_seen).select(_canon(_host_name(_zipf_host(seed, k, sz.n_hosts)), k).alias("url_canon"))


def frontier_rows(spark: SparkSession, seed: int, sz: ReseedSizes) -> DataFrame:
    """The existing crawl's pending frontier: item keys above every seen
    and raw key, already canonical, ``seq`` = key order."""
    base = sz.n_seen + sz.n_raw
    k = F.col("id") + F.lit(base)
    host = _host_name(_zipf_host(seed, k, sz.n_hosts))
    return spark.range(sz.n_frontier).select(
        _canon(host, k).alias("url"),
        _canon(host, k).alias("url_canon"),
        host.alias("host"),
        F.lit(1.0).alias("priority"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("attempt"),
        F.lit(0).alias("discovered_epoch"),
        (F.col("id") + 1).alias("seq"),
    )


def raw_batch(spark: SparkSession, seed: int, sz: ReseedSizes) -> DataFrame:
    """The daily raw batch: ``raw_id, url`` plus the generator's own
    ``expect_canon``/``novel`` columns (for the checks only; the engine
    reads ``url`` alone). Rows whose permuted id falls below
    ``n_novel_rows`` are novel (each novel key twice); every other row
    re-spells a hash-chosen seen key."""
    i = F.col("id")
    p = _perm(seed, sz.n_raw, i)
    novel = p < F.lit(sz.n_novel_rows)
    seen_key = F.pmod(_h(seed, "dup", i), F.lit(sz.n_seen))
    key = F.when(novel, F.lit(sz.n_seen) + F.floor(p / 2).cast("long")).otherwise(seen_key)
    t = spark.range(sz.n_raw).select(i.alias("raw_id"), key.alias("key"), novel.alias("novel"))
    host = _host_name(_zipf_host(seed, F.col("key"), sz.n_hosts))
    return t.select(
        "raw_id",
        _messy(seed, F.col("raw_id"), host, F.col("key")).alias("url"),
        _canon(host, F.col("key")).alias("expect_canon"),
        "novel",
    )
