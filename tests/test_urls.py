"""F8/F6 URL canonicalization — unit cases + Spark↔Python parity property."""

import random
import string

from retailer_scrapers_spark.functions.urls import canonicalize_py, canonicalize_urls

CASES = {
    "https://SHOP.test/a/b?utm_source=m&z=1&a=2#frag": "https://shop.test/a/b?a=2&z=1",
    "https://Host.TEST:443/x?fbclid=f&b=2": "https://host.test/x?b=2",
    "http://h.test:80/": "http://h.test/",
    "http://h.test:8080/p": "http://h.test:8080/p",  # non-default port kept
    "https://h.test": "https://h.test/",
    "https://h.test?q=1": "https://h.test/?q=1",
    "https://h.test/p?gclid=x&utm_campaign=y": "https://h.test/p",
    "https://h.test/p?ref=aff&real=1": "https://h.test/p?real=1",
}


def test_python_cases():
    for raw, want in CASES.items():
        assert canonicalize_py(raw) == want, raw


def test_spark_matches_python_on_cases(spark):
    df = spark.createDataFrame([(u,) for u in CASES], "url string")
    got = {r.url: r.canon for r in canonicalize_urls(df, "url", "canon").collect()}
    for raw, want in CASES.items():
        assert got[raw] == want, raw


def test_relative_url_prefix_fix(spark):
    # F6 — scrape_shoprite.py:280-281
    df = spark.createDataFrame([("/img/x.png", "shop.test"), ("img/y.png", "shop.test")], "url string, h string")
    got = [r.c for r in canonicalize_urls(df, "url", "c", default_host_col="h", host_out=None).collect()]
    assert got == ["https://shop.test/img/x.png", "https://shop.test/img/y.png"]
    assert [canonicalize_py(r.url, r.h) for r in df.collect()] == got


def test_property_spark_python_parity(spark):
    """Randomized parity: 300 synthetic URLs through both implementations."""
    rng = random.Random(42)
    urls = []
    for _ in range(300):
        scheme = rng.choice(["http", "https"])
        host = "".join(rng.choices(string.ascii_letters, k=6)) + ".test"
        port = rng.choice(["", ":80", ":443", ":8080"])
        path = "/" + "/".join("".join(rng.choices(string.ascii_lowercase + "0123456789", k=4)) for _ in range(rng.randint(0, 3)))
        n_params = rng.randint(0, 4)
        params = [
            f"{rng.choice(['a', 'zz', 'page', 'utm_source', 'fbclid', 'q'])}={rng.randint(0, 99)}"
            for _ in range(n_params)
        ]
        frag = rng.choice(["", "#top", "#a/b"])
        urls.append(f"{scheme}://{host}{port}{path if path != '/' else rng.choice(['', '/'])}"
                    + (("?" + "&".join(params)) if params else "") + frag)
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    # the Spark form must match the python twin — including host
    staged = {r.url: (r.url_canon, r.host) for r in canonicalize_urls(df).collect()}
    for u in urls:
        w = canonicalize_py(u)
        w_host = w.split("://", 1)[1].split("/", 1)[0].split(":", 1)[0]
        assert staged[u] == (w, w_host), u


def test_host_of(spark):
    """The host column drops the port but the canonical URL keeps a
    non-default one."""
    df = spark.createDataFrame([("https://a.test:8080/x?q=1",), ("http://b.test/",)], "u string")
    got = [(r.c, r.h) for r in canonicalize_urls(df, "u", "c", host_out="h").collect()]
    assert got == [("https://a.test:8080/x?q=1", "a.test"), ("http://b.test/", "b.test")]


def test_canonicalize_urls_adds_columns(spark):
    df = spark.createDataFrame([("https://A.test/p?utm_x=1&b=2",)], "url string")
    out = canonicalize_urls(df).collect()[0]
    assert out.url_canon == "https://a.test/p?b=2"
    assert out.host == "a.test"
