"""R4/R6/R7/O2 frontier scheduling operators."""

from pyspark.sql import functions as F

from retailer_scrapers_spark.operators import frontier as FR


def test_topk_per_host(spark):
    rows = [("h1", float(p), i) for i, p in enumerate([5, 1, 9, 7])] + [("h2", 3.0, 10), ("h2", 3.0, 11)]
    df = spark.createDataFrame(rows, "host string, priority double, seq long")
    out = FR.topk_per_host(df, 2)
    got = {(r.host, r.seq) for r in out.collect()}
    assert got == {("h1", 2), ("h1", 3), ("h2", 10), ("h2", 11)}  # top prio; seq tie-break


def test_salt_hot_hosts(spark):
    rows = [("hot.test", f"https://hot.test/{i}") for i in range(100)] + [("cold.test", "https://cold.test/1")]
    df = spark.createDataFrame(rows, "host string, url_canon string")
    out = FR.salt_hot_hosts(df, target_rows_per_task=25)
    pd = out.toPandas()
    hot = pd[pd.host == "hot.test"]
    assert hot.n_salt.iloc[0] == 4 and set(hot.salt) <= {0, 1, 2, 3} and hot.salt.nunique() > 1
    cold = pd[pd.host == "cold.test"]
    assert (cold.n_salt == 1).all() and (cold.salt == 0).all()


def test_requeue_failures(spark):
    df = spark.createDataFrame(
        [(200, 0, 1.0, "a"), (503, 0, 1.0, "b"), (503, 2, 1.0, "c"), (404, 0, 1.0, "d")],
        "status int, attempt int, priority double, url_canon string",
    )
    ok, retry, dropped = FR.requeue_failures(df)
    assert sorted(r.url_canon for r in ok.collect()) == ["a", "d"]  # 404 is permanent-ok path
    r = retry.collect()
    assert [x.url_canon for x in r] == ["b"] and r[0].attempt == 1 and r[0].priority == -1.0
    assert [x.url_canon for x in dropped.collect()] == ["c"]


def test_requeue_failures_per_host_budget(spark):
    """VERDICT r2 #8: per-host retry budgets — the reference retries 3×
    for Shoprite/PnP but FOREVER for Woolworths (scrape_woolworths.py:
    80-111). cap=-1 → retried at any attempt; NULL cap → scalar default;
    cap=1 → dropped immediately."""
    df = spark.createDataFrame(
        [
            (503, 99, 1.0, "wool", -1),    # unlimited: still retried at attempt 99
            (503, 2, 1.0, "shop", 3),      # at cap → dropped
            (503, 1, 1.0, "shop2", 3),     # under cap → retried
            (503, 0, 1.0, "strict", 1),    # cap 1 → dropped on first failure
            (503, 2, 1.0, "nullcap", None),  # falls back to default (3) → dropped
            (200, 0, 1.0, "fine", 3),
        ],
        "status int, attempt int, priority double, url_canon string, max_attempts int",
    )
    ok, retry, dropped = FR.requeue_failures(df, max_attempts_col="max_attempts")
    assert {r.url_canon for r in ok.collect()} == {"fine"}
    got_retry = {r.url_canon: r.attempt for r in retry.collect()}
    assert got_retry == {"wool": 100, "shop2": 2}
    assert {r.url_canon for r in dropped.collect()} == {"shop", "strict", "nullcap"}


def test_assign_global_indexes(spark):
    df = spark.createDataFrame(
        [("Shoprite", 0, 1), ("Shoprite", 0, 0), ("Shoprite", 1, 0), ("Checkers", 0, 0)],
        "retailer string, page int, pos int",
    )
    out = FR.assign_global_indexes(df, {"Shoprite": 17500, "Checkers": 0})
    got = {(r.retailer, r.page, r.pos): r["index"] for r in out.collect()}
    assert got[("Shoprite", 0, 0)] == 17500
    assert got[("Shoprite", 0, 1)] == 17501
    assert got[("Shoprite", 1, 0)] == 17502
    assert got[("Checkers", 0, 0)] == 0


def test_assign_indexes_deterministic_under_partitioning(spark):
    rows = [("R", p, i) for p in range(5) for i in range(7)]
    df1 = spark.createDataFrame(rows, "retailer string, page int, pos int").repartition(8)
    df2 = spark.createDataFrame(list(reversed(rows)), "retailer string, page int, pos int").repartition(3)
    a = {(r.page, r.pos): r["index"] for r in FR.assign_global_indexes(df1, {"R": 100}).collect()}
    b = {(r.page, r.pos): r["index"] for r in FR.assign_global_indexes(df2, {"R": 100}).collect()}
    assert a == b  # §2.9: total-order windows → same ids under any layout


def test_assign_indexes_single_col_two_level_equals_naive(spark):
    """r6: the single-order-column case runs the two-level prefix-sum too
    (synthesized monotone coarse key — shiftright for integrals, prefix
    for strings); ids must be identical to the naive per-retailer window,
    nulls-first and negatives included, and the helper column must not
    leak into the output schema."""
    import random

    rng = random.Random(11)
    ints = rng.sample(range(-500_000, 500_000), 400)  # unique → no tie ambiguity
    rows = [("A" if i % 3 else "B", k) for i, k in enumerate(ints)] + [("A", None), ("B", None)]
    df = spark.createDataFrame(rows, "retailer string, k long").repartition(7)
    out = FR.assign_global_indexes(df, {"A": 10, "B": 700}, order_cols=("k",))
    assert set(out.columns) == {"retailer", "k", "index"}
    got = {(r.retailer, r.k): r["index"] for r in out.collect()}
    for retailer, base in (("A", 10), ("B", 700)):
        ordered = sorted(
            [r for r in rows if r[0] == retailer],
            key=lambda r: (0, 0) if r[1] is None else (1, r[1]),  # nulls first, like orderBy asc
        )
        for rank, r in enumerate(ordered):
            assert got[(r[0], r[1])] == base + rank, r

    # string order column: prefix blocks, "" and null fold to the front
    strs = list({f"p{rng.randrange(10**9):09d}/{rng.randrange(100)}" for _ in range(300)})
    srows = [("A" if i % 2 else "B", s) for i, s in enumerate(strs)] + [("A", ""), ("A", None)]
    sdf = spark.createDataFrame(srows, "retailer string, k string").repartition(5)
    sgot = {(r.retailer, r.k): r["index"] for r in FR.assign_global_indexes(sdf, {"A": 0, "B": 50_000}, order_cols=("k",)).collect()}
    for retailer, base in (("A", 0), ("B", 50_000)):
        ordered = sorted(
            [r for r in srows if r[0] == retailer],
            key=lambda r: (0, "") if r[1] is None else (1, r[1]),
        )
        for rank, r in enumerate(ordered):
            assert sgot[(r[0], r[1])] == base + rank, r


def test_assign_indexes_two_level_equals_naive(spark):
    """The scalable two-level prefix-sum must produce byte-identical ids
    to the naive single-window form."""
    import random

    rng = random.Random(7)
    rows = [(rng.choice(["A", "B"]), rng.randint(0, 9), i) for i in range(500)]
    df = spark.createDataFrame(rows, "retailer string, page int, pos int").repartition(8)
    got = {(r.retailer, r.page, r.pos): r["index"]
           for r in FR.assign_global_indexes(df, {"A": 100, "B": 9000}, order_cols=("page", "pos")).collect()}
    # naive oracle computed in Python
    for retailer, base in (("A", 100), ("B", 9000)):
        ordered = sorted([r for r in rows if r[0] == retailer], key=lambda r: (r[1], r[2]))
        for rank, r in enumerate(ordered):
            assert got[r] == base + rank, r


def _naive_rank(values, start=0):
    return {v: i + 1 + start for i, v in enumerate(sorted(values))}


def _both_paths(n):
    """block_cap values that take each global_sequence path for n rows:
    the default (one window, n ≤ block_cap) and n − 1 (the prefix-sum)."""
    return (4_000_000, n - 1)


def test_global_sequence_equals_global_window(spark):
    """Identity vs row_number() over a global orderBy, including the
    nasty lexicographic cases: one prefix a proper prefix of another,
    strings shorter than prefix_len, '.' vs '/' ordering — on the
    small-input window path and on the prefix-sum."""
    urls = (
        [f"https://a.com/p{i:04d}?x={i % 7}" for i in range(200)]
        + [f"https://a.com.evil/{i}" for i in range(50)]      # '.' < '/' trap
        + [f"http://z.org/{i * 37 % 1000}/deep/path" for i in range(100)]
        + ["https://a.com/", "https://a.com/zzz", "https://b.io", "x", "xy", "xyz"]
    )
    assert len(set(urls)) == len(urls)
    df = spark.createDataFrame([(u,) for u in urls], "url_canon string").repartition(13)
    expected = _naive_rank(urls, start=7)
    for cap in _both_paths(len(urls)):
        for plen, clen in [(40, 12), (8, 3), (1, 1), (500, 40)]:
            out = FR.global_sequence(
                df, "url_canon", "seq", start=7, prefix_len=plen, coarse_len=clen, block_cap=cap
            )
            got = {r.url_canon: r.seq for r in out.collect()}
            assert got == expected, f"block_cap={cap} prefix_len={plen}"


def test_global_sequence_ties_count_correct(spark):
    # duplicate keys: ranks arbitrary among ties but a permutation of 1..n
    df = spark.createDataFrame([("a",), ("a",), ("b",), ("a",)], "url_canon string")
    for cap in _both_paths(4):
        seqs = sorted(r.seq for r in FR.global_sequence(df, prefix_len=2, coarse_len=1, block_cap=cap).collect())
        assert seqs == [1, 2, 3, 4], f"block_cap={cap}"


def test_global_sequence_no_row_level_global_sort(spark):
    """Above block_cap rows the only unpartitioned window in the plan
    runs over coarse-prefix BLOCKS, never over the input rows: every
    row_number (the row-level op) must be partition-scoped."""
    import re

    df = spark.createDataFrame([(f"https://h{i % 5}.test/{i}",) for i in range(100)], "url_canon string")
    plan = FR.global_sequence(df, block_cap=60)._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"row_number\(\) windowspecdefinition\(([^,]+),\s*([^,]+),", plan):
        # partitioned spec: first arg is the partition column (__gk), the
        # ordered column comes second; an unpartitioned one starts with
        # 'url_canon ASC' directly
        assert "ASC" not in m.group(1), f"unpartitioned row_number in plan: {m.group(0)}"


def test_global_sequence_one_window_up_to_block_cap(spark):
    """At ≤ block_cap rows the input fits one block, so the rank is ONE
    unpartitioned row_number window with no join (the offset tables and
    their two joins are skipped); one row more takes the prefix-sum.
    The switch sits exactly at block_cap."""
    n = 50
    df = spark.createDataFrame([(f"https://h{i % 3}.test/{i}",) for i in range(n)], "url_canon string")
    expected = _naive_rank([r.url_canon for r in df.collect()], start=3)
    for cap, one_window in ((n, True), (n - 1, False)):
        out = FR.global_sequence(df, "url_canon", "seq", start=3, block_cap=cap)
        assert out.columns == ["url_canon", "seq"]
        assert {r.url_canon: r.seq for r in out.collect()} == expected, f"block_cap={cap}"
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert ("Join" not in plan) == one_window, plan
        assert (plan.count("Window [") == 1) == one_window, plan


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _row_windows(df) -> list:
    """The row_number Window nodes of ``df``'s executed plan (walked in
    the JVM): the one-window rank, or the prefix-sum's in-block rank."""
    found, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
        if node.nodeName() == "Window" and "row_number()" in node.simpleString(100):
            found.append(node)
    return found


def test_global_sequence_consumer_reads_the_cached_input(spark):
    """The sizing count runs the input's lineage once, into a cache the
    consumer's rank window reads (an InMemoryTableScan under it), on the
    one-window path and on the prefix-sum; dropping the result handle
    releases every cache the call made."""
    import gc

    n = 60
    df = spark.createDataFrame([(f"https://h{i % 3}.test/{i}",) for i in range(n)], "url_canon string")
    expected = _naive_rank([r.url_canon for r in df.collect()])
    before = _persisted(spark)
    for cap in _both_paths(n):
        out = FR.global_sequence(df, "url_canon", "seq", block_cap=cap)
        windows = _row_windows(out)
        assert windows, f"block_cap={cap}: no row_number window"
        for w in windows:
            assert "InMemoryTableScan" in w.toString(), f"block_cap={cap}: rank window re-runs its input\n{w}"
        assert {r.url_canon: r.seq for r in out.collect()} == expected, f"block_cap={cap}"
        assert _persisted(spark) > before, f"block_cap={cap}: cache not live while the result is held"
        del out, windows, w
        gc.collect()
        assert _persisted(spark) == before, f"block_cap={cap}: caches outlive the result handle"


def test_global_sequence_leaves_a_cached_input_to_its_owner(spark):
    """An input the caller cached is read, not released, by the result."""
    import gc

    df = spark.createDataFrame([(f"u{i}",) for i in range(20)], "url_canon string").persist()
    df.count()
    out = FR.global_sequence(df)
    assert sorted(r.seq for r in out.collect()) == list(range(1, 21))
    del out
    gc.collect()
    assert df.storageLevel.useMemory
    df.unpersist()


def test_stamp_fetch_seq_carries_its_cache(spark):
    """stamp_fetch_seq returns a frame derived from global_sequence's
    result and drops that handle; the cache lives on with the derived
    frame (carry_caches) until the consumer drops it."""
    import gc

    from retailer_scrapers_spark.sources.fetch import stamp_fetch_seq

    rows = [(i * 10, f"h{i % 3}.test", i) for i in range(30)]
    fetched = spark.createDataFrame(rows, "scheduled_offset_ms long, host string, seq long")
    before = _persisted(spark)
    log = stamp_fetch_seq(fetched)
    gc.collect()
    windows = _row_windows(log)
    assert windows and all("InMemoryTableScan" in w.toString() for w in windows)
    assert [r.seq for r in log.orderBy("fetch_seq").collect()] == list(range(30))
    del log, windows
    gc.collect()
    assert _persisted(spark) == before


def test_global_sequence_adaptive_prefix_on_degenerate_input(spark):
    """ADVICE r2: URLs sharing a common prefix LONGER than prefix_len
    must not collapse step 1 into one partition — the fine length is
    derived from the data (doubles past the shared prefix), and the
    result still equals the naive global rank."""
    shared = "https://megastore.test/category/household/cleaning/detergents/"  # 63 chars
    urls = [f"{shared}item-{i:05d}" for i in range(300)] + ["https://tiny.test/a"]
    df = spark.createDataFrame([(u,) for u in urls], "url_canon string").repartition(7)
    out = FR.global_sequence(df, "url_canon", "seq", prefix_len=40, coarse_len=12, block_cap=50)
    got = {r.url_canon: r.seq for r in out.collect()}
    assert got == _naive_rank(urls)
    # the adapted fine key (substring len > 40) actually reached the plan
    import re

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"substring\(url_canon#\d+, 1, 80\)", plan)
    assert not re.search(r"substring\(url_canon#\d+, 1, 40\)", plan)


def test_global_sequence_property_random_strings(spark):
    """Property: for ANY set of distinct strings (including empties,
    prefix chains, unicode, separators), global_sequence == the naive
    global rank — across prefix lengths that chop mid-string."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="ab/.!0é", min_size=0, max_size=12),
            min_size=1, max_size=40, unique=True,
        ),
        st.integers(min_value=1, max_value=10),
    )
    def check(strings, plen):
        df = spark.createDataFrame([(s,) for s in strings], "url_canon string")
        for cap in _both_paths(len(strings)):
            out = {r.url_canon: r.seq for r in FR.global_sequence(
                df, "url_canon", "seq", prefix_len=plen, coarse_len=max(plen // 2, 1), block_cap=cap
            ).collect()}
            assert out == _naive_rank(strings), f"block_cap={cap}"

    check()
