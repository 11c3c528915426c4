"""Physical-plan quality gates: these assertions pin the properties that
matter at 100 TB — predicate pushdown reaching the parquet scan, column
pruning, broadcast joins for small dims, and shuffle counts per
operator. If a refactor silently degrades a plan, these fail."""

import contextlib
import io

from pyspark.sql import functions as F


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


SF = "/root/testdata/sf0.001"


def test_filter_and_projection_pushdown(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") < "1996-01-01").select("l_orderkey", "l_extendedprice")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # column pruning: scan reads only the 3 referenced columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_shipdate" in read_schema
    assert "l_comment" not in read_schema and "l_quantity" not in read_schema


def test_lookup_join_broadcasts(spark):
    from retailer_scrapers_spark.operators.joins import lookup_join

    orders = spark.read.parquet(f"{SF}/orders.parquet").select(F.col("o_custkey").alias("name"), "o_orderkey")
    cust = spark.read.parquet(f"{SF}/customer.parquet").select(F.col("c_custkey").alias("name"), "c_mktsegment")
    plan = plan_of(lookup_join(orders, cust, "name"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_single_shuffle(spark):
    from retailer_scrapers_spark.operators.dedup import dedup_keep_promo

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        F.col("l_partkey").alias("name"),
        F.col("l_quantity").alias("price"),
        F.lit("No promo").alias("promotion_price"),
        F.col("l_orderkey").alias("index"),
    )
    plan = plan_of(dedup_keep_promo(li), mode="simple")
    assert plan.count("Exchange") == 1  # one hash partition by key, nothing else


def test_topk_single_shuffle_and_pushdown(spark):
    from retailer_scrapers_spark.operators.frontier import topk_per_host

    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_orderstatus").alias("host"), F.col("o_totalprice").alias("priority"), F.col("o_orderkey").alias("seq")
    )
    plan = plan_of(topk_per_host(orders, 3), mode="simple")
    assert plan.count("Exchange") == 1
    # rank-limit pushdown: Spark turns row_number<=k into a per-partition
    # local top-k before the shuffle (WindowGroupLimit)
    assert "WindowGroupLimit" in plan


def test_simhash_partial_aggregation(spark):
    from retailer_scrapers_spark.operators.dedup import simhash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(simhash(docs, bits=8), mode="simple")
    # map-side combine: partial aggregation below the single exchange
    assert "HashAggregate" in plan
    assert plan.count("Exchange") == 1


def test_whole_stage_codegen_in_parsers(spark, site_df):
    from retailer_scrapers_spark.sources.parsers import parse_html_products

    q = parse_html_products(site_df.filter(F.col("payload_kind") == "html"))
    plan = plan_of(q, mode="simple")
    assert "EvalPython" not in plan  # the whole parse stage is JVM-side
    assert "Generate posexplode" in plan  # the 1→N record fan-out (S3)
    # the session runs interpreted (conftest codegen=False); flip the
    # RUNTIME conf back on just for the generated-code assertion so the
    # production default (codegen on) is what gets planned here
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    try:
        codegen = plan_of(q, mode="codegen")
        assert "WholeStageCodegen subtrees" in codegen
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", "false")


def test_session_knobs(spark):
    """The test session opts out of AQE (its synchronous per-stage-update
    plan stringification dominates KB-scale e2e wall-clock — see
    session.get_spark), and every session caps plan-string length so a
    deep epoch plan can't cost the driver seconds per explain at any
    scale. Production defaults keep AQE on; bench.py exercises that path."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert int(spark.conf.get("spark.sql.maxPlanStringLength")) == 64 * 1024


def test_frontier_next_has_no_full_frontier_dedup(spark, site_df, robots_df, seeds_df, tmp_path_factory):
    """VERDICT r2 #3: frontier' must not dropDuplicates the whole union —
    only the `discovered` delta can self-collide, so the dedup (a scoped
    row_number window) happens before the union and no Deduplicate node
    (the frontier-sized aggregate) appears anywhere in the plan."""
    from retailer_scrapers_spark.plans.catalog import SnapshotCatalog
    from retailer_scrapers_spark.plans.crawl import CrawlConfig, CrawlPlan

    captured = {}
    orig_write = SnapshotCatalog.write

    def spy_write(self, df, table, epoch, meta=None):
        if table == "frontier":
            captured["frontier"] = df
        return orig_write(self, df, table, epoch, meta)

    work = str(tmp_path_factory.mktemp("plan_frontier"))
    plan = CrawlPlan(spark, CrawlConfig(workdir=work, epochs=1), site_df, robots_df)
    SnapshotCatalog.write, saved = spy_write, SnapshotCatalog.write
    try:
        plan.run(seeds_df, epochs=1)
    finally:
        SnapshotCatalog.write = saved
    assert "frontier" in captured
    optimized = captured["frontier"]._jdf.queryExecution().optimizedPlan().toString()
    assert "Deduplicate" not in optimized
    # the discovered-scoped dedup window exists and is keyed by url_canon
    assert "row_number()" in optimized


def test_politeness_schedule_fully_jvm_side(spark):
    """R1 is pure window arithmetic: no Python/pandas eval node in the
    plan, and the row-level window is partitioned by (host, salt)."""
    from pyspark.sql import functions as F

    from retailer_scrapers_spark.operators.politeness import politeness_schedule

    df = spark.range(1000).select(
        F.concat(F.lit("h"), (F.col("id") % 7).cast("string")).alias("host"),
        F.lit(1.0).alias("priority"),
        F.col("id").alias("seq"),
        F.lit(5.0).alias("crawl_delay_s"),
    )
    plan = politeness_schedule(df, 100.0)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan and "EvalPython" not in plan
    assert "windowspecdefinition(host" in plan  # partitioned, not global


def test_split_topk_backlog_is_rank_split_not_anti_join(spark):
    """VERDICT r3 #2: backlog must be the `rank > budget` complement of
    the SAME topk window — one shuffle, zero joins — not a second
    frontier-sized anti-join on url_canon."""
    from retailer_scrapers_spark.operators.frontier import split_topk_per_host

    df = spark.range(5_000).select(
        F.concat(F.lit("h"), (F.col("id") % 13).cast("string")).alias("host"),
        (F.col("id") % 97).cast("double").alias("priority"),
        F.col("id").alias("seq"),
    )
    selected, backlog = split_topk_per_host(df, 5)
    for part in (selected, backlog):
        plan = part._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in plan, plan  # pure window + filter
        assert "row_number" in plan
    # exact complement, no overlap
    assert selected.count() + backlog.count() == df.count()
    assert selected.join(backlog, ["host", "seq"], "inner").count() == 0


def test_filter_unseen_split_dup_is_semi_over_positives(spark):
    """VERDICT r3 #3: the dup_seen metric must come from the Bloom
    probe's positives slice (LEFT SEMI over probable positives), never
    an `in_window ANTI unseen` re-shuffle of the whole frontier."""
    from retailer_scrapers_spark.operators.bloom import build_bloom_state, filter_unseen_split_state

    seen = spark.range(500).select(
        F.concat(F.lit("https://h.test/p/"), F.col("id").cast("string")).alias("url_canon")
    )
    frontier = spark.range(1_000).select(
        F.concat(F.lit("https://h.test/p/"), F.col("id").cast("string")).alias("url_canon"),
        F.lit("h.test").alias("host"),
        F.lit(0).alias("attempt"),
    )
    state = build_bloom_state(seen, m_bits=1 << 14, k_hashes=5, n_slices=8)
    unseen, dup = filter_unseen_split_state(frontier, state, seen, n_slices=8)
    uplan = unseen._jdf.queryExecution().optimizedPlan().toString()
    assert uplan.count("LeftAnti") == 1, uplan  # exact verify only
    dplan = dup._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" not in dplan, dplan
    assert "LeftSemi" in dplan, dplan
    # exactness: the split partitions the frontier by true membership
    assert {r.url_canon for r in dup.collect()} == {
        f"https://h.test/p/{i}" for i in range(500)
    }
    assert unseen.count() == 500


def test_run_epoch_has_no_complement_anti_joins():
    """Source-level pin for the epoch loop itself (plan text re-expands
    shared subtrees, so node counting is meaningless there): the only
    left_anti join in run_epoch is the sched_state carry decay, whose
    probe side is the tiny per-(host, salt) state table; the discovery
    novelty check goes through the shared scan-side verify, and the
    split operators are in use."""
    import inspect

    from retailer_scrapers_spark.plans.crawl import CrawlPlan

    src = inspect.getsource(CrawlPlan.run_epoch)
    assert src.count('"left_anti"') == 1, src.count('"left_anti"')
    assert 'unseen.join(selected' not in src and 'in_window.join(unseen' not in src
    assert "split_topk_per_host" in src
    assert "filter_unseen_split_state" in src
    # the novelty check scans (never shuffles) seen ∪ frontier and
    # broadcasts only the discovered delta (VERDICT r5 #1), under the
    # same count guard as the seen-filter verify
    assert "_exact_verify_scan_side(\n            discovered, known," in src
    assert "max_broadcast_rows=VERIFY_BROADCAST_MAX_ROWS" in src


def test_driver_memory_default_fits_the_machine(monkeypatch):
    """The default driver heap is min(48g, 60% of physical RAM): a
    15 GiB box gets 9.0g, a 125 GiB box keeps 48g."""
    from retailer_scrapers_spark import session

    page = 4096
    for ram_gib, want in ((15, f"{int(15 * 2**30 * 0.6) >> 20}m"), (125, "49152m")):
        pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram_gib * 2**30 // page}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        assert session.default_driver_memory() == want, ram_gib


def test_filter_operators_never_gather_on_the_driver():
    """Source-level pin for the URL-seen filter modules: nothing
    O(|filter|) reaches the driver — no SparkContext broadcast of filter
    bytes and no collect. ``F.broadcast`` join hints (the exact verify's
    small positives side) and ``head(1)`` (slice-count lookup) stay
    allowed."""
    import inspect

    from retailer_scrapers_spark.operators import bloom

    src = inspect.getsource(bloom)
    for banned in ("sparkContext.broadcast(", "sc.broadcast(", ".collect()"):
        assert banned not in src, f"{bloom.__name__} uses {banned}"


def analysed_nodes(df) -> int:
    """Node count of ``df``'s analysed logical plan, walked inside the
    JVM (plan text is capped by spark.sql.maxPlanStringLength). Pinned
    frames are not substituted at analysis, so every re-embedding of a
    shared lineage counts in full — what each lazy DataFrame call pays
    to analyse."""
    n, stack = 0, [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        n += 1
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return n


def executed_nodes(df):
    """Every node of ``df``'s executed physical plan, walked inside the
    JVM like :func:`analysed_nodes`. Inner children are followed too, so
    a cached (pinned) frame's own plan is walked where it is read."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        yield node
        for kids in (node.children(), node.innerChildren()):
            stack.extend(kids.apply(i) for i in range(kids.size()))


def test_frontier_next_exchange_count_bounded(spark, site_df, robots_df, seeds_df, tmp_path_factory):
    """VERDICT r4 #9: pin the shuffle shape of one epoch's frontier'
    plan so a refactor can't silently reintroduce a frontier-sized
    exchange (the r3 backlog anti-join added one per complement). The
    count walks the whole executed plan, planned after the epoch has
    released its pins so every pinned frame's lineage is inlined: any
    new shuffle in any subtree strictly increases it.

    The same frame's analysed-plan size is pinned too: the post-fetch
    fan-out used to re-embed the fetched lineage in every branch (each
    outcome split, the per-kind discovery union, the novelty check
    against seen′), and global_sequence's offset joins re-embedded the
    discovered lineage twice more; the epoch paid that in driver-side
    analysis.

    Parse parallelism: the parsers read the fetched frame, so no
    single-partition step (the fetch_seq stamp's one-block window) may
    sit upstream of them. That frame is planned at its write, while the
    pins are cached (released, the optimizer would prune an unread
    stamp from the inlined lineage), and checked on epoch 1, whose
    frontier is read back from its snapshot: epoch 0's pinned seed
    frontier is itself sequenced by one window.

    The epoch's sketch metrics are JVM aggregates: epoch 0's
    ``metrics_sketches`` write, planned at the write, runs no Python
    node anywhere in its plan (a Python stage costs an Arrow worker
    round trip per task)."""
    from retailer_scrapers_spark.plans.catalog import SnapshotCatalog
    from retailer_scrapers_spark.plans.crawl import CrawlConfig, CrawlPlan

    captured = {}
    sketch_python_nodes = []
    orig_write = SnapshotCatalog.write

    def spy_write(self, df, table, epoch, meta=None):
        captured.setdefault((table, epoch), df)
        if table == "staged_html":
            df._jdf.queryExecution().executedPlan()
        if (table, epoch) == ("metrics_sketches", 0):
            sketch_python_nodes.extend(
                n.nodeName() for n in executed_nodes(df)
                if n.getClass().getName().startswith("org.apache.spark.sql.execution.python.")
            )
        return orig_write(self, df, table, epoch, meta)

    work = str(tmp_path_factory.mktemp("plan_exchange"))
    plan = CrawlPlan(spark, CrawlConfig(workdir=work, epochs=2), site_df, robots_df)
    SnapshotCatalog.write, saved = spy_write, SnapshotCatalog.write
    try:
        plan.run(seeds_df, epochs=2)
    finally:
        SnapshotCatalog.write = saved
    frontier_next = captured[("frontier", 0)]
    n_exchange = sum("Exchange" in n.nodeName() for n in executed_nodes(frontier_next))
    print(f"frontier' exchanges: {n_exchange}")
    assert n_exchange <= EXPECTED_FRONTIER_EXCHANGES, (
        f"frontier' plan grew to {n_exchange} exchanges "
        f"(pinned ≤ {EXPECTED_FRONTIER_EXCHANGES}) — a new shuffle entered the epoch loop"
    )
    n_nodes = analysed_nodes(frontier_next)
    print(f"frontier' analysed nodes: {n_nodes}")
    assert n_nodes <= SEQUENCED_FRONTIER_NODES // 4, (
        f"frontier' analysed plan has {n_nodes} nodes (pinned ≤ {SEQUENCED_FRONTIER_NODES // 4}) "
        "— a post-fetch branch or the seq stamp re-embeds a lineage again"
    )
    assert ("metrics_sketches", 0) in captured
    assert not sketch_python_nodes, f"Python stages in the metrics_sketches write: {sketch_python_nodes}"
    staged_html = captured[("staged_html", 1)]
    for node in executed_nodes(staged_html):
        name = node.nodeName()
        assert not (name == "Exchange" and node.outputPartitioning().toString() == "SinglePartition"), (
            f"single-partition exchange upstream of the parser: {node.simpleString(8)}"
        )
        assert not (name == "Window" and node.partitionSpec().isEmpty()), (
            f"unpartitioned window upstream of the parser: {node.simpleString(8)}"
        )


# Exchange, BroadcastExchange and ReusedExchange nodes in the fixture
# epoch-0 frontier' executed plan, walked in the JVM: 30 with the
# one-block global_sequence window and the fetch_seq stamp on the fetch
# log only, 73 while global_sequence joined its offset tables back onto
# the seed and discovered rows. The plan's text cannot serve: the
# session's 64 KB spark.sql.maxPlanStringLength truncates it, so a
# shuffle past the first 64 KB was invisible to a text count.
EXPECTED_FRONTIER_EXCHANGES = 30
# analysed nodes of the same frontier' while global_sequence joined its
# offset tables back onto its input (637 with the one-block window)
SEQUENCED_FRONTIER_NODES = 5_442
