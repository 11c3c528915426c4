"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` exercises an operator from SURVEY.md §2 (or
a training-data-pipeline op from the task brief) through the engine's
own operator library (``retailer_scrapers_spark``), and — where the
semantics are ANSI-expressible — ``oracle_sql()`` carries the DuckDB
equivalent the driver compares against at sf=0.01.

Conventions for oracle parity:
- every computed column is aliased identically on both sides;
- floats are ``round(x, k)``-ed on both sides;
- timestamps are formatted to strings on both sides (Spark session TZ
  is pinned to UTC in ``get_spark``; the driver's session may differ,
  so queries avoid tz-dependent extraction on raw timestamps).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# deterministic 64-dim query vector for the similarity ops (matches the
# embeddings dim of the driver tables)
_QUERY_VEC = [((i * 37 + 11) % 17 - 8) / 8.0 for i in range(64)]
_QUERY_SQL = "[" + ", ".join(f"{x}::DOUBLE" for x in _QUERY_VEC) + "]"


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: host-bucketed top-k (R6) + promo-priority dedup (D1) over a
    customer⋈orders join — the frontier-scheduling heart of the engine
    applied to the driver's tables at sf0.001."""
    from retailer_scrapers_spark.operators.dedup import dedup_keep_promo
    from retailer_scrapers_spark.operators.frontier import topk_per_host

    orders = _t(spark, SF_DEFAULT, "orders")
    customer = _t(spark, SF_DEFAULT, "customer")
    joined = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey).select(
        F.col("c_mktsegment").alias("host"),
        F.col("o_totalprice").alias("priority"),
        F.col("o_orderkey").alias("seq"),
        F.col("c_name").alias("name"),
        F.round("o_totalprice", 0).cast("string").alias("price"),
        F.when(F.col("o_orderstatus") == "O", F.lit("open-promo")).otherwise(F.lit("No promo")).alias(
            "promotion_price"
        ),
        F.col("o_orderkey").alias("index"),
    )
    top = topk_per_host(joined, per_host_budget=25)
    return dedup_keep_promo(top, keys=("name", "price")).select(
        "host", "name", "price", "promotion_price", "index"
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- reference-parity operators (SURVEY.md §2) --------------------------

    def d1_dedup_keep_promo(spark, sf):
        from retailer_scrapers_spark.operators.dedup import dedup_keep_promo

        li = _t(spark, sf, "lineitem").select(
            F.col("l_partkey").alias("name"),
            F.col("l_quantity").cast("long").alias("price"),
            F.when(F.col("l_returnflag") == "R", F.lit("promo")).otherwise(F.lit("No promo")).alias(
                "promotion_price"
            ),
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("index"),
        )
        return dedup_keep_promo(li, keys=("name", "price")).select("name", "price", "promotion_price", "index")

    q["d1_dedup_keep_promo"] = d1_dedup_keep_promo

    def d2_repair_duplicate_indexes(spark, sf):
        from retailer_scrapers_spark.operators.dedup import repair_duplicate_indexes

        from retailer_scrapers_spark.operators.caching import carry_caches

        li = _t(spark, sf, "lineitem").select(
            (F.col("l_orderkey") % 1000).alias("index"),
            F.col("l_orderkey").alias("okey"),
            F.col("l_linenumber").alias("lnum"),
        )
        out = repair_duplicate_indexes(li, "index", floor_value=5000, order_cols=("okey", "lnum"))
        # carry_caches: the final .select is a DERIVED frame — without the
        # carry the operator's internal persist releases before execution
        return carry_caches(out.select("okey", "lnum", "index"), out)

    q["d2_repair_duplicate_indexes"] = d2_repair_duplicate_indexes

    def d3_drop_duplicates_first(spark, sf):
        from retailer_scrapers_spark.operators.dedup import drop_duplicates_first

        li = _t(spark, sf, "lineitem").select(
            F.col("l_partkey").alias("name"),
            F.col("l_suppkey").alias("price"),
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("index"),
        )
        return drop_duplicates_first(li, ("name", "price"), "index")

    q["d3_drop_duplicates_first"] = d3_drop_duplicates_first

    def d4_resume_max_index(spark, sf):
        # S10/D4 — resume-point scan (scrape_pnp.py:364-378)
        return _t(spark, sf, "orders").agg(
            (F.greatest(F.max("o_orderkey"), F.lit(7499)) + 1).alias("next_index")
        )

    q["d4_resume_max_index"] = d4_resume_max_index

    def d5_last_page_math(spark, sf):
        from retailer_scrapers_spark.functions.prices import last_page_of

        counts = _t(spark, sf, "orders").groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
        return counts.select(
            F.col("o_custkey"), last_page_of(F.col("n"), 24).alias("last_page")
        )

    q["d5_last_page_math"] = d5_last_page_math

    def d6_seen_filter_anti(spark, sf):
        # D6 — Bloom-prefiltered EXACT unseen set == ANTI JOIN oracle.
        # Slice-routed transport (VERDICT r4 #1): the filter is a
        # per-slice state DataFrame, built distributed and probed by
        # cogrouping each URL with only its slice's bytes — the path the
        # crawl epoch loop uses; no whole-filter broadcast or collect.
        from retailer_scrapers_spark.operators.bloom import (
            VERIFY_BROADCAST_DEFAULT_ROWS,
            _own_pin,
            build_bloom_state,
            filter_unseen_split_state,
            predicted_fpp,
        )

        orders = _t(spark, sf, "orders")
        urls = orders.select(
            F.col("o_orderkey").alias("okey"),
            F.concat(F.lit("https://h"), (F.col("o_orderkey") % 50).cast("string"),
                     F.lit(".test/o/"), F.col("o_orderkey").cast("string")).alias("url_canon"),
        )
        seen = urls.filter(F.col("okey") % 3 == 0).select("url_canon")
        from retailer_scrapers_spark.operators.caching import unpersist_when_collected

        # Scale-adaptive sizing from the parquet footers (no Spark job;
        # guide §2: derive scale-dependent settings from input size, not
        # constants). seen is the okey%3==0 third of orders; the filter
        # keeps ~5 bits/item at any SF (the same ratio the old fixed
        # 1<<18 gave sf0.1, so plans at sf<=0.1 are unchanged), and the
        # verify flips to the count-free shuffled pair once the predicted
        # positives (the seen rows plus the filter's false positives on
        # the rest) are past the measured broadcast crossover. Footers
        # only, so this works for a single file or a directory dataset as
        # Spark writes it.
        import math as _math

        import pyarrow.dataset as _ds

        n_orders = _ds.dataset(f"{sf}/orders.parquet", format="parquet").count_rows()
        seen_est = max(n_orders // 3, 64)
        m_bits = 1 << max(18, _math.ceil(_math.log2(seen_est * 5)))
        positives_est = seen_est + predicted_fpp(seen_est, m_bits, 1, 7) * max(n_orders - seen_est, 0)
        verify_rows = None if positives_est <= VERIFY_BROADCAST_DEFAULT_ROWS else -1
        held: list = []
        pin = _own_pin(held)
        # persisted: the split's state-row read and its probe share one build
        state = pin(build_bloom_state(seen, m_bits=m_bits, k_hashes=7, n_slices=8))
        unseen, _dup = filter_unseen_split_state(
            urls.select("url_canon"), state, seen, pin=pin, n_slices=8,
            verify_broadcast_max_rows=verify_rows,
        )
        return unpersist_when_collected(unseen.select("url_canon"), *held)

    q["d6_seen_filter_anti"] = d6_seen_filter_anti

    def d7_exists_check_anti(spark, sf):
        # build side restricted to l_partkey % 7 != 0 so the anti-join
        # KEEPS a non-empty, data-dependent set (every part occurs in
        # lineitem at these SFs — the unrestricted form returned 0 rows
        # in four straight rounds and never exercised the keep path;
        # VERDICT r4 #7)
        part = _t(spark, sf, "part")
        li = _t(spark, sf, "lineitem").filter(F.col("l_partkey") % 7 != 0)
        return part.join(li.select(F.col("l_partkey").alias("p_partkey")).distinct(), "p_partkey", "left_anti").select(
            "p_partkey", "p_name"
        )

    q["d7_exists_check_anti"] = d7_exists_check_anti

    def d8_nan_row_detection(spark, sf):
        ev = _t(spark, sf, "events").withColumn("etype", F.nullif(F.col("event_type"), F.lit("error")))
        bad = ev.filter(F.col("etype").isNull() | F.col("value").isNull())
        return bad.agg(F.count(F.lit(1)).alias("n_bad_rows"))

    q["d8_nan_row_detection"] = d8_nan_row_detection

    def j1_zip_join(spark, sf):
        # J1 — positional zip join: ordinals via row_number per order
        from retailer_scrapers_spark.operators.joins import zip_join

        li = _t(spark, sf, "lineitem")
        # (l_orderkey, l_linenumber) is NOT unique in the driver tables, so the
        # ordinal must come from a SHARED total order on both sides (§2.9)
        w = Window.partitionBy("page").orderBy("l_linenumber", "l_partkey", "qty")
        # persist the shared ranked frame: both zip sides read ONE window
        # materialization instead of re-scanning + re-shuffling + re-
        # sorting lineitem per side (guide §5 persist-on-reuse; the cache
        # releases with the returned handle)
        from retailer_scrapers_spark.operators.caching import unpersist_when_collected

        src = li.select(
            F.col("l_orderkey").alias("page"), "l_partkey", "l_linenumber",
            F.col("l_quantity").cast("long").alias("qty"),
        ).withColumn("pos", F.row_number().over(w) - 1).persist()
        left = src.select("page", "pos", "l_partkey")
        right = src.select("page", "pos", "qty")
        out = zip_join(left, right, "page", "pos").select("page", "pos", "l_partkey", "qty")
        return unpersist_when_collected(out, src)

    q["j1_zip_join"] = j1_zip_join

    def j2_lookup_join(spark, sf):
        from retailer_scrapers_spark.operators.joins import lookup_join

        orders = _t(spark, sf, "orders").select(F.col("o_orderkey"), F.col("o_custkey").alias("name"))
        cust = _t(spark, sf, "customer").select(
            F.col("c_custkey").alias("name"), F.col("c_mktsegment"), F.col("c_acctbal")
        )
        out = lookup_join(orders, cust, "name")
        return out.select(
            "o_orderkey",
            F.col("name").alias("custkey"),
            F.col("c_mktsegment_existing").alias("segment"),
            F.round("c_acctbal_existing", 2).alias("acctbal"),
        )

    q["j2_lookup_join"] = j2_lookup_join

    def j4_last_wins(spark, sf):
        from retailer_scrapers_spark.operators.dedup import last_wins

        orders = _t(spark, sf, "orders")
        return last_wins(orders.select("o_custkey", "o_orderkey", "o_orderstatus"), "o_custkey", "o_orderkey")

    q["j4_last_wins"] = j4_last_wins

    def k2_merge_upsert(spark, sf):
        from retailer_scrapers_spark.operators.joins import merge_upsert

        cust = _t(spark, sf, "customer").select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"))
        updates = cust.filter(F.col("c_custkey") % 10 == 0).withColumn(
            "c_acctbal", F.round(F.col("c_acctbal") + 100.0, 2)
        )
        return merge_upsert(cust, updates, keys=("c_custkey",), order_col="c_custkey")

    q["k2_merge_upsert"] = k2_merge_upsert

    def k4_union_all(spark, sf):
        orders = _t(spark, sf, "orders")
        a = orders.filter(F.col("o_orderstatus") == "O").select("o_orderkey", "o_orderstatus")
        b = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderstatus")
        return a.unionByName(b).groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))

    q["k4_union_all"] = k4_union_all

    def r6_topk_per_group(spark, sf):
        from retailer_scrapers_spark.operators.frontier import topk_per_host

        orders = _t(spark, sf, "orders").select(
            F.col("o_custkey").alias("host"), F.col("o_totalprice").alias("priority"), F.col("o_orderkey").alias("seq")
        )
        return topk_per_host(orders, 3).select(
            F.col("host").alias("custkey"), F.round("priority", 2).alias("totalprice"), F.col("seq").alias("orderkey")
        )

    q["r6_topk_per_group"] = r6_topk_per_group

    def r3_robots_prefix_deny(spark, sf):
        from retailer_scrapers_spark.operators.politeness import robots_filter

        orders = _t(spark, sf, "orders")
        frontier = orders.select(
            F.concat(F.lit("https://shop.test/"), F.lower(F.substring_index("o_orderpriority", "-", -1)),
                     F.lit("/"), F.col("o_orderkey").cast("string")).alias("url_canon"),
            F.lit("shop.test").alias("host"),
        )
        robots = spark.createDataFrame(
            [("shop.test", ["/urgent", "/high"], 10.0)], "host string, disallow array<string>, crawl_delay_s double"
        )
        allowed, _denied = robots_filter(frontier, robots)
        return allowed.select("url_canon")

    q["r3_robots_prefix_deny"] = r3_robots_prefix_deny

    def r2_visit_window(spark, sf):
        # R2 — time-of-day predicate (04:00–08:45 UTC, scrape_pnp.py:53-63)
        ev = _t(spark, sf, "events")
        secs = (
            F.hour(F.col("ts")) * 3600 + F.minute(F.col("ts")) * 60 + F.second(F.col("ts"))
        )
        return ev.filter(secs.between(4 * 3600, 8 * 3600 + 45 * 60)).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        )

    q["r2_visit_window"] = r2_visit_window

    def o2_assign_indexes(spark, sf):
        from retailer_scrapers_spark.operators.frontier import assign_global_indexes

        orders = _t(spark, sf, "orders").select(
            F.col("o_orderstatus").alias("retailer"), F.col("o_orderkey")
        )
        out = assign_global_indexes(
            orders, {"O": 0, "F": 100000, "P": 200000}, order_cols=("o_orderkey",)
        )
        return out.select("o_orderkey", "retailer", "index")

    q["o2_assign_indexes"] = o2_assign_indexes

    def c1_get_price(spark, sf):
        from retailer_scrapers_spark.functions.prices import get_price

        part = _t(spark, sf, "part").select(
            "p_partkey",
            F.when(F.col("p_size") > 25, F.concat(F.lit("R"), F.round("p_retailprice", 2).cast("string")))
            .otherwise(F.lit("n/a")).alias("old"),
            F.when(F.col("p_size") % 3 == 0, F.concat(F.lit("R"), F.round(F.col("p_retailprice") * 0.9, 2).cast("string")))
            .otherwise(F.lit(None).cast("string")).alias("now"),
        )
        return part.select("p_partkey", get_price(F.col("old"), F.col("now")).alias("price"))

    q["c1_get_price"] = c1_get_price

    def c5_date_format(spark, sf):
        from retailer_scrapers_spark.functions.prices import promo_end_date

        ev = _t(spark, sf, "events")
        iso = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ssXXX")
        return ev.select("event_id", promo_end_date(iso).alias("promotion_valid"))

    q["c5_date_format"] = c5_date_format

    def c11_page_index(spark, sf):
        from retailer_scrapers_spark.functions.prices import page_index

        orders = _t(spark, sf, "orders")
        return orders.select(
            "o_orderkey",
            page_index((F.col("o_orderkey") % 10), (F.col("o_custkey") % 20)).alias("index"),
        )

    q["c11_page_index"] = c11_page_index

    def f4_null_handling(spark, sf):
        ev = _t(spark, sf, "events").withColumn("etype", F.nullif(F.col("event_type"), F.lit("view")))
        return ev.select("event_id", F.coalesce(F.col("etype"), F.lit(" ")).alias("etype"))

    q["f4_null_handling"] = f4_null_handling

    # ---- OLAP headline queries ----------------------------------------------

    def q1_pricing_summary(spark, sf):
        li = _t(spark, sf, "lineitem")
        return (
            li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
                F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                F.count(F.lit(1)).alias("count_order"),
            )
        )

    q["q1_pricing_summary"] = q1_pricing_summary

    def q3_top_revenue_orders(spark, sf):
        cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
        orders = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem")
        joined = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("l_orderkey")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
            .limit(10)
        )
        return joined

    q["q3_top_revenue_orders"] = q3_top_revenue_orders

    def supplier_nation_rollup(spark, sf):
        sup = _t(spark, sf, "supplier")
        nat = _t(spark, sf, "nation")
        reg = _t(spark, sf, "region")
        return (
            sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
            .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
            .groupBy("r_name")
            .agg(F.count(F.lit(1)).alias("n_suppliers"), F.round(F.sum("s_acctbal"), 2).alias("total_bal"))
        )

    q["supplier_nation_rollup"] = supplier_nation_rollup

    def asof_join_events_orders(spark, sf):
        # as-of join: each event picks the user's most recent order at or
        # before the event time (backward semantics, union-merge impl)
        from retailer_scrapers_spark.operators.asof import asof_join

        ev = _t(spark, sf, "events").select("event_id", "user_id", "ts")
        orders = _t(spark, sf, "orders").select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("ots"),
            F.round("o_totalprice", 2).alias("last_order_total"),
            F.col("o_orderkey"),
        )
        # pin ties: one order per (user, date) — keep max orderkey
        w = Window.partitionBy("user_id", "ots").orderBy(F.col("o_orderkey").desc())
        orders1 = orders.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn", "o_orderkey")
        out = asof_join(ev, orders1, "user_id", "ts", "ots", ("last_order_total",))
        return out.select(
            "event_id", "user_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"), "last_order_total"
        )

    q["asof_join_events_orders"] = asof_join_events_orders

    def percentiles_by_segment(spark, sf):
        cust = _t(spark, sf, "customer")
        return cust.groupBy("c_mktsegment").agg(
            F.round(F.percentile("c_acctbal", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("c_acctbal", F.lit(0.9)), 4).alias("p90"),
        )

    q["percentiles_by_segment"] = percentiles_by_segment

    def rollup_orders(spark, sf):
        orders = _t(spark, sf, "orders")
        return (
            orders.rollup("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        )

    q["rollup_orders"] = rollup_orders

    def pivot_status_counts(spark, sf):
        orders = _t(spark, sf, "orders")
        return (
            orders.groupBy("o_orderpriority")
            .pivot("o_orderstatus", ["O", "F", "P"])
            .agg(F.count(F.lit(1)))
            .na.fill(0)
            .select("o_orderpriority", F.col("O").alias("n_open"), F.col("F").alias("n_filled"), F.col("P").alias("n_pending"))
        )

    q["pivot_status_counts"] = pivot_status_counts

    def running_revenue(spark, sf):
        orders = _t(spark, sf, "orders")
        w = Window.partitionBy("o_custkey").orderBy("o_orderkey").rowsBetween(Window.unboundedPreceding, 0)
        return orders.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
        )

    q["running_revenue"] = running_revenue

    # ---- events: windows + sessionization ------------------------------------

    def events_tumbling_window(spark, sf):
        ev = _t(spark, sf, "events")
        win = F.window("ts", "5 minutes")
        return (
            ev.groupBy(win, "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
            .select(
                F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "event_type",
                "n",
                "total_value",
            )
        )

    q["events_tumbling_window"] = events_tumbling_window

    def sessionization(spark, sf):
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts")
        gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        sess = ev.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        sess = sess.withColumn("sess_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        return (
            sess.groupBy("user_id", "sess_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_sessions"), F.max("n_events").alias("max_session_events"))
        )

    q["sessionization"] = sessionization

    # ---- training-data pipeline ops -------------------------------------------

    def exact_dedup_docs(spark, sf):
        from retailer_scrapers_spark.operators.dedup import exact_dedup

        docs = _t(spark, sf, "documents").select("doc_id", F.substring("text", 1, 40).alias("text"))
        return exact_dedup(docs).select("doc_id", "text")

    q["exact_dedup_docs"] = exact_dedup_docs

    def ngram_jaccard_near_dup(spark, sf):
        from retailer_scrapers_spark.operators.dedup import ngram_jaccard_pairs

        from retailer_scrapers_spark.operators.caching import carry_caches

        docs = _t(spark, sf, "documents")
        out = ngram_jaccard_pairs(docs, n=3, threshold=0.12)
        return carry_caches(out.select("a", "b", F.round("jaccard", 6).alias("jaccard")), out)

    q["ngram_jaccard_near_dup"] = ngram_jaccard_near_dup

    def minhash_lsh_near_dup(spark, sf):
        from retailer_scrapers_spark.operators.dedup import minhash_lsh_pairs

        from retailer_scrapers_spark.operators.caching import carry_caches

        docs = _t(spark, sf, "documents")
        out = minhash_lsh_pairs(docs, num_hashes=32, bands=16, shingle_k=3, bucket_cap=2000)
        return carry_caches(
            out.select("a", "b", F.round("est_jaccard", 6).alias("est_jaccard")), out
        )

    q["minhash_lsh_near_dup"] = minhash_lsh_near_dup

    def simhash_fingerprints(spark, sf):
        from retailer_scrapers_spark.operators.dedup import simhash

        return simhash(_t(spark, sf, "documents"))

    q["simhash_fingerprints"] = simhash_fingerprints

    def doc_fingerprint(spark, sf):
        from retailer_scrapers_spark.functions.text import fingerprint

        docs = _t(spark, sf, "documents")
        return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))

    q["doc_fingerprint"] = doc_fingerprint

    def lang_id(spark, sf):
        from retailer_scrapers_spark.functions.text import detect_language

        docs = _t(spark, sf, "documents")
        return docs.select("doc_id", detect_language(F.col("text")).alias("lang_pred"))

    q["lang_id"] = lang_id

    def quality_scores(spark, sf):
        from retailer_scrapers_spark.functions.text import quality_score

        docs = _t(spark, sf, "documents")
        return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))

    q["quality_scores"] = quality_scores

    def token_counts(spark, sf):
        from retailer_scrapers_spark.functions.text import bpe_ish_token_count, whitespace_token_count

        docs = _t(spark, sf, "documents")
        return docs.select(
            "doc_id",
            whitespace_token_count(F.col("text")).alias("ws_tokens"),
            bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
        )

    q["token_counts"] = token_counts

    def stratified_quality_sample(spark, sf):
        # training-data curation: keep the top-5 quality docs per language
        # (stratified sampling by quality, deterministic tie-break)
        from retailer_scrapers_spark.functions.text import quality_score

        docs = _t(spark, sf, "documents").select("doc_id", "lang", quality_score(F.col("text")).alias("quality"))
        w = Window.partitionBy("lang").orderBy(F.col("quality").desc(), F.col("doc_id").asc())
        return docs.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5).select(
            "lang", "doc_id", "quality", "rk"
        )

    q["stratified_quality_sample"] = stratified_quality_sample

    def cosine_topk_ann(spark, sf):
        from retailer_scrapers_spark.operators.similarity import cosine_topk

        emb = _t(spark, sf, "embeddings")
        return cosine_topk(emb, _QUERY_VEC, k=20)

    q["cosine_topk_ann"] = cosine_topk_ann

    def ann_lsh_topk_q(spark, sf):
        from retailer_scrapers_spark.operators.similarity import ann_lsh_topk

        emb = _t(spark, sf, "embeddings")
        return ann_lsh_topk(emb, _QUERY_VEC, k=20, n_planes=8, max_hamming=4)

    q["ann_lsh_topk"] = ann_lsh_topk_q

    def ann_ivf_topk_q(spark, sf):
        from retailer_scrapers_spark.operators.similarity import ann_ivf_topk

        # n_probe 8/16: recall@20 = 0.70 at sf0.01 (clusterless gaussian
        # data — IVF's worst case; pinned by tests/test_recall_pins.py,
        # which also shows ≥0.9 at a 2/16 probe on clustered data)
        emb = _t(spark, sf, "embeddings")
        return ann_ivf_topk(emb, _QUERY_VEC, k=20, n_cells=16, n_probe=8)

    q["ann_ivf_topk"] = ann_ivf_topk_q

    def ann_ivf_full_probe_topk(spark, sf):
        # IVF with n_probe == n_cells is EXACT by construction (pruning
        # disabled, decomposition intact), so the whole IVF machinery —
        # Lloyd training, Arrow-matmul cell assignment, per-cell scoring,
        # cross-cell top-k merge — sits under the brute-force SQL oracle.
        # The pruned variant above stays recall-pinned; this proves the
        # decomposition itself is lossless.
        from retailer_scrapers_spark.operators.similarity import ann_ivf_topk

        emb = _t(spark, sf, "embeddings")
        return ann_ivf_topk(emb, _QUERY_VEC, k=12, n_cells=16, n_probe=16)

    q["ann_ivf_full_probe_topk"] = ann_ivf_full_probe_topk

    def embedding_near_dup_blocked(spark, sf):
        # exact all-pairs cosine within label blocks (deterministic oracle);
        # the LSH variant (embedding_near_dup_lsh) is the scale path
        emb = _t(spark, sf, "embeddings")
        a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"), "label")
        b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"), "label")
        dot = F.aggregate(
            F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")), F.lit(0.0), lambda acc, x: acc + x
        )
        na = F.sqrt(F.aggregate(F.transform("va", lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda acc, x: acc + x))
        nb = F.sqrt(F.aggregate(F.transform("vb", lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda acc, x: acc + x))
        return (
            a.join(b, "label")
            .filter(F.col("a") < F.col("b"))
            .withColumn("cosine", F.round(dot / (na * nb), 6))
            .filter(F.col("cosine") >= 0.2)
            .select("a", "b", "cosine")
        )

    q["embedding_near_dup_blocked"] = embedding_near_dup_blocked

    def embedding_near_dup_lsh(spark, sf):
        # LSH near-dup in its design regime (high cosine): the synthetic
        # embeddings are near-random (no pair above cosine 0.5), so plant
        # deterministic duplicates — each vector also appears scaled ×2
        # under vec_id+10^6 (cosine exactly 1.0 with its original). The
        # operator must recover those pairs via multi-table hyperplane
        # buckets; tests/test_recall_pins.py pins recall ≥ 0.9.
        from retailer_scrapers_spark.operators.similarity import embedding_near_dup_pairs

        emb = _t(spark, sf, "embeddings")
        planted = emb.select(
            (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
            F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias("embedding"),
            "label",
        )
        return embedding_near_dup_pairs(emb.unionByName(planted), threshold=0.95, n_planes=8, n_tables=4, bucket_cap=2000)

    q["embedding_near_dup_lsh"] = embedding_near_dup_lsh

    def parse_html_rows(spark, sf):
        # S1–S3/P1/F1/F6/C1/C3 — HTML page scan → product rows (synthetic web)
        from retailer_scrapers_spark import schemas
        from retailer_scrapers_spark.sources.parsers import parse_html_products
        from retailer_scrapers_spark.sources.synthetic_site import SiteSpec, build_site_pages

        site = spark.createDataFrame(build_site_pages(SiteSpec()), schemas.SITE_PAGES)
        return parse_html_products(site.filter(F.col("payload_kind") == "html"))

    q["parse_html_rows"] = parse_html_rows

    def parse_pnp_rows(spark, sf):
        # S4/P2/C5 — JSON-API scan with nested-struct projections
        from retailer_scrapers_spark import schemas
        from retailer_scrapers_spark.sources.parsers import parse_pnp_products
        from retailer_scrapers_spark.sources.synthetic_site import SiteSpec, build_site_pages

        site = spark.createDataFrame(build_site_pages(SiteSpec()), schemas.SITE_PAGES)
        return parse_pnp_products(site.filter(F.col("payload_kind") == "json_pnp"))

    q["parse_pnp_rows"] = parse_pnp_rows

    def politeness_schedule_rows(spark, sf):
        # R1/R7 — per-host politeness schedule with skew salting over a
        # synthetic frontier derived from orders (simulated clock)
        from retailer_scrapers_spark.operators.frontier import salt_hot_hosts
        from retailer_scrapers_spark.operators.politeness import politeness_schedule

        orders = _t(spark, sf, "orders").limit(2000)
        frontier = orders.select(
            F.concat(F.lit("https://h"), (F.col("o_orderkey") % 5).cast("string"), F.lit(".test/o/"),
                     F.col("o_orderkey").cast("string")).alias("url_canon"),
            F.concat(F.lit("h"), (F.col("o_orderkey") % 5).cast("string"), F.lit(".test")).alias("host"),
            F.round("o_totalprice", 2).alias("priority"),
            F.col("o_orderkey").alias("seq"),
            F.lit(5.0).alias("crawl_delay_s"),
        )
        salted = salt_hot_hosts(frontier, target_rows_per_task=200)
        out = politeness_schedule(salted, epoch_budget_s=1e6)
        return out.select("url_canon", "host", "salt", "scheduled_offset_ms", "wait_ms", "within_budget")

    q["politeness_schedule_rows"] = politeness_schedule_rows

    def r1_schedule_arith(spark, sf):
        # R1 scheduler arithmetic, oracle-checked: a deterministic salt
        # (o_orderkey % 2) replaces the xxhash64 salt so DuckDB can
        # reproduce the exact offsets: offset = salt·delay + k·stride,
        # stride = delay·n_salt, first fetch per (host, salt) waits 0
        from retailer_scrapers_spark.operators.politeness import politeness_schedule

        orders = _t(spark, sf, "orders").filter(F.col("o_orderkey") <= 4000)
        frontier = orders.select(
            F.concat(F.lit("https://h"), (F.col("o_orderkey") % 5).cast("string"), F.lit(".test/o/"),
                     F.col("o_orderkey").cast("string")).alias("url_canon"),
            F.concat(F.lit("h"), (F.col("o_orderkey") % 5).cast("string"), F.lit(".test")).alias("host"),
            F.round("o_totalprice", 2).alias("priority"),
            F.col("o_orderkey").alias("seq"),
            F.lit(5.0).alias("crawl_delay_s"),
            (F.col("o_orderkey") % 2).cast("int").alias("salt"),
            F.lit(2).alias("n_salt"),
        )
        out = politeness_schedule(frontier, epoch_budget_s=1e6)
        return out.select("url_canon", "host", "salt", "scheduled_offset_ms", "wait_ms", "within_budget")

    q["r1_schedule_arith"] = r1_schedule_arith

    def r4_retry_requeue(spark, sf):
        # R4 — retry/backoff split as dataflow (scrape_shoprite.py:387-394)
        # with PER-HOST budgets: even keys cap at 3 (Shoprite/PnP), odd
        # keys retry forever (Woolworths, scrape_woolworths.py:80-111)
        from retailer_scrapers_spark.operators.frontier import requeue_failures

        orders = _t(spark, sf, "orders")
        fetched = orders.select(
            F.concat(F.lit("https://s.test/o/"), F.col("o_orderkey").cast("string")).alias("url_canon"),
            F.when(F.col("o_orderkey") % 7 == 0, F.lit(503)).otherwise(F.lit(200)).alias("status"),
            (F.col("o_orderkey") % 3).cast("int").alias("attempt"),
            F.lit(1.0).alias("priority"),
            F.when(F.col("o_orderkey") % 2 == 0, F.lit(3)).otherwise(F.lit(-1)).cast("int").alias("max_attempts"),
        )
        ok, retry, dropped = requeue_failures(fetched, max_attempts_col="max_attempts")
        return (
            ok.select("url_canon", F.lit("ok").alias("outcome"), F.col("attempt"), F.round("priority", 2).alias("priority"))
            .unionByName(retry.select("url_canon", F.lit("retry").alias("outcome"), "attempt", F.round("priority", 2).alias("priority")))
            .unionByName(dropped.select("url_canon", F.lit("dropped").alias("outcome"), "attempt", F.round("priority", 2).alias("priority")))
        )

    q["r4_retry_requeue"] = r4_retry_requeue

    def o4_bucket_listing(spark, sf):
        # O4 — object list sorted by name desc, limit (scrape_shoprite.py:107-110)
        part = _t(spark, sf, "part")
        return part.select("p_partkey", "p_name").orderBy(
            F.col("p_name").desc(), F.col("p_partkey").desc()
        ).limit(100)

    q["o4_bucket_listing"] = o4_bucket_listing

    def f7_sanitize_names(spark, sf):
        # F7 — NFKD→ascii→[^\w.-]→'_' (identity-NFKD on this ASCII corpus,
        # which keeps the oracle expressible)
        from retailer_scrapers_spark.functions.text import sanitize_name

        docs = _t(spark, sf, "documents")
        return docs.select("doc_id", sanitize_name(F.substring("text", 1, 30)).alias("sanitized"))

    q["f7_sanitize_names"] = f7_sanitize_names

    def frame_sample_rows(spark, sf):
        # multimodal frame-sampling plumbing (stubbed codec, real fan-out)
        from retailer_scrapers_spark import schemas
        from retailer_scrapers_spark.functions.images import frame_sample
        from retailer_scrapers_spark.sources.synthetic_site import SiteSpec, build_corpus

        corpus = spark.createDataFrame(build_corpus(SiteSpec()), schemas.CORPUS).limit(20)
        return frame_sample(corpus, n_frames=3).select("image_id", "frame_idx", "frame_w", "frame_h")

    q["frame_sample_rows"] = frame_sample_rows

    def pagerank_priorities(spark, sf):
        # iterative crawl-priority scoring over a supplier→part link graph.
        # Deterministic edge set (full table, distinct inside pagerank) so
        # the DuckDB oracle sees the same graph — the node count is bounded
        # by |suppliers| × 50 regardless of SF, so the graph stays small.
        from retailer_scrapers_spark.operators.pagerank import pagerank

        li = _t(spark, sf, "lineitem")
        edges = li.select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("p"), (F.col("l_partkey") % 50).cast("string")).alias("dst"),
        )
        return pagerank(edges, iterations=8)

    q["pagerank_priorities"] = pagerank_priorities

    def image_near_dup_rows(spark, sf):
        # image near-dup: banded phash hamming join over the synthetic
        # corpus + deliberately lossy re-encodes (payload=image axis)
        from retailer_scrapers_spark import schemas
        from retailer_scrapers_spark.functions.images import decode_image, encode_image, phash64
        from retailer_scrapers_spark.operators.similarity import phash_near_dup_pairs
        from retailer_scrapers_spark.sources.synthetic_site import SiteSpec, build_corpus

        pdf = build_corpus(SiteSpec()).head(100).copy()
        twins = pdf.copy()
        twins["image_id"] = "twin_" + twins["image_id"]
        twins["phash"] = [
            phash64(decode_image(encode_image(decode_image(bytes(b), f), "qjpg"), "qjpg"))
            for b, f in zip(pdf["bytes"], pdf["fmt"])
        ]
        import pandas as pd_

        both = pd_.concat([pdf, twins], ignore_index=True)
        corpus = spark.createDataFrame(both, schemas.CORPUS)
        return phash_near_dup_pairs(corpus.select("image_id", "phash"), max_hamming=6, bucket_cap=2000)

    q["image_near_dup_rows"] = image_near_dup_rows

    def image_phash_pipeline(spark, sf):
        # multimodal plumbing: synthetic corpus → decode → stats + phash.
        # r6: one fused features UDF decodes each blob ONCE for stats AND
        # phash (the two side-by-side UDFs each decoded the full blob —
        # guide §4); output rows/columns/values are unchanged.
        from retailer_scrapers_spark import schemas
        from retailer_scrapers_spark.functions.images import image_features_udf
        from retailer_scrapers_spark.sources.synthetic_site import build_corpus

        corpus = spark.createDataFrame(build_corpus(), schemas.CORPUS)
        out = corpus.select(
            "image_id",
            "fmt",
            image_features_udf(F.col("bytes"), F.col("fmt")).alias("s"),
            "phash",
        )
        return out.select(
            "image_id", "fmt", F.col("s.w").alias("w"), F.col("s.h").alias("h"),
            (F.col("s.phash") == F.col("phash")).alias("phash_ok"),
        )

    q["image_phash_pipeline"] = image_phash_pipeline

    def global_sequence_rank(spark, sf):
        # the epoch loop's scalable seq stamp (operators/frontier.py
        # global_sequence): identical to ROW_NUMBER() OVER (ORDER BY
        # c_name), with no single-partition row-level sort of more than
        # block_cap rows — one window at ≤ block_cap rows, else a
        # three-level distributed prefix-sum (VERDICT r1 top item)
        from retailer_scrapers_spark.operators.frontier import global_sequence

        from retailer_scrapers_spark.operators.caching import carry_caches

        cust = _t(spark, sf, "customer").select("c_custkey", "c_name")
        out = global_sequence(cust, "c_name", "seq", start=0, prefix_len=17, coarse_len=15)
        return carry_caches(out.select("c_custkey", "c_name", "seq"), out)

    q["global_sequence_rank"] = global_sequence_rank

    def hll_distinct_users(spark, sf):
        # per-key HyperLogLog distinct sketch (Spark's hll_sketch_agg at
        # lgK 12; unions merge registers). Engine-specific registers →
        # rows-only for the oracle; tests/test_recall_pins.py pins
        # estimates within ±3% of exact distinct counts.
        ev = _t(spark, sf, "events")
        return (
            ev.groupBy("event_type")
            .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 12)).cast("double").alias("approx_distinct_users"))
            .orderBy("event_type")
        )

    q["hll_distinct_users"] = hll_distinct_users

    def tdigest_value_quantiles(spark, sf):
        # per-key quantiles from a KLL sketch (Spark's kll_sketch_agg;
        # k = 1000 keeps the rank error near 0.3%). It compacts at random
        # above k, so the answers are approximate and vary between runs →
        # rows-only; rank-accuracy pinned in tests/test_recall_pins.py
        # against exact percentiles.
        ev = _t(spark, sf, "events")
        qs = F.kll_sketch_get_quantile_double(F.kll_sketch_agg_double("value", 1000), F.array(F.lit(0.5), F.lit(0.95)))
        return (
            ev.groupBy("event_type")
            .agg(qs.alias("qs"))
            .select("event_type", F.col("qs")[0].alias("p50"), F.col("qs")[1].alias("p95"))
            .orderBy("event_type")
        )

    q["tdigest_value_quantiles"] = tdigest_value_quantiles

    # The driver verifies only the FIRST 50 entries: emit every
    # oracle-backed query first (all get rows+schema+hash checks). The
    # rows-only tail then fills the leftover window slots in
    # LEAST-RECENTLY-CHECKED order, derived ONLY from the committed
    # CORRECTNESS_r*.json reports (never-checked first, then oldest
    # check, alphabetical tie-break) — so driver coverage converges over
    # rounds and which entries land in-window never depends on what
    # changed this round (ADVICE r3-high: the previous hand-picked
    # priority list could evict just-modified queries from the window;
    # VERDICT r3 next #8 asked for deterministic rotation — LRU
    # strictly dominates blind rotation for coverage).
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    oracle_keys = set(oracle_sql().keys())
    ordered: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        k: v for k, v in q.items() if k in oracle_keys
    }
    here = _os.path.dirname(_os.path.abspath(__file__))
    last_checked: dict[str, int] = {}
    for f in _glob.glob(_os.path.join(here, "CORRECTNESS_r*.json")):
        m = _re.search(r"_r(\d+)\.json$", f)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(f) as fh:
                checked = _json.load(fh)
        except (OSError, ValueError):
            continue
        for k in checked:
            last_checked[k] = max(last_checked.get(k, 0), rnd)
    tail = sorted(
        (k for k in q if k not in oracle_keys),
        key=lambda k: (last_checked.get(k, 0), k),
    )
    for k in tail:
        ordered[k] = q[k]
    return ordered


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["d1_dedup_keep_promo"] = """
        WITH t AS (
          SELECT l_partkey AS name,
                 CAST(l_quantity AS BIGINT) AS price,
                 CASE WHEN l_returnflag = 'R' THEN 'promo' ELSE 'No promo' END AS promotion_price,
                 l_orderkey * 10 + l_linenumber AS index
          FROM lineitem
        )
        SELECT name, price, promotion_price, index FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY name, price
            ORDER BY CASE WHEN promotion_price <> 'No promo' THEN 0 ELSE 1 END, index
          ) AS rn FROM t
        ) WHERE rn = 1
    """

    o["d2_repair_duplicate_indexes"] = """
        WITH t AS (
          SELECT l_orderkey % 1000 AS index, l_orderkey AS okey, l_linenumber AS lnum
          FROM lineitem
        ), marked AS (
          SELECT *, COUNT(*) OVER (PARTITION BY index) AS cnt FROM t
        ), base AS (
          -- reference: duplicates removed FIRST, then max over the remainder, floored
          SELECT GREATEST(COALESCE(MAX(index), 5000), 5000) AS m FROM marked WHERE cnt = 1
        )
        SELECT okey, lnum, index FROM marked WHERE cnt = 1
        UNION ALL
        SELECT okey, lnum,
               ROW_NUMBER() OVER (ORDER BY okey, lnum, index) + (SELECT m FROM base) AS index
        FROM marked WHERE cnt > 1
    """

    o["d3_drop_duplicates_first"] = """
        SELECT name, price, index FROM (
          SELECT l_partkey AS name, l_suppkey AS price,
                 l_orderkey * 10 + l_linenumber AS index,
                 ROW_NUMBER() OVER (PARTITION BY l_partkey, l_suppkey
                                    ORDER BY l_orderkey * 10 + l_linenumber) AS rn
          FROM lineitem
        ) WHERE rn = 1
    """

    o["d4_resume_max_index"] = "SELECT GREATEST(MAX(o_orderkey), 7499) + 1 AS next_index FROM orders"

    o["d5_last_page_math"] = """
        SELECT o_custkey, CAST(FLOOR((COUNT(*) - 1) / 24.0) AS INTEGER) AS last_page
        FROM orders GROUP BY o_custkey
    """

    # D6 — the Bloom prefilter + exact verify is EXACT by construction, so
    # the oracle is the plain anti join over the same hash-free seen rule.
    o["d6_seen_filter_anti"] = """
        WITH urls AS (
          SELECT o_orderkey AS okey,
                 'https://h' || (o_orderkey % 50) || '.test/o/' || o_orderkey AS url_canon
          FROM orders
        ), seen AS (
          SELECT url_canon FROM urls WHERE okey % 3 = 0
        )
        SELECT url_canon FROM urls WHERE url_canon NOT IN (SELECT url_canon FROM seen)
    """

    o["d7_exists_check_anti"] = """
        SELECT p_partkey, p_name FROM part
        WHERE p_partkey NOT IN (
          SELECT DISTINCT l_partkey FROM lineitem WHERE l_partkey % 7 != 0
        )
    """

    o["d8_nan_row_detection"] = """
        SELECT COUNT(*) AS n_bad_rows FROM (
          SELECT NULLIF(event_type, 'error') AS etype, value FROM events
        ) WHERE etype IS NULL OR value IS NULL
    """

    o["j1_zip_join"] = """
        WITH src AS (
          SELECT l_orderkey AS page, l_partkey, CAST(l_quantity AS BIGINT) AS qty,
                 ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                    ORDER BY l_linenumber, l_partkey, CAST(l_quantity AS BIGINT)) - 1 AS pos
          FROM lineitem
        )
        SELECT l.page, l.pos, l.l_partkey, r.qty
        FROM (SELECT page, pos, l_partkey FROM src) l
        LEFT JOIN (SELECT page, pos, qty FROM src) r USING (page, pos)
    """

    o["j2_lookup_join"] = """
        SELECT o.o_orderkey, o.o_custkey AS custkey, c.c_mktsegment AS segment,
               ROUND(c.c_acctbal, 2) AS acctbal
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """

    o["j4_last_wins"] = """
        SELECT o_custkey, o_orderkey, o_orderstatus FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
          FROM orders
        ) WHERE rn = 1
    """

    o["k2_merge_upsert"] = """
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 10 = 0 THEN ROUND(ROUND(c_acctbal, 2) + 100.0, 2)
                    ELSE ROUND(c_acctbal, 2) END AS c_acctbal
        FROM customer
    """

    o["k4_union_all"] = """
        SELECT o_orderstatus, COUNT(*) AS n FROM (
          SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'
          UNION ALL
          SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
        ) GROUP BY o_orderstatus
    """

    o["r6_topk_per_group"] = """
        SELECT custkey, totalprice, orderkey FROM (
          SELECT o_custkey AS custkey, ROUND(o_totalprice, 2) AS totalprice, o_orderkey AS orderkey,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders
        ) WHERE rn <= 3
    """

    o["r3_robots_prefix_deny"] = """
        WITH f AS (
          SELECT 'https://shop.test/' || lower(split_part(o_orderpriority, '-', 2)) || '/' || o_orderkey AS url_canon
          FROM orders
        )
        SELECT url_canon FROM f
        WHERE NOT (url_canon LIKE 'https://shop.test/urgent%' OR url_canon LIKE 'https://shop.test/high%')
    """

    o["r2_visit_window"] = """
        SELECT event_type, COUNT(*) AS n FROM events
        WHERE (EXTRACT(hour FROM ts) * 3600 + EXTRACT(minute FROM ts) * 60 + EXTRACT(second FROM ts))
              BETWEEN 14400 AND 31500
        GROUP BY event_type
    """

    o["o2_assign_indexes"] = """
        SELECT o_orderkey, o_orderstatus AS retailer,
               CASE o_orderstatus WHEN 'O' THEN 0 WHEN 'F' THEN 100000 ELSE 200000 END
               + ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) - 1 AS index
        FROM orders
    """

    o["c1_get_price"] = """
        WITH t AS (
          SELECT p_partkey,
                 CASE WHEN p_size > 25 THEN 'R' || ROUND(p_retailprice, 2) ELSE 'n/a' END AS old,
                 CASE WHEN p_size % 3 = 0 THEN 'R' || ROUND(p_retailprice * 0.9, 2) END AS now
          FROM part
        )
        SELECT p_partkey,
               CASE WHEN old IS NOT NULL AND regexp_matches(old, '[0-9]') THEN old
                    WHEN now IS NOT NULL AND regexp_matches(now, '[0-9]') THEN now
                    ELSE 'no price available' END AS price
        FROM t
    """

    o["c5_date_format"] = """
        SELECT event_id, 'Valid until ' || strftime(ts, '%-d %B %Y') AS promotion_valid FROM events
    """

    o["c11_page_index"] = """
        SELECT o_orderkey, (o_orderkey % 10) * 20 - 1 + (o_custkey % 20) AS index FROM orders
    """

    o["f4_null_handling"] = """
        SELECT event_id, COALESCE(NULLIF(event_type, 'view'), ' ') AS etype FROM events
    """

    o["q1_pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(AVG(l_quantity), 6) AS avg_qty,
               ROUND(AVG(l_discount), 6) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """

    o["q3_top_revenue_orders"] = """
        SELECT l_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY l_orderkey
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """

    o["supplier_nation_rollup"] = """
        SELECT r_name, COUNT(*) AS n_suppliers, ROUND(SUM(s_acctbal), 2) AS total_bal
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """

    o["asof_join_events_orders"] = """
        WITH o1 AS (
          SELECT user_id, ots, last_order_total FROM (
            SELECT o_custkey AS user_id, o_orderdate AS ots,
                   ROUND(o_totalprice, 2) AS last_order_total,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
            FROM orders
          ) WHERE rn = 1
        )
        SELECT e.event_id, e.user_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
               o1.last_order_total
        FROM events e ASOF LEFT JOIN o1 ON e.user_id = o1.user_id AND e.ts >= o1.ots
    """

    o["percentiles_by_segment"] = """
        SELECT c_mktsegment,
               ROUND(quantile_cont(c_acctbal, 0.5), 4) AS p50,
               ROUND(quantile_cont(c_acctbal, 0.9), 4) AS p90
        FROM customer GROUP BY c_mktsegment
    """

    o["rollup_orders"] = """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """

    o["pivot_status_counts"] = """
        SELECT o_orderpriority,
               COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
               COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
        FROM orders GROUP BY o_orderpriority
    """

    o["running_revenue"] = """
        SELECT o_custkey, o_orderkey,
               ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        FROM orders
    """

    o["events_tumbling_window"] = """
        SELECT strftime(to_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
        FROM events GROUP BY 1, 2
    """

    o["sessionization"] = """
        WITH g AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), s AS (
          SELECT user_id,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
          FROM g
        ), per_sess AS (
          SELECT user_id, sess_id, COUNT(*) AS n_events FROM s GROUP BY 1, 2
        )
        SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_session_events
        FROM per_sess GROUP BY user_id
    """

    o["exact_dedup_docs"] = """
        SELECT doc_id, text FROM (
          SELECT doc_id, substring(text, 1, 40) AS text,
                 ROW_NUMBER() OVER (PARTITION BY substring(text, 1, 40) ORDER BY doc_id) AS rn
          FROM documents
        ) WHERE rn = 1
    """

    o["ngram_jaccard_near_dup"] = """
        WITH words AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id,
                 unnest(list_transform(range(1, GREATEST(len(w) - 2, 1) + 1),
                                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
          FROM words WHERE len(w) >= 3
        ), sizes AS (
          SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        ), rare AS (
          -- candidate shingles: document frequency <= df_cap (1000),
          -- mirroring the engine's hot-shingle cap contract
          SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 1000
        ), cand AS (
          SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
          FROM sh l JOIN rare USING (sh) JOIN sh r ON l.sh = r.sh AND l.doc_id < r.doc_id
        ), inter AS (
          -- exact verify over the FULL shingle sets for candidate pairs
          SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS i
          FROM sh l JOIN sh r ON l.sh = r.sh AND l.doc_id < r.doc_id
          GROUP BY 1, 2
        )
        SELECT a, b, ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
        FROM inter JOIN cand USING (a, b)
        JOIN sizes sa ON inter.a = sa.doc_id JOIN sizes sb ON inter.b = sb.doc_id
        WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.12
    """

    o["r4_retry_requeue"] = """
        WITH fetched AS (
          SELECT 'https://s.test/o/' || o_orderkey AS url_canon,
                 CASE WHEN o_orderkey % 7 = 0 THEN 503 ELSE 200 END AS status,
                 CAST(o_orderkey % 3 AS INTEGER) AS attempt,
                 1.0 AS priority,
                 CASE WHEN o_orderkey % 2 = 0 THEN 3 ELSE -1 END AS cap
          FROM orders
        )
        SELECT url_canon, 'ok' AS outcome, attempt, ROUND(priority, 2) AS priority
        FROM fetched WHERE status < 500
        UNION ALL
        SELECT url_canon, 'retry' AS outcome, attempt + 1 AS attempt,
               ROUND(priority - POW(2, attempt + 1), 2) AS priority
        FROM fetched WHERE status >= 500 AND (cap < 0 OR attempt + 1 < cap)
        UNION ALL
        SELECT url_canon, 'dropped' AS outcome, attempt, ROUND(priority, 2) AS priority
        FROM fetched WHERE status >= 500 AND cap >= 0 AND attempt + 1 >= cap
    """

    o["o4_bucket_listing"] = """
        SELECT p_partkey, p_name FROM part
        ORDER BY p_name DESC, p_partkey DESC LIMIT 100
    """

    o["f7_sanitize_names"] = """
        SELECT doc_id,
               regexp_replace(substring(text, 1, 30), '[^a-zA-Z0-9_.\\-]', '_', 'g') AS sanitized
        FROM documents
    """

    o["lang_id"] = _LANG_ID_SQL
    o["quality_scores"] = _QUALITY_SQL

    o["token_counts"] = """
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+')) END AS ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens
        FROM documents
    """

    o["stratified_quality_sample"] = f"""
        WITH scored AS (
          SELECT d.lang, q.doc_id, q.quality
          FROM ({_QUALITY_SQL}) q JOIN documents d USING (doc_id)
        )
        SELECT lang, doc_id, quality, rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id ASC) AS rk
          FROM scored
        ) WHERE rk <= 5
    """

    o["cosine_topk_ann"] = f"""
        SELECT vec_id,
               ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), {_QUERY_SQL})
                     / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                        * sqrt(list_dot_product({_QUERY_SQL}, {_QUERY_SQL}))), 6) AS cosine
        FROM embeddings
        ORDER BY cosine DESC, vec_id ASC
        LIMIT 20
    """

    # LSH top-k is deterministic given the seed: inline the exact
    # hyperplane doubles (float(x)!r round-trips bit-exactly — raw
    # np.float64 repr breaks under numpy>=2, ADVICE r4) and mirror the
    # engine's bucket/hamming pruning in SQL, so the APPROXIMATE result
    # — pruning and all — sits under the hash check, not just a recall
    # pin. Sign-at-boundary robustness (ADVICE r4): the plane dot
    # products are UNROLLED as explicit left-to-right additions —
    # ((0.0 + e[1]*p1) + e[2]*p2) + … — the exact IEEE sequence Spark's
    # aggregate() fold performs, so the >= 0 decisions are bit-identical
    # by construction instead of resting on DuckDB's list_dot_product
    # choosing the same summation order.
    import numpy as _np

    from retailer_scrapers_spark.operators.similarity import _hyperplanes

    _planes = _hyperplanes(len(_QUERY_VEC), 8, seed=42)
    _qbits = 0
    for _i, _p in enumerate(_planes):
        if float(_np.dot(_p, _QUERY_VEC)) >= 0:
            _qbits |= 1 << _i

    def _dot_unrolled(plane) -> str:
        expr = "0.0"
        for _j, _x in enumerate(plane):
            expr = f"({expr} + CAST(embedding[{_j + 1}] AS DOUBLE) * {float(_x)!r})"
        return expr

    _bucket_terms = " + ".join(
        f"(CASE WHEN {_dot_unrolled(_p)} >= 0 THEN {1 << _i} ELSE 0 END)"
        for _i, _p in enumerate(_planes)
    )
    o["ann_lsh_topk"] = f"""
        WITH b AS (
          SELECT vec_id,
                 ({_bucket_terms}) AS bucket,
                 ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), {_QUERY_SQL})
                       / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                          * sqrt(list_dot_product({_QUERY_SQL}, {_QUERY_SQL}))), 6) AS cosine
          FROM embeddings
        )
        SELECT vec_id, cosine FROM b
        WHERE bit_count(xor(bucket, {_qbits})) <= 4
        ORDER BY cosine DESC, vec_id ASC
        LIMIT 20
    """

    # IVF at full probe ≡ brute force (see queries(): the oracle checks
    # the decomposition, the pruned variant is recall-pinned in pytest)
    o["ann_ivf_full_probe_topk"] = f"""
        SELECT vec_id,
               ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), {_QUERY_SQL})
                     / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                        * sqrt(list_dot_product({_QUERY_SQL}, {_QUERY_SQL}))), 6) AS cosine
        FROM embeddings
        ORDER BY cosine DESC, vec_id ASC
        LIMIT 12
    """

    o["embedding_near_dup_blocked"] = """
        WITH e AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
                 sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
          FROM embeddings
        )
        SELECT a.vec_id AS a, b.vec_id AS b,
               ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.2
    """

    o["global_sequence_rank"] = """
        SELECT c_custkey, c_name,
               ROW_NUMBER() OVER (ORDER BY c_name) AS seq
        FROM customer
    """

    o["r1_schedule_arith"] = """
        WITH f AS (
          SELECT 'https://h' || (o_orderkey % 5) || '.test/o/' || o_orderkey AS url_canon,
                 'h' || (o_orderkey % 5) || '.test' AS host,
                 ROUND(o_totalprice, 2) AS priority,
                 o_orderkey AS seq,
                 CAST(o_orderkey % 2 AS INTEGER) AS salt
          FROM orders WHERE o_orderkey <= 4000
        ), r AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY host, salt ORDER BY priority DESC, seq) - 1 AS k
          FROM f
        )
        SELECT url_canon, host, salt,
               salt * 5000 + k * 10000 AS scheduled_offset_ms,
               CASE WHEN k = 0 THEN 0 ELSE 10000 END AS wait_ms,
               (salt * 5000 + k * 10000) < 1000000000 AS within_budget
        FROM r
    """

    # pagerank: fixed-iteration power method is ANSI-expressible — 8
    # unrolled CTE generations mirroring operators/pagerank.py:54-76
    # exactly (same dangling-mass redistribution, same round(rank, 8)).
    pr_iters = []
    prev = "r0"
    for i in range(1, 9):
        pr_iters.append(f"""
        r{i} AS (
          SELECT nd.node,
                 (1 - 0.85) / (SELECT n FROM nn)
                 + 0.85 * (SELECT COALESCE(SUM(r.rank), 0) FROM {prev} r
                           LEFT JOIN deg d ON r.node = d.src WHERE d.src IS NULL)
                        / (SELECT n FROM nn)
                 + 0.85 * COALESCE(c.contrib, 0) AS rank
          FROM nodes nd
          LEFT JOIN (
            SELECT e.dst AS node, SUM(r.rank / d.deg) AS contrib
            FROM edges e
            JOIN {prev} r ON e.src = r.node
            JOIN deg d ON e.src = d.src
            GROUP BY e.dst
          ) c ON nd.node = c.node
        )""")
        prev = f"r{i}"
    o["pagerank_priorities"] = f"""
        WITH edges AS (
          SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                          'p' || CAST(l_partkey % 50 AS VARCHAR) AS dst
          FROM lineitem
        ),
        nodes AS (
          SELECT src AS node FROM edges UNION SELECT dst FROM edges
        ),
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
        r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
        {",".join(pr_iters)}
        SELECT node, ROUND(rank, 8) AS rank FROM r8
    """

    # rows-only (engine-hash / LSH-recall / UDF-pipeline ops):
    #   minhash_lsh_near_dup, simhash_fingerprints, doc_fingerprint,
    #   ann_ivf_topk, embedding_near_dup_lsh,
    #   image_phash_pipeline, image_near_dup_rows, frame_sample_rows,
    #   parse_html_rows, parse_pnp_rows, politeness_schedule_rows,
    #   hll_distinct_users and tdigest_value_quantiles (approximate
    #   sketches; accuracy pinned in tests/test_recall_pins.py)
    return o


# quality/lang SQL mirrors of functions/text.py (kept adjacent for lockstep edits)
_STOP_EN = "['the','and','of','to','a','in','is','it','for','on','with','as']"
_STOP_AF = "['die','en','van','het','nie','is','vir','met','aan','om','dat','wat']"
_STOP_FR = "['le','la','et','de','un','une','est','pour','dans','que','les','des']"

_LANG_ID_SQL = f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents
    ), hits AS (
      SELECT doc_id,
             len(list_filter(w, x -> list_contains({_STOP_EN}, x))) AS en,
             len(list_filter(w, x -> list_contains({_STOP_AF}, x))) AS af,
             len(list_filter(w, x -> list_contains({_STOP_FR}, x))) AS fr
      FROM t
    )
    SELECT doc_id,
           CASE WHEN en = 0 AND af = 0 AND fr = 0 THEN 'und'
                WHEN af >= en AND af >= fr THEN 'af'
                WHEN en >= fr THEN 'en'
                ELSE 'fr' END AS lang_pred
    FROM hits
"""

_QUALITY_SQL = f"""
    WITH t AS (
      SELECT doc_id, text,
             length(text) AS n_chars,
             len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_words,
             length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                             x -> list_contains({_STOP_EN}, x))) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           ROUND(
             LEAST(CAST(n_words AS DOUBLE) / 50.0, 1.0) * 0.4
             + (1.0 - LEAST(CAST(n_punct AS DOUBLE) / GREATEST(n_chars, 1) * 5.0, 1.0)) * 0.3
             + LEAST(CAST(n_stop AS DOUBLE) / GREATEST(n_words, 1) * 4.0, 1.0) * 0.3, 6) AS quality
    FROM t
"""
