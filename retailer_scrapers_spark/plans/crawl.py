"""The unified crawl plan (SURVEY.md §3.4) — one DataFrame pipeline
replaces the reference's four scraper scripts + orchestrator.

Per epoch:

  frontier → canonicalize (F8) → robots gate (R3) → visit-window gate
  (R2) → URL-seen prefilter+verify (D6) → host-bucketed top-k (R6) →
  skew salting (R7) → politeness schedule (R1, simulated clock) →
  fetch (S1/S4/S5/S6 via site join) labelled with its fate (R4) →
  parse (P1–P3) → stage products/enrichments → discover links →
  frontier' → checkpoint (R8: fetch log, metrics, per-slice filter
  state, seen, then frontier — each an atomic snapshot; the frontier
  commit, written last, commits the epoch, and every epoch loads its
  inputs as of the last committed frontier epoch through ``load_epoch``).

Every input frontier row settles exactly once: one ``settled`` frame
(one union, pinned) holds each row with its ``outcome`` — ok, retry,
dropped, denied_robots, outside_window, dup_seen, backlog or
deferred_budget. The metrics events, the seen delta and the rows
frontier' carries over are filters of it; the fetch log projects the
labelled fetch it starts from.

``finalize`` then assembles the reference-compatible products table:
J1 zip-join enrichment, C2 promo derivation, S7 offer scalar, image
pipeline (S8 fetch, C12 phash, D7 exists-check, F5 skip-refetch),
O2 index assignment, D3 → D2 → D1 dedup in the reference's order
(scrape_pnp.py:423-438), F3 retailer filter, K2 merge-upsert, K4 union.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from retailer_scrapers_spark.functions.prices import NO_PROMO, promo_price
from retailer_scrapers_spark.functions.urls import canonicalize_urls
from retailer_scrapers_spark.operators.bloom import (
    VERIFY_BROADCAST_MAX_ROWS,
    _exact_verify_scan_side,
    build_bloom_state,
    filter_unseen_split_state,
    merge_filter_state,
)
from retailer_scrapers_spark.operators.dedup import (
    dedup_keep_promo,
    drop_duplicates_first,
    repair_duplicate_indexes,
)
from retailer_scrapers_spark.operators.frontier import (
    fetch_outcome,
    global_sequence,
    requeue_failures,  # noqa: F401  (not called here; perfbench/spans.py rebinds it on this module)
    requeue_retries,
    salt_hot_hosts,
    split_topk_per_host,
)
from retailer_scrapers_spark.operators.joins import (
    PLACEHOLDER_IMAGE_URL,
    lookup_join,
    skip_refetch_flag,
)
from retailer_scrapers_spark.operators.politeness import (
    politeness_schedule,
    robots_filter,
    visit_window_filter,
)
from retailer_scrapers_spark.plans.catalog import SnapshotCatalog
from retailer_scrapers_spark.sources.fetch import fetch_pages, stamp_fetch_seq
from retailer_scrapers_spark.sources.parsers import (
    discover_links,
    parse_heavy_attrs,
    parse_html_products,
    parse_offer_sentence,
    parse_pnp_products,
    parse_wool_products,
)
from retailer_scrapers_spark.sources.synthetic_site import BASE_OFFSETS, RETAILER_OF_HOST

# D2 repair floors (scrape_shoprite.py:560 etc.): floor = base − 1 per retailer
REPAIR_FLOORS = {"Checkers": -1, "Pick n Pay": 7499, "Shoprite": 17499, "Woolworths": 28999}

# the frontier table's columns (the `frontier` snapshot schema)
FRONTIER_COLS = ["url", "url_canon", "host", "priority", "depth", "attempt", "discovered_epoch", "seq"]


@dataclass
class CrawlConfig:
    workdir: str
    epochs: int = 4
    per_host_budget: int = 8
    epoch_budget_s: float = 17_100.0  # the reference's 04:00–08:45 window
    logical_now_s: int = 5 * 3600  # 05:00 UTC — inside the visit window
    # seen-filter geometry: every epoch's delta state is built at
    # bloom_bits total bits with bloom_hashes hashes, so it ORs into the
    # previous state slice by slice
    bloom_bits: int = 1 << 18
    bloom_hashes: int = 7
    # membership-filter slice count (power of two; per-slice state rows
    # in the checkpoint). None → next_pow2(defaultParallelism) at plan
    # construction: the slice-routed probe runs one Arrow task per
    # slice, so a pinned small count would cap probe parallelism (and
    # grow per-slice blobs past Arrow-group comfort) on a big cluster —
    # at 10^10 URLs / 1e-3 fpp the filter is ~17.9 GB, which wants
    # ≥1024 slices of ~17 MB, not 8 of 2.2 GB. On resume the value is
    # re-derived from the checkpointed state (hash routing must match
    # the build even across a cluster resize).
    bloom_slices: int | None = None
    # "epoch": scheduler clock restarts each epoch (reference: one run per
    # day). "continuous": per-(host,salt) politeness wait carries across
    # epochs — the batch composition of streaming.stateful (VERDICT r1 #9)
    politeness_mode: str = "epoch"
    # delta-table maintenance: every N epochs, merge the seen deltas
    # committed so far into one compacted generation (0 = never). At
    # 10^3 epochs this keeps read_all("seen") at O(few) files.
    compact_seen_every: int = 0
    target_rows_per_task: int = 10_000
    default_delay_s: float = 10.0
    base_offsets: dict[str, int] = field(default_factory=lambda: dict(BASE_OFFSETS))


class CrawlPlan:
    """Epoch-loop driver with checkpoint/resume (R8)."""

    def __init__(self, spark: SparkSession, cfg: CrawlConfig, site: DataFrame, robots: DataFrame):
        self.spark = spark
        self.cfg = cfg
        self.site = site
        self.robots = robots
        self.catalog = SnapshotCatalog(cfg.workdir, spark)
        from retailer_scrapers_spark.operators.bloom import _next_pow2

        self.n_slices = cfg.bloom_slices or _next_pow2(spark.sparkContext.defaultParallelism)
        # whether self.n_slices is the slicing of the state the next
        # epoch reads: true once this plan builds a state from the seeds
        # or has read one back
        self._n_slices_settled = False

    # -- the epoch boundary ------------------------------------------------------
    def last_committed_epoch(self) -> int | None:
        """The crawl's commit point: the latest epoch whose ``frontier``
        snapshot is committed. Each epoch commits ``frontier`` last, so
        any other table at a later epoch belongs to an epoch that a
        resume replays and overwrites."""
        return self.catalog.latest_epoch("frontier")

    def resume_epoch(self) -> int:
        """First epoch still to run (0 on a fresh start)."""
        last = self.last_committed_epoch()
        return 0 if last is None else last + 1

    def load_epoch(self, epoch: int, seeds: DataFrame):
        """``(frontier, seen, filter_state, sched_state)``, the inputs of
        ``epoch``, as of the committed frontier epoch ``epoch − 1``.

        Epoch 0 starts from the seeds with nothing seen. Every later
        epoch, whether it follows an epoch of this run or a resume,
        reads the snapshots that epoch ``epoch − 1`` committed before
        its frontier: the seen deltas through it, its filter state and,
        in continuous politeness, its scheduler carry. Nothing written
        by an uncommitted epoch is read, so a replay of that epoch
        neither counts its own fetches as seen nor re-inserts its keys
        into the filter."""
        if epoch == 0:
            self._n_slices_settled = True
            f = canonicalize_urls(seeds, "url", "url_canon").select(
                "url",
                "url_canon",
                "host",
                F.coalesce(F.col("priority"), F.lit(1.0)).alias("priority"),
                F.lit(0).alias("depth"),
                F.lit(0).alias("attempt"),
                F.lit(0).alias("discovered_epoch"),
            )
            # seq = rank in global url_canon order (no single-partition
            # row-level sort of more than block_cap rows — VERDICT r1 top item)
            return global_sequence(f, "url_canon", "seq", start=0), None, None, None
        cat, prev = self.catalog, epoch - 1
        filter_state = cat.read("seen_filter", prev)
        if not self._n_slices_settled:
            # hash routing (__slice = h1 & (n_slices−1)) must match the
            # slicing the state was BUILT with, so a resume on a resized
            # cluster (another defaultParallelism) cannot mis-route probes
            head = filter_state.select("n_slices").head(1)
            if head:
                self.n_slices = int(head[0][0])
            self._n_slices_settled = True
        sched_state = cat.read("sched_state", prev) if self.cfg.politeness_mode == "continuous" else None
        return cat.read("frontier", prev), cat.read_all("seen", max_epoch=prev), filter_state, sched_state

    # -- one epoch ---------------------------------------------------------------
    def run_epoch(
        self,
        epoch: int,
        frontier: DataFrame,
        seen: DataFrame | None,
        filter_state: DataFrame | None,
        sched_state: DataFrame | None,
    ) -> None:
        cfg = self.cfg
        pinned: list[DataFrame] = []

        def pin(df: DataFrame) -> DataFrame:
            """Cache a DataFrame consumed by several downstream actions.
            persist() keeps the columnar representation; the previous
            localCheckpoint(eager=True) row-serialized every block and
            anti-scaled at multi-million-row frontiers (BENCH/BASELINE.md,
            VERDICT r1 #2). Lineage is flattened once per epoch anyway by
            the end-of-epoch parquet write + read-back."""
            df = df.persist()
            pinned.append(df)
            return df

        frontier = pin(frontier)
        if seen is not None:
            seen = pin(seen)

        allowed, denied = robots_filter(frontier, self.robots.select("host", "disallow", "crawl_delay_s"))

        windows = self.robots.select("host", "visit_start_utc", "visit_end_utc")
        with_window = allowed.join(F.broadcast(windows), "host", "left")
        in_window, deferred_w = visit_window_filter(with_window, cfg.logical_now_s)
        in_window = in_window.drop("visit_start_utc", "visit_end_utc")

        # D6 metric as a `settled` outcome (one aggregation with the
        # others), not two extra full-pipeline count() actions (VERDICT r1
        # #5-minor). dup_seen comes from the Bloom probe's own positives
        # slice — no frontier-sized anti-join (VERDICT r3 #3). The probe is
        # SLICE-ROUTED (VERDICT r4 #1): the filter stays a per-slice
        # state DataFrame; each frontier row shuffles to its slice's
        # task and is probed against only that slice's few-MB blob — no
        # whole-filter broadcast (~17.9 GB at 10^10 URLs / 1e-3 fpp). A
        # state whose own fill predicts an fpp ≥ ½ skips the probe and
        # sends every row to the exact verify (bloom.PROBE_BYPASS_FPP).
        unseen, dup_seen = filter_unseen_split_state(
            in_window, filter_state, seen, pin=pin, n_slices=self.n_slices,
            # the epoch loop enables the guarded verify: one tiny count
            # per epoch buys the exact shuffled fallback should a
            # pathological epoch make the positives un-broadcastable
            verify_broadcast_max_rows=VERIFY_BROADCAST_MAX_ROWS,
        )

        # selected/backlog split on the SAME window rank — one shuffle,
        # no complement anti-join over the unseen set (VERDICT r3 #2)
        selected, backlog = split_topk_per_host(unseen, cfg.per_host_budget, pin=pin)

        salted = salt_hot_hosts(selected, cfg.target_rows_per_task)
        if sched_state is not None:
            salted = salted.join(F.broadcast(sched_state), ["host", "salt"], "left")
        sched = pin(politeness_schedule(salted, cfg.epoch_budget_s, default_delay_s=cfg.default_delay_s))
        runnable = sched.filter(F.col("within_budget"))
        overflow = sched.filter(~F.col("within_budget"))

        if cfg.politeness_mode == "continuous":
            # persist each (host, salt)'s owed wait for the next epoch:
            # next_free − budget for groups that fetched; prior carry
            # decayed by one budget window for groups that didn't
            budget_ms = int(cfg.epoch_budget_s * 1000)
            stride_ms = (
                F.coalesce(F.col("crawl_delay_s"), F.lit(cfg.default_delay_s))
                * 1000
                * F.greatest(F.col("n_salt"), F.lit(1))
            ).cast("long")
            cur_state = (
                sched.filter(F.col("within_budget"))
                .groupBy("host", "salt")
                .agg(F.max(F.col("scheduled_offset_ms") + stride_ms).alias("__next_free"))
                .select(
                    "host", "salt",
                    F.greatest(F.col("__next_free") - budget_ms, F.lit(0)).cast("long").alias("carry_ms"),
                )
            )
            if sched_state is not None:
                decayed = (
                    sched_state.join(cur_state.select("host", "salt"), ["host", "salt"], "left_anti")
                    .select(
                        "host", "salt",
                        F.greatest(F.col("carry_ms") - budget_ms, F.lit(0)).cast("long").alias("carry_ms"),
                    )
                )
                cur_state = cur_state.unionByName(decayed)
            self.catalog.write(cur_state.filter(F.col("carry_ms") > 0), "sched_state", epoch)

        # R4 fate labelled once on the pinned fetch (the trace label of a
        # failed fetch is its FATE, not a bare "error"); an optional
        # robots `max_attempts` column overrides the cap per host
        # (reference: 3× for Shoprite/PnP, unlimited for Woolworths).
        # No fetch_seq here: only the fetch log reads it, and the stamp
        # is an ordering step (one partition for a small fetch set) that
        # the parsers, `settled` and discovery must not inherit.
        fetched = fetch_pages(runnable, self.site)
        cap_col = None
        if "max_attempts" in self.robots.columns:
            fetched = fetched.join(F.broadcast(self.robots.select("host", "max_attempts")), "host", "left")
            cap_col = "max_attempts"
        fetched = pin(fetched.withColumn("outcome", fetch_outcome(max_attempts_col=cap_col)))
        ok = fetched.filter(F.col("outcome") == "ok")

        # stage parsed outputs as per-epoch DELTAS (assembled in finalize
        # via read_all): write volume ∝ this epoch's parses, never a
        # rewrite of the accumulated table, and epoch replay is an
        # idempotent overwrite of the same deterministic snapshot
        kinds = {r[0] for r in ok.select("payload_kind").distinct().collect()}
        if "html" in kinds:
            self.catalog.write(parse_html_products(ok.filter(F.col("payload_kind") == "html")), "staged_html", epoch)
        if "json_heavy_attrs" in kinds:
            self.catalog.write(parse_heavy_attrs(ok.filter(F.col("payload_kind") == "json_heavy_attrs")), "staged_heavy", epoch)
        if "json_pnp" in kinds:
            self.catalog.write(parse_pnp_products(ok.filter(F.col("payload_kind") == "json_pnp")), "staged_pnp", epoch)
        if "json_wool" in kinds:
            self.catalog.write(
                parse_wool_products(ok.filter(F.col("payload_kind") == "json_wool")).drop("total_recs"), "staged_wool", epoch
            )
        if "json_offer" in kinds:
            self.catalog.write(parse_offer_sentence(ok.filter(F.col("payload_kind") == "json_offer")), "staged_offer", epoch)

        # `settled`: each input frontier row once, with its `outcome` —
        # one union, pinned once (retries already carry attempt+1 and the
        # backoff penalty). Events, the seen delta and the rows frontier'
        # carries are filters of it, so no later plan re-embeds the fetch
        # lineage once per branch.
        branches = ((denied, "denied_robots"), (deferred_w, "outside_window"), (dup_seen, "dup_seen"),
                    (backlog, "backlog"), (overflow, "deferred_budget"))
        settled = pin(reduce(DataFrame.unionByName, [
            requeue_retries(fetched.select(*FRONTIER_COLS, "outcome")),
            *(df.select(*FRONTIER_COLS, F.lit(o).alias("outcome")) for df, o in branches),
        ]))
        outcome = F.col("outcome")
        # seen' = seen ∪ attempted-to-completion (ok + dropped); retries
        # stay unseen. newly_seen ⊆ unseen, so the union is disjoint by
        # construction — no re-distinct of the (huge) seen set per epoch.
        newly_seen = pin(settled.filter(outcome.isin("ok", "dropped")).select("url_canon").distinct())

        max_seq = frontier.agg(F.max("seq")).collect()[0][0] or 0
        discovered = pin(canonicalize_urls(discover_links(ok), "url", "url_canon"))
        # novelty check with NO shuffle of the big tables (VERDICT r5 #1,
        # guide §3.1): the shared scan-side verify semi-joins the scanned
        # seen ∪ frontier keys against the broadcast discovered delta,
        # with the count-guarded exact shuffled fallback for a
        # pathological delta. seen ∪ frontier ⊇ seen' (newly_seen ⊆
        # frontier), without this epoch's fetch in the plan.
        known = frontier.select("url_canon")
        if seen is not None:
            known = seen.select("url_canon").unionByName(known)
        discovered, _ = _exact_verify_scan_side(
            discovered, known, "url_canon", pin, max_broadcast_rows=VERIFY_BROADCAST_MAX_ROWS
        )
        # only `discovered` can self-collide (the same link found on many
        # pages); the carried rows are one per input frontier row, and
        # discovered is anti-joined against the whole frontier. Dedup the
        # DELTA, deterministically (highest priority, then url), instead
        # of shuffling the entire 10^10-row frontier every epoch
        # (VERDICT r2 #3).
        w_dup = Window.partitionBy("url_canon").orderBy(F.col("priority").desc(), F.col("url").asc())
        discovered = (
            discovered.withColumn("__rn", F.row_number().over(w_dup))
            .filter(F.col("__rn") == 1)
            .select(
                "url",
                "url_canon",
                "host",
                "priority",
                F.lit(epoch + 1).alias("depth"),
                F.lit(0).alias("attempt"),
                F.lit(epoch + 1).alias("discovered_epoch"),
            )
        )
        # seq continues from the frontier's max (no single-partition
        # row-level sort of more than block_cap rows)
        discovered = global_sequence(discovered, "url_canon", "seq", start=max_seq)
        # frontier' = the rows still pending (backlog, window-deferred,
        # budget overflow, retries) ∪ new discoveries
        frontier_next = (
            settled.filter(outcome.isin("backlog", "outside_window", "deferred_budget", "retry"))
            .select(*FRONTIER_COLS)
            .unionByName(discovered)
        )

        # lineage + per-host metrics; partition_id is the partition that
        # ran the fetch, read before the fetch_seq stamp reorders rows
        fetch_log = stamp_fetch_seq(fetched.select(
            "url_canon", "host", "seq", "status", "outcome", "attempt", "wait_ms", "scheduled_offset_ms",
            F.spark_partition_id().alias("partition_id"),
        )).select(
            "url_canon", "host", F.lit(epoch).alias("epoch"), "fetch_seq", "status",
            outcome.alias("result"),
            "attempt", "partition_id", "wait_ms", "scheduled_offset_ms",
        )
        self.catalog.write(fetch_log, "fetch_log", epoch)
        # every settled row but the untouched backlog is an event
        events = settled.filter(outcome != "backlog").select("url_canon", "host", outcome.alias("result"))
        metrics = (
            events.groupBy("host", "result").agg(F.count(F.lit(1)).alias("n"))
            .withColumn("epoch", F.lit(epoch))
        )
        self.catalog.write(metrics, "metrics", epoch)
        # mergeable sketch metrics (VERDICT r2 #7), checkpointed per epoch
        # like the membership filters: per-host HLL of touched URLs +
        # KLL of politeness waits; cross-epoch rollup = one group-by
        # over the committed deltas (plans/metrics.py). A host fetches
        # at most per_host_budget rows an epoch, so a KLL k of at least
        # that keeps each epoch's wait sketch exact, and a replay
        # commits the same contents.
        from retailer_scrapers_spark.plans.metrics import KLL_MIN_K, epoch_sketch_df

        self.catalog.write(
            epoch_sketch_df(
                events, fetched.select("host", "wait_ms"), epoch, kll_k=max(KLL_MIN_K, cfg.per_host_budget)
            ),
            "metrics_sketches",
            epoch,
        )

        # membership-filter state (north_rule): O(delta) work per epoch,
        # distributed end to end (VERDICT r4 #1) — the epoch's seen delta
        # builds a per-slice Bloom state that ORs into the previous one
        # by slice id; no whole-filter collect or broadcast anywhere.
        delta_state = build_bloom_state(
            newly_seen, "url_canon", cfg.bloom_bits, cfg.bloom_hashes, n_slices=self.n_slices
        )
        next_state = delta_state if filter_state is None else merge_filter_state(filter_state, delta_state)
        self.catalog.write(next_state, "seen_filter", epoch)
        # DELTA-append: each epoch's snapshot holds only ITS newly-seen
        # URLs (disjoint across epochs); readers union the committed
        # epochs. Write volume per epoch ∝ newly-seen, not O(|seen|)
        # (VERDICT r1 #5).
        self.catalog.write(newly_seen.toDF("url_canon"), "seen", epoch)
        self.catalog.write(frontier_next, "frontier", epoch)
        for df in pinned:
            df.unpersist()

    # -- full run ---------------------------------------------------------------
    def run(self, seeds: DataFrame, epochs: int | None = None) -> None:
        """Run epochs from the first uncommitted one (resume, R8) up to
        ``epochs``, or until the frontier drains."""
        epochs = epochs or self.cfg.epochs
        for epoch in range(self.resume_epoch(), epochs):
            frontier, seen, filter_state, sched_state = self.load_epoch(epoch, seeds)
            if frontier.isEmpty():
                break
            self.run_epoch(epoch, frontier, seen, filter_state, sched_state)
            if self.cfg.compact_seen_every and (epoch + 1) % self.cfg.compact_seen_every == 0:
                self.compact_seen()

    def compact_seen(self) -> None:
        """Merge the seen deltas committed through the last committed
        epoch into one compacted generation. The bound keeps every
        resume (which reads seen through that epoch) satisfiable after
        the superseded delta dirs are dropped."""
        last = self.last_committed_epoch()
        if last is not None:
            self.catalog.compact("seen", through=last)

    # -- products assembly (reference output parity) ------------------------------
    def finalize(self, corpus: DataFrame, existing: DataFrame | None = None) -> DataFrame:
        """Assemble the reference-compatible ``products`` table from the
        staged parses; returns the final (deduped, merged) DataFrame and
        writes it as the ``products`` snapshot."""
        cat = self.catalog
        spark = self.spark
        parts: list[DataFrame] = []

        html = cat.read_all("staged_html")
        heavy = cat.read_all("staged_heavy")
        if html is not None:
            if heavy is not None:
                from retailer_scrapers_spark.operators.joins import zip_join

                enriched = zip_join(html, heavy.withColumnRenamed("host", "host_h"),
                                    page_col="page", pos_col="pos", how="left")
                # J1 is per (host, page, pos): re-filter host match (zip_join joins on page/pos)
                enriched = enriched.filter(F.col("host_h").isNull() | (F.col("host_h") == F.col("host")))
                enriched = enriched.withColumn(
                    "promotion_price",
                    F.when(
                        F.col("promotion_price") != NO_PROMO,
                        promo_price(F.col("sale_price"), F.col("bonus_buy_name")),
                    ).otherwise(F.col("promotion_price")),
                ).withColumn(
                    "promotion_valid", F.coalesce(F.nullif(F.col("promotion_valid"), F.lit("")), F.lit(" "))
                )
            else:
                enriched = html.withColumn("promotion_valid", F.lit(" "))
            parts.append(enriched.select("host", "page", "category", "pos", "name", "price",
                                         "promotion_price", "promotion_valid", "image_url", "image_id"))

        pnp = cat.read_all("staged_pnp")
        if pnp is not None:
            parts.append(pnp.select("host", "page", "category", "pos", "name", "price",
                                    "promotion_price", "promotion_valid", "image_url", "image_id"))

        wool = cat.read_all("staged_wool")
        if wool is not None:
            offer = cat.read_all("staged_offer")
            first = offer.head(1) if offer is not None else []
            offer_val = first[0][0] if first else " "
            wool = wool.withColumn("promotion_valid", F.lit(offer_val))
            parts.append(wool.select("host", "page", "category", "pos", "name", "price",
                                     "promotion_price", "promotion_valid", "image_url", "image_id"))

        if not parts:
            return spark.createDataFrame([], "index long, name string, price string, promotion_price string, retailer string, image_url string, promotion_valid string")
        rows = parts[0]
        for p in parts[1:]:
            rows = rows.unionByName(p)

        retailer_map = spark.createDataFrame(list(RETAILER_OF_HOST.items()), "host string, retailer string")
        rows = rows.join(F.broadcast(retailer_map), "host", "left")

        # O2 + S10/D4 — deterministic contiguous ids per retailer over
        # (category, page, pos), RESUMING from max(existing index)+1 per
        # retailer (scrape_pnp.py:364-378: next_index = max(floor, max+1))
        from retailer_scrapers_spark.operators.frontier import assign_global_indexes

        offsets = dict(self.cfg.base_offsets)
        prev_products = cat.read("products")
        resume_src = prev_products if prev_products is not None else existing
        if resume_src is not None:
            maxes = {
                r["retailer"]: r["m"]
                for r in resume_src.groupBy("retailer").agg(F.max("index").alias("m")).collect()
            }
            for retailer, m in maxes.items():
                if m is not None:
                    offsets[retailer] = max(offsets.get(retailer, 0), m + 1)
        rows = rows.withColumn("__cat", F.coalesce(F.col("category"), F.lit("")))
        rows = assign_global_indexes(rows, offsets, order_cols=("__cat", "page", "pos"))

        # image pipeline: F5 skip-refetch → S8 corpus join → SVG→PNG
        # convert → C12 phash verify
        from retailer_scrapers_spark.functions.images import convert_svg_blobs, phash_udf
        from retailer_scrapers_spark.sources.fetch import fetch_images

        if existing is not None:
            from retailer_scrapers_spark.operators.dedup import last_wins

            uniq = last_wins(existing.select("name", "image_url", "index"), "name", "index")
            rows = lookup_join(rows, uniq.select("name", "image_url"), "name")
            rows = skip_refetch_flag(rows)
        else:
            rows = rows.withColumn("reuse_image", F.lit(False)).withColumn("image_url_existing", F.lit(None).cast("string"))

        need_fetch = rows.filter(~F.col("reuse_image") & F.col("image_url").isNotNull())
        no_fetch = rows.filter(F.col("reuse_image") | F.col("image_url").isNull())
        imaged = fetch_images(need_fetch, corpus)
        # S8 SVG branch (scrape_shoprite.py:70-93): svg blobs → PNG
        imaged = convert_svg_blobs(imaged)
        imaged = imaged.withColumn(
            "phash_ok",
            F.when(F.col("bytes").isNotNull(), phash_udf(F.col("bytes"), F.col("fmt")) == F.col("phash_expected")).otherwise(F.lit(None)),
        )
        # three consumers follow (mismatch count, images sink, products
        # assembly) — pin the decoded blobs so the corpus join + SVG
        # convert + phash UDF (the most expensive stage at 100 TB) runs
        # ONCE, not per action (VERDICT r2 #2)
        imaged = imaged.persist()
        # K3 verify-after-write: only blobs whose recomputed phash matches
        # the corpus phash enter the sink (the reference re-verifies each
        # upload, scrape_shoprite.py:104-117); mismatches are counted.
        n_phash_bad = imaged.filter(F.col("phash_ok") == False).count()  # noqa: E712
        images_sink = imaged.filter(F.col("bytes").isNotNull() & F.col("phash_ok")).select(
            "image_id", "bytes", "w", "h", "fmt", F.col("caption"), F.col("phash_expected").alias("phash")
        )
        epoch_for_write = self.last_committed_epoch() or 0
        # D7 — exists-check against every delta committed BEFORE this
        # epoch (excluding this epoch's own delta keeps finalize-replay
        # idempotent: the re-run recomputes the same delta and overwrites)
        prev_images = cat.read_all("images", max_epoch=epoch_for_write - 1)
        if prev_images is not None:
            images_sink = images_sink.join(prev_images.select("image_id"), "image_id", "left_anti")
        # DELTA-append (VERDICT r2 #5): the snapshot holds only this
        # finalize's new images; readers union deltas via read_all — the
        # blob column (the 100 TB column) is never rewritten.
        cat.write(images_sink, "images", epoch_for_write)
        cat.write(
            self.spark.createDataFrame([(epoch_for_write, n_phash_bad)], "epoch int, n_phash_mismatch long"),
            "image_verify",
            epoch_for_write,
        )

        assembled = imaged.drop("bytes", "w", "h", "fmt", "caption", "phash_expected", "phash_ok").unionByName(
            no_fetch
        )
        final_image_url = (
            F.when(F.col("reuse_image"), F.col("image_url_existing"))
            .when(F.col("image_url").isNotNull(), F.col("image_url"))
            .otherwise(F.lit(PLACEHOLDER_IMAGE_URL))
        )
        assembled = assembled.withColumn("image_url", final_image_url).select(
            "index", "name", "price", "promotion_price", "retailer", "image_url", "promotion_valid"
        )

        # K4 union with prior state, then the reference's cleanup order
        # (scrape_pnp.py:423-438): D3 → D2 → D1 over the COMBINED rows —
        # the reference re-reads the full CSV (old + appended) before fixing
        combined = assembled
        if resume_src is not None:
            combined = resume_src.select(*assembled.columns).unionByName(assembled)
        combined = drop_duplicates_first(combined, ("name", "price"), "index")
        repaired = None
        # hold each repair handle until AFTER the products write: the
        # union derives new frames that don't reference the operator
        # results, so without this the repairs' internal persists release
        # before the terminal action (the carry_caches lifetime caveat)
        repairs: list[DataFrame] = []
        for retailer, floor in REPAIR_FLOORS.items():
            sub = combined.filter(F.col("retailer") == retailer)  # F3
            sub = repair_duplicate_indexes(sub, "index", floor, ("name", "price"))
            repairs.append(sub)
            repaired = sub if repaired is None else repaired.unionByName(sub)
        other = combined.filter(~F.col("retailer").isin(list(REPAIR_FLOORS)))
        repaired = repaired.unionByName(other) if repaired is not None else combined
        deduped = dedup_keep_promo(repaired, ("name", "price"))

        cat.write(deduped, "products", epoch_for_write)
        imaged.unpersist()
        for sub in repairs:
            if hasattr(sub, "release_caches"):
                sub.release_caches()
        return cat.read("products")
