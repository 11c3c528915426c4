"""The benchmark workloads: set-up, timed operations, correctness checks
and the numbers each run reports."""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import checks
import gen
from probe import SpeedProbe
from spans import Tracer, dir_bytes, job_busy_s, max_job_id, stage_totals, status_jobs

# Reseed operations: the first WARMUP_OPS run (and are checked) but are
# not timed — a fresh JVM's first batch costs about twice a warm one's
# CPU while its code compiles. Then at least MIN_OPS are timed, more
# while --seconds last.
WARMUP_OPS = 1
MIN_OPS = 2
MAX_OPS = 50


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Result:
    """What one run reports: operations, failures, metrics, spans."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        # reported beside the metrics, not gated: raw wall times and
        # the core-speed probe's loop time
        self.info: dict[str, float | list] = {}
        self.layers: dict[str, float] = {}

    def op(self, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(errors)


# ---------------------------------------------------------------------------
# retail-crawl
# ---------------------------------------------------------------------------


class RetailCrawl:
    """The four-retailer synthetic web crawled from its seeds by
    ``CrawlPlan.run`` through the first epoch's commit."""

    name = "retail-crawl"

    def __init__(self, spark: SparkSession, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work

    def setup_once(self, rep: int) -> None:
        from retailer_scrapers_spark import schemas
        from retailer_scrapers_spark.sources import synthetic_site as G

        spec = gen.retail_spec(self.seed)
        self.site_pdf = G.build_site_pages(spec)
        self.seeds_pdf = G.build_seeds(spec)
        self.robots_pdf = G.build_robots()
        s = self.spark
        self.site = s.createDataFrame(self.site_pdf, schemas.SITE_PAGES)
        self.robots = s.createDataFrame(self.robots_pdf, schemas.ROBOTS)
        self.seeds = s.createDataFrame(self.seeds_pdf, schemas.SEEDS)

    def measure(self, res: Result, seconds: float, tracer: Tracer | None, probe: SpeedProbe) -> None:
        from retailer_scrapers_spark.plans.crawl import CrawlConfig, CrawlPlan
        from tests.reference_impl.executor import RefConfig, run_reference

        from gen import RETAIL_PER_HOST_BUDGET

        root = os.path.join(self.work, "catalog")
        cfg = CrawlConfig(workdir=root, epochs=1, per_host_budget=RETAIL_PER_HOST_BUDGET)
        plan = CrawlPlan(self.spark, cfg, self.site, self.robots)
        job0 = max_job_id(self.spark) if tracer else None
        w0 = time.time()
        t0 = time.perf_counter()
        plan.run(self.seeds, epochs=1)
        crawl_s = time.perf_counter() - t0
        w1 = time.time()
        ref_s = probe.scale(crawl_s, w0, w1)
        if tracer:
            res.layers["trace.crawl_s"] = crawl_s
            res.layers["trace.crawl_ref_s"] = ref_s
            res.layers["trace.overhead_share"] = tracer.bookkeeping_s / crawl_s
        checkpoint_mb = dir_bytes(root) / 1e6
        rss = peak_rss_mb(self.spark)

        # -- checks (untimed) --
        golden = run_reference(
            self.site_pdf.to_dict("records"), self.robots_pdf.to_dict("records"),
            self.seeds_pdf.to_dict("records"), RefConfig(epochs=1, per_host_budget=RETAIL_PER_HOST_BUDGET),
        )
        cat = plan.catalog
        engine_trace = [r.asDict() for r in cat.read("fetch_log", 0).collect()]
        engine_seen = {r.url_canon for r in cat.read_all("seen").collect()}
        res.op(checks.check_trace(engine_trace, golden.trace) + checks.check_seen(engine_seen, golden.seen))
        if tracer:
            crawl_layer_metrics(self.spark, tracer, res, job0, [(w0, w1)])
            self.catalog_counts(cat, tracer, len(engine_trace))
            held: list[DataFrame] = []
            tracer.trace_id += 1
            bloom_pass(tracer, held, res, cat.read("frontier", 0), cat, plan.n_slices)
            images_pass(self.spark, tracer, held)
            for d in held:
                d.unpersist()
        # fetched + deduped URLs; a fresh crawl's first epoch has no dups
        res.e2e.update(
            crawl_ref_s=ref_s, urls_per_ref_s=len(engine_trace) / ref_s, checkpoint_mb=checkpoint_mb, peak_rss_mb=rss,
        )
        res.info.update(crawl_s=crawl_s, urls_per_s=len(engine_trace) / crawl_s, probe_loop_ms=probe.loop_ms(w0, w1))

    def catalog_counts(self, cat, tracer: Tracer, n_fetched: int) -> None:
        """Layer row counts of the first epoch, from its committed
        frontier snapshot and (host, result) metrics table."""
        m = [r.asDict() for r in cat.read("metrics", 0).collect()]
        discovered = cat.read("frontier", 0).filter(F.col("discovered_epoch") == 1).count()
        sched = ("ok", "retry", "dropped", "deferred_budget")
        per_host: dict = {}
        for r in m:
            if r["result"] in sched:
                per_host[r["host"]] = per_host.get(r["host"], 0) + r["n"]
        for key, value in (
            ("urls.rows", len(self.seeds_pdf) + discovered),
            ("politeness.scheduled", sum(per_host.values())),
            ("politeness.overflow", sum(r["n"] for r in m if r["result"] == "deferred_budget")),
            ("fetch.rows", n_fetched),
            ("parsers.discovered", discovered),
        ):
            tracer.count(key, value)
        # at most target_rows_per_task rows per host, so one salt group per host
        tracer.counters["frontier.salt_max_group_rows"] = max(per_host.values(), default=0)


# ---------------------------------------------------------------------------
# reseed
# ---------------------------------------------------------------------------


class Reseed:
    """A daily re-seed of messy raw URLs, mostly already seen, into an
    existing crawl's checkpoint: canonicalize → seen filter → dedup →
    sequence → snapshot, then the frontier snapshot rewrite."""

    name = "reseed"
    sizes = gen.ReseedSizes()

    def __init__(self, spark: SparkSession, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work

    def setup_once(self, rep: int) -> None:
        from retailer_scrapers_spark.operators.bloom import _next_pow2, build_bloom_state
        from retailer_scrapers_spark.plans.catalog import SnapshotCatalog
        from retailer_scrapers_spark.plans.crawl import CrawlConfig

        s, sz = self.spark, self.sizes
        d = os.path.join(self.work, f"setup{rep}")
        if rep > 0:
            shutil.rmtree(os.path.join(self.work, f"setup{rep - 1}"), ignore_errors=True)
        self.raw_path = os.path.join(d, "raw")
        gen.raw_batch(s, self.seed, sz).write.parquet(self.raw_path)
        self.cat = SnapshotCatalog(os.path.join(d, "catalog"), s)
        self.cat.write(gen.seen_urls(s, self.seed, sz), "seen", 0)
        self.cat.write(gen.frontier_rows(s, self.seed, sz), "frontier", 0)
        cfg = CrawlConfig(workdir=d)
        n_slices = _next_pow2(s.sparkContext.defaultParallelism)
        state = build_bloom_state(self.cat.read("seen", 0), "url_canon", cfg.bloom_bits, cfg.bloom_hashes, n_slices)
        self.cat.write(state, "seen_filter", 0)
        self.n_slices = n_slices

    def ingest(self, epoch: int) -> int:
        """canonicalize → seen filter → dedup → sequence → snapshot;
        returns the sequence start."""
        from retailer_scrapers_spark.functions.urls import canonicalize_urls
        from retailer_scrapers_spark.operators.bloom import VERIFY_BROADCAST_MAX_ROWS, filter_unseen_split_state
        from retailer_scrapers_spark.operators.dedup import drop_duplicates_first
        from retailer_scrapers_spark.operators.frontier import global_sequence

        cat = self.cat
        raw = self.spark.read.parquet(self.raw_path).select("raw_id", "url")
        canon = canonicalize_urls(raw, "url", "url_canon")
        unseen, dup = filter_unseen_split_state(
            canon, cat.read("seen_filter", 0), cat.read_all("seen"),
            verify_broadcast_max_rows=VERIFY_BROADCAST_MAX_ROWS,
        )
        novel = drop_duplicates_first(unseen, ("url_canon",), "raw_id").select(
            "url", "url_canon", "host",
            F.lit(1.0).alias("priority"), F.lit(0).alias("depth"), F.lit(0).alias("attempt"),
            F.lit(epoch).alias("discovered_epoch"),
        )
        start = cat.read("frontier", 0).agg(F.max("seq")).collect()[0][0]
        cat.write(global_sequence(novel, "url_canon", "seq", start=start), "reseed", epoch)
        for d in (unseen, dup):
            if hasattr(d, "release_caches"):
                d.release_caches()
        return start

    def expected_novel(self) -> DataFrame:
        """The benchmark's own exact anti-join: canonical keys of the raw
        batch (as generated) minus the seen set."""
        raw = self.spark.read.parquet(self.raw_path)
        seen = self.cat.read("seen", 0)
        return raw.select(F.col("expect_canon").alias("url_canon")).distinct().join(seen, "url_canon", "left_anti")

    def measure(self, res: Result, seconds: float, tracer: Tracer | None, probe: SpeedProbe) -> None:
        sz, cat = self.sizes, self.cat
        expected = self.expected_novel().persist()
        want_fp = checks.fingerprint(expected)
        errs = [] if want_fp[0] == sz.n_novel else [f"generator planted {want_fp[0]} novel URLs, not {sz.n_novel}"]
        op_s, op_ref, op_wall, mb = [], [], [], []
        t_start = time.perf_counter()
        start = 0
        for epoch in range(1, 1 + WARMUP_OPS + MAX_OPS):
            if epoch == WARMUP_OPS + 1:
                t_start = time.perf_counter()
                if tracer:
                    tracer.reset()
                job0 = max_job_id(self.spark) if tracer else None
            w0, t0 = time.time(), time.perf_counter()
            start = self.ingest(epoch)
            if epoch > WARMUP_OPS:
                op_s.append(time.perf_counter() - t0)
                op_wall.append((w0, time.time()))
                op_ref.append(probe.scale(op_s[-1], w0, op_wall[-1][1]))
                mb.append(dir_bytes(cat._epoch_dir("reseed", epoch)) / 1e6)
            gc.collect()
            got_fp = checks.fingerprint(cat.read("reseed", epoch))
            res.op(errs + ([f"reseeded set fingerprint {got_fp}, expected {want_fp}"] if got_fp != want_fp else []))
            if len(op_s) >= MIN_OPS and time.perf_counter() - t_start >= seconds:
                break
        if tracer:
            res.layers["trace.overhead_share"] = tracer.bookkeeping_s / sum(op_s)
        rss = peak_rss_mb(self.spark)
        # full set and sequence checks on the last snapshot
        last = cat.read("reseed", epoch)
        full = checks.check_novel_set(last, expected) + checks.check_sequence(last, start)
        if full:
            res.failed = res.attempted
            res.errors.extend(full)
        res.e2e.update(
            crawl_ref_s=_median(op_ref), urls_per_ref_s=sz.n_raw / _median(op_ref),
            checkpoint_mb=_median(mb), peak_rss_mb=rss,
        )
        res.info.update(
            crawl_s=_median(op_s), urls_per_s=sz.n_raw / _median(op_s),
            probe_loop_ms=probe.loop_ms(op_wall[0][0], op_wall[-1][1]), op_s=op_s, op_ref_s=op_ref,
        )
        if tracer:
            res.layers["trace.crawl_s"] = _median(op_s)
            res.layers["trace.crawl_ref_s"] = _median(op_ref)
            crawl_layer_metrics(self.spark, tracer, res, job0, op_wall)
            self.layer_pass(tracer, res)
        expected.unpersist()

    def layer_pass(self, tracer: Tracer, res: Result) -> None:
        """Time each layer's function on its materialised input (persist
        + count inside the span) — layer busy time, not plan building."""
        from retailer_scrapers_spark import schemas
        from retailer_scrapers_spark.functions import images
        from retailer_scrapers_spark.functions.urls import canonicalize_urls
        from retailer_scrapers_spark.operators import frontier, politeness
        from retailer_scrapers_spark.operators.dedup import drop_duplicates_first
        from retailer_scrapers_spark.plans.metrics import epoch_sketch_df
        from retailer_scrapers_spark.sources import fetch, parsers
        from retailer_scrapers_spark.sources import synthetic_site as G

        s, cat = self.spark, self.cat
        held: list[DataFrame] = []

        def mat(name: str, build):
            return materialize(tracer, held, name, build)

        tracer.trace_id += 1
        raw = s.read.parquet(self.raw_path).select("raw_id", "url").persist()
        raw.count()
        held.append(raw)
        canon, n_raw = mat("urls.canonicalize", lambda: canonicalize_urls(raw, "url", "url_canon"))
        tracer.count("urls.rows", n_raw)
        probed, verified = bloom_pass(tracer, held, res, canon, cat, self.n_slices)
        negatives = probed.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
        novel = drop_duplicates_first(negatives.unionByName(verified), ("url_canon",), "raw_id").select(
            "url", "url_canon", "host", F.lit(1.0).alias("priority"), F.lit(0).alias("depth"),
            F.lit(0).alias("attempt"), F.lit(1).alias("discovered_epoch"),
        )
        front = cat.read("frontier", 0)
        start = front.agg(F.max("seq")).collect()[0][0]
        seqd, _ = mat("frontier.sequence", lambda: frontier.global_sequence(novel, "url_canon", "seq", start=start))
        nxt = front.unionByName(seqd)
        robots = s.createDataFrame(G.build_robots(), schemas.ROBOTS)
        allowed, _ = mat("politeness.robots", lambda: politeness.robots_filter(
            nxt, robots.select("host", "disallow", "crawl_delay_s"))[0])
        selected, _ = mat("frontier.split", lambda: frontier.split_topk_per_host(allowed, 8)[0])
        salted, _ = mat("frontier.salt", lambda: frontier.salt_hot_hosts(selected, 10_000))
        max_group = salted.groupBy("host", "salt").count().agg(F.max("count")).collect()[0][0]
        sched, n_sched = mat("politeness.schedule", lambda: politeness.politeness_schedule(salted, 17_100.0))
        n_over = sched.filter(~F.col("within_budget")).count()
        # the fetch / parse / sketch / image layers sit past this
        # workload's boundary: their spans time plan construction only
        site = s.createDataFrame(G.build_site_pages(G.SiteSpec()), schemas.SITE_PAGES)
        with tracer.span("fetch.fetch"):
            fetched = fetch.fetch_pages(sched.filter(F.col("within_budget")), site)
        ok = fetched.filter(F.col("status") < 500)
        with tracer.span("parsers.parse"):
            parsers.parse_html_products(ok.filter(F.col("payload_kind") == "html"))
        with tracer.span("parsers.discover"):
            parsers.discover_links(ok)
        with tracer.span("metrics.sketch"):
            epoch_sketch_df(fetched.select("url_canon", "host"), fetched.select("host", "wait_ms"), 1)
        corpus = s.createDataFrame([], schemas.CORPUS)
        with tracer.span("images.convert"):
            images.convert_svg_blobs(corpus)
        for d in held:
            d.unpersist()
        for key, n in (
            ("frontier.salt_max_group_rows", max_group or 0), ("politeness.scheduled", n_sched),
            ("politeness.overflow", n_over),
        ):
            tracer.count(key, n)


WORKLOADS = {w.name: w for w in (RetailCrawl, Reseed)}


# ---------------------------------------------------------------------------
# materialised layer passes (traced runs)
# ---------------------------------------------------------------------------


def materialize(tracer: Tracer, held: list, name: str, build):
    """Build a layer's output inside its span and persist + count it
    there, so the span covers the layer's execution, not only its plan."""
    with tracer.span(name):
        df = build().persist()
        n = df.count()
    held.append(df)
    return df, n


def bloom_pass(tracer: Tracer, held: list, res: Result, canon: DataFrame, cat, n_slices: int):
    """Probe ``canon`` against the latest committed seen filter, verify
    the positives exactly, and rebuild the filter from the seen set —
    each materialised in its span. Returns (probed, verified)."""
    from retailer_scrapers_spark.operators import bloom
    from retailer_scrapers_spark.plans.crawl import CrawlConfig

    cfg = CrawlConfig(workdir="")
    state, seen = cat.read("seen_filter"), cat.read_all("seen")
    probed, n_probed = materialize(
        tracer, held, "bloom.probe", lambda: bloom.probe_filter_state(canon, state, n_slices=n_slices))
    positives = probed.filter(F.col("__maybe_seen")).drop("__maybe_seen").persist()
    n_pos = positives.count()
    held.append(positives)

    def pin(d):
        d = d.persist()
        held.append(d)
        return d

    with tracer.span("bloom.verify"):
        verified, dup = bloom._exact_verify_scan_side(
            positives, seen, "url_canon", pin, max_broadcast_rows=bloom.VERIFY_BROADCAST_MAX_ROWS
        )
        verified = verified.persist()
        n_fp = verified.count()
        dup.count()
    held.append(verified)
    built, _ = materialize(tracer, held, "bloom.build", lambda: bloom.build_bloom_state(
        seen, "url_canon", cfg.bloom_bits, cfg.bloom_hashes, n_slices))
    res.layers["bloom.state_mb"] = built.agg(F.sum(F.length("filter_bytes"))).collect()[0][0] / 1e6
    for key, n in (("bloom.rows_probed", n_probed), ("bloom.verify_rows", n_pos), ("bloom.false_positives", n_fp)):
        tracer.count(key, n)
    return probed, verified


def images_pass(spark, tracer: Tracer, held: list) -> None:
    """The image layer finalize runs (SVG convert + phash verify) on the
    default synthetic web's image corpus, materialised in its span."""
    from retailer_scrapers_spark import schemas
    from retailer_scrapers_spark.functions import images
    from retailer_scrapers_spark.sources import synthetic_site as G

    corpus = spark.createDataFrame(G.build_corpus(G.SiteSpec()), schemas.CORPUS).persist()
    corpus.count()
    held.append(corpus)

    def decode():
        conv = images.convert_svg_blobs(corpus)
        return conv.withColumn("phash_ok", images.phash_udf(F.col("bytes"), F.col("fmt")) == F.col("phash"))

    _, n = materialize(tracer, held, "images.convert", decode)
    tracer.count("images.rows", n)


# ---------------------------------------------------------------------------
# shared per-layer accounting
# ---------------------------------------------------------------------------


def crawl_layer_metrics(spark, tracer: Tracer, res: Result, job0: int, ops: list[tuple[float, float]]) -> None:
    """Spark job/stage totals over the timed operations, given as wall
    (start, end) intervals; the benchmark's own check jobs in between
    are left out."""
    jobs = status_jobs(spark, job0)
    in_op = [j for j in jobs if j["submit"] and any(t0 <= j["submit"] <= t1 for t0, t1 in ops)]
    tot = stage_totals(spark, in_op)
    wall = sum(t1 - t0 for t0, t1 in ops)
    busy = sum(job_busy_s(in_op, t0, t1) for t0, t1 in ops)
    res.layers.update({
        "crawl.spark_jobs": len(in_op),
        "crawl.spark_stages": tot["stages"],
        "crawl.spark_tasks": tot["tasks"],
        "crawl.driver_s": max(wall - busy, 0.0),
        "crawl.executor_busy_share": tot["run_ms"] / 1000.0 / (wall * spark.sparkContext.defaultParallelism),
        "crawl.gc_s": tot["gc_ms"] / 1000.0,
        "crawl.shuffle_write_mb": tot["shuffle_write"] / 1e6,
    })
    tracer.jobs = jobs


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of the driver JVM plus its descendant processes
    (the Python worker daemon and workers)."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    total_kb = 0
    for pid in [jvm_pid] + descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0
