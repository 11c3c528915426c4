"""Span tracer for the traced benchmark run, kept outside the engine.

Spans are recorded around calls into each layer's public functions by
rebinding, from this file only, the names ``plans.crawl`` imports and
the ``SnapshotCatalog`` methods. A span has a name, start, end, parent
and a trace id (one per operation or epoch). Engine calls are mostly
lazy, so a span times plan construction plus any Spark job the call
runs itself; each job is attributed to the innermost open span through
the Spark job description set on span entry, and job and stage
metrics are read back from the application status store.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

# (module, attribute, span name) rebound when tracing is installed.
# Names bound into plans.crawl at import time are patched there; names
# an engine function looks up at call time are patched on their module.
CRAWL_NAMES = (
    ("canonicalize_urls", "urls.canonicalize"),
    ("filter_unseen_split_state", "bloom.filter"),
    ("build_bloom_state", "bloom.build"),
    ("merge_filter_state", "bloom.merge"),
    ("split_topk_per_host", "frontier.split"),
    ("salt_hot_hosts", "frontier.salt"),
    ("global_sequence", "frontier.sequence"),
    ("requeue_failures", "frontier.requeue"),
    ("robots_filter", "politeness.robots"),
    ("visit_window_filter", "politeness.window"),
    ("politeness_schedule", "politeness.schedule"),
    ("fetch_pages", "fetch.fetch"),
    ("stamp_fetch_seq", "fetch.stamp"),
    ("parse_html_products", "parsers.parse"),
    ("parse_heavy_attrs", "parsers.parse"),
    ("parse_pnp_products", "parsers.parse"),
    ("parse_wool_products", "parsers.parse"),
    ("parse_offer_sentence", "parsers.parse"),
    ("discover_links", "parsers.discover"),
)
MODULE_NAMES = (
    ("retailer_scrapers_spark.operators.bloom", "probe_filter_state", "bloom.probe"),
    ("retailer_scrapers_spark.operators.bloom", "_exact_verify_scan_side", "bloom.verify"),
    ("retailer_scrapers_spark.operators.frontier", "global_sequence", "frontier.sequence"),
    ("retailer_scrapers_spark.plans.metrics", "epoch_sketch_df", "metrics.sketch"),
    ("retailer_scrapers_spark.functions.urls", "canonicalize_urls", "urls.canonicalize"),
)

# span name → per-layer time metric (Σ self time)
SPAN_METRICS = {
    "urls.canonicalize": "urls.canonicalize_s",
    "bloom.probe": "bloom.probe_s",
    "bloom.verify": "bloom.verify_s",
    "bloom.build": "bloom.build_s",
    "frontier.split": "frontier.split_s",
    "frontier.sequence": "frontier.sequence_s",
    "politeness.robots": "politeness.robots_s",
    "politeness.schedule": "politeness.schedule_s",
    "fetch.fetch": "fetch.fetch_s",
    "parsers.parse": "parsers.parse_s",
    "catalog.write": "catalog.write_s",
    "catalog.read": "catalog.read_s",
    "metrics.sketch": "metrics.sketch_s",
    "images.convert": "images.convert_s",
}
# counters reported as they are
COUNT_METRICS = (
    "urls.rows", "bloom.rows_probed", "bloom.verify_rows", "frontier.salt_max_group_rows",
    "fetch.rows", "parsers.discovered", "images.rows", "catalog.writes", "catalog.files_read",
)


def layer_metrics(tracer: "Tracer") -> dict[str, float]:
    """Per-layer metrics from the spans and counters of one traced run."""
    c = tracer.counters
    self_t = tracer.self_times()
    out = {metric: self_t.get(span, 0.0) for span, metric in SPAN_METRICS.items()}
    out.update({k: c.get(k, 0) for k in COUNT_METRICS})
    # every probe positive goes to the exact verify
    out["bloom.positive_share"] = c.get("bloom.verify_rows", 0) / max(c.get("bloom.rows_probed", 0), 1)
    out["bloom.false_positive_share"] = c.get("bloom.false_positives", 0) / max(c.get("bloom.verify_rows", 0), 1)
    out["politeness.overflow_share"] = c.get("politeness.overflow", 0) / max(c.get("politeness.scheduled", 0), 1)
    out["catalog.write_mb"] = c.get("catalog.write_bytes", 0) / 1e6
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Tracer:
    """In-memory span recorder; ``write`` dumps the spans as JSON lines."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.trace_id = 0
        self.bookkeeping_s = 0.0  # time spent in the tracer's own code
        self.counters: dict[str, float] = {}
        self.jobs: list[dict] = []

    def reset(self) -> None:
        """Forget the spans and counts recorded so far (warm-up work)."""
        self.spans.clear()
        self.stack.clear()
        self.counters.clear()
        self.bookkeeping_s = 0.0

    def count(self, key: str, n: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + n

    @contextmanager
    def span(self, name: str, new_trace: bool = False, **attrs):
        t = time.perf_counter()
        if new_trace:
            self.trace_id += 1
        sid = len(self.spans)
        rec = {"id": sid, "parent": self.stack[-1] if self.stack else None, "name": name,
               "trace": self.trace_id, **attrs}
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setJobDescription(f"pb:{sid}:{name}")
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            parent = self.spans[self.stack[-1]] if self.stack else None
            self.sc.setJobDescription(f"pb:{parent['id']}:{parent['name']}" if parent else None)
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def wrap(self, name: str, fn, new_trace: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, new_trace=new_trace):
                return fn(*args, **kwargs)

        return traced

    # -- installation ------------------------------------------------------
    def install(self) -> None:
        import importlib

        import retailer_scrapers_spark.plans.crawl as crawl
        from retailer_scrapers_spark.plans.catalog import SnapshotCatalog

        for attr, name in CRAWL_NAMES:
            setattr(crawl, attr, self.wrap(name, getattr(crawl, attr)))
        for mod_name, attr, name in MODULE_NAMES:
            mod = importlib.import_module(mod_name)
            setattr(mod, attr, self.wrap(name, getattr(mod, attr)))
        crawl.CrawlPlan.run_epoch = self.wrap("crawl.epoch", crawl.CrawlPlan.run_epoch, new_trace=True)
        tracer = self
        orig_write = SnapshotCatalog.write

        def write(cat, df, table, epoch, meta=None):
            with tracer.span("catalog.write", table=table) as rec:
                orig_write(cat, df, table, epoch, meta)
            t = time.perf_counter()
            rec["bytes"] = dir_bytes(cat._epoch_dir(table, epoch))
            tracer.count("catalog.writes", 1)
            tracer.count("catalog.write_bytes", rec["bytes"])
            tracer.bookkeeping_s += time.perf_counter() - t

        def make_read(orig):
            def read(cat, table, *args, **kwargs):
                with tracer.span("catalog.read", table=table):
                    df = orig(cat, table, *args, **kwargs)
                t = time.perf_counter()
                if df is not None:
                    tracer.count("catalog.files_read", sum(f.endswith(".parquet") for f in df.inputFiles()))
                tracer.bookkeeping_s += time.perf_counter() - t
                return df

            return read

        SnapshotCatalog.write = write
        for m in ("read", "read_all"):
            setattr(SnapshotCatalog, m, make_read(getattr(SnapshotCatalog, m)))

    # -- analysis ----------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per span name: Σ (duration − time covered by child spans)."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child_cover[s["parent"]] = child_cover.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" not in s:
                continue
            d = s["end"] - s["start"] - child_cover.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                rec = dict(s)
                rec["start"] = round(rec["start"] - t0, 6)
                rec["end"] = round(rec.get("end", rec["start"]) - t0, 6)
                rec["jobs"] = [j["job_id"] for j in self.jobs if j["span"] == s["id"]]
                f.write(json.dumps(rec) + "\n")


# ---------------------------------------------------------------------------
# application status store (job/stage accounting)
# ---------------------------------------------------------------------------


def max_job_id(spark) -> int:
    jobs = spark._jsc.sc().statusStore().jobsList(None)
    it = jobs.iterator()
    best = -1
    while it.hasNext():
        best = max(best, it.next().jobId())
    return best


def status_jobs(spark, after_job_id: int) -> list[dict]:
    """Jobs with id > ``after_job_id``, their span, times and stages."""
    jobs = []
    it = spark._jsc.sc().statusStore().jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        if j.jobId() <= after_job_id:
            continue
        desc = j.description().get() if j.description().isDefined() else ""
        sids = j.stageIds().iterator()
        stages = set()
        while sids.hasNext():
            stages.add(int(sids.next()))
        jobs.append({
            "job_id": j.jobId(),
            "span": int(desc.split(":")[1]) if desc.startswith("pb:") and desc[3:4].isdigit() else None,
            "submit": j.submissionTime().get().getTime() / 1000.0 if j.submissionTime().isDefined() else None,
            "end": j.completionTime().get().getTime() / 1000.0 if j.completionTime().isDefined() else None,
            "stages": stages,
        })
    return jobs


def stage_totals(spark, jobs: list[dict]) -> dict:
    """Totals over the stages the given jobs ran (skipped stages excluded).

    Stages are read through the five-argument ``stageList`` overload;
    Py4J cannot resolve the Scala default arguments of the shorter ones.
    """
    gw = spark.sparkContext._gateway
    stage_ids = set().union(*(j["stages"] for j in jobs)) if jobs else set()
    stages = spark._jsc.sc().statusStore().stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    tot = {"stages": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_write": 0}
    it = stages.iterator()
    while it.hasNext():
        st = it.next()
        if st.stageId() not in stage_ids or st.status().toString() == "SKIPPED":
            continue
        tot["stages"] += 1
        tot["tasks"] += st.numCompleteTasks()
        tot["run_ms"] += st.executorRunTime()
        tot["gc_ms"] += st.jvmGcTime()
        tot["shuffle_write"] += st.shuffleWriteBytes()
    return tot


def job_busy_s(jobs: list[dict], t0: float, t1: float) -> float:
    """Length of the union of job intervals clipped to [t0, t1] (epoch s)."""
    iv = sorted((max(j["submit"], t0), min(j["end"], t1)) for j in jobs if j["submit"] and j["end"])
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy
