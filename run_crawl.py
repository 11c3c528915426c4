"""spark-submit entry point (north_rule: ``spark-submit --py-files``).

    zip -r engine.zip retailer_scrapers_spark
    spark-submit --py-files engine.zip run_crawl.py \
        --workdir /tmp/crawl --epochs 6 --per-host-budget 8 \
        [--fixtures-dir DIR] [--cores N]

One driver replaces the reference's four scraper scripts + orchestrator
(daily_scrape.py:46-73): per epoch the frontier is canonicalized,
robots/window-gated, Bloom-deduped, host-budgeted, politeness-scheduled,
fetched, parsed and checkpointed; ``--finalize`` assembles the
reference-compatible products table. Re-running with the same --workdir
resumes from the last committed epoch (R8).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--epochs", type=int, default=6)
    ap.add_argument("--per-host-budget", type=int, default=8)
    ap.add_argument("--epoch-budget-s", type=float, default=17_100.0)
    ap.add_argument("--cores", default=None, help="local[N] override; omit under spark-submit")
    ap.add_argument("--fixtures-dir", default=None, help="parquet dir with site_pages/robots/seeds/corpus; generated when omitted")
    ap.add_argument("--finalize", action="store_true", help="assemble the products table after crawling")
    ap.add_argument("--politeness-mode", choices=("epoch", "continuous"), default="epoch",
                    help="continuous: per-host wait carries across epochs (checkpointed sched_state)")
    ap.add_argument("--filter-kind", choices=("bloom", "cuckoo"), default="bloom",
                    help="URL-seen membership structure (cuckoo supports deletion, delta-inserts per epoch)")
    ap.add_argument("--compact-seen-every", type=int, default=0,
                    help="every N epochs fold the seen deltas into one compacted generation (0=never)")
    args = ap.parse_args()

    from retailer_scrapers_spark import get_spark, schemas
    from retailer_scrapers_spark.plans.crawl import CrawlConfig, CrawlPlan
    from retailer_scrapers_spark.sources import synthetic_site as G

    spark = get_spark("run_crawl", cores=args.cores)

    if args.fixtures_dir and os.path.isdir(args.fixtures_dir):
        site = spark.read.parquet(f"{args.fixtures_dir}/site_pages")
        robots = spark.read.parquet(f"{args.fixtures_dir}/robots")
        seeds = spark.read.parquet(f"{args.fixtures_dir}/seeds")
        corpus = spark.read.parquet(f"{args.fixtures_dir}/corpus")
    else:
        spec = G.SiteSpec()
        site = spark.createDataFrame(G.build_site_pages(spec), schemas.SITE_PAGES)
        robots = spark.createDataFrame(G.build_robots(), schemas.ROBOTS)
        seeds = spark.createDataFrame(G.build_seeds(), schemas.SEEDS)
        corpus = spark.createDataFrame(G.build_corpus(spec), schemas.CORPUS)

    cfg = CrawlConfig(
        workdir=args.workdir,
        epochs=args.epochs,
        per_host_budget=args.per_host_budget,
        epoch_budget_s=args.epoch_budget_s,
        politeness_mode=args.politeness_mode,
        filter_kind=args.filter_kind,
        compact_seen_every=args.compact_seen_every,
    )
    plan = CrawlPlan(spark, cfg, site, robots)
    start = plan.resume_epoch()
    plan.run(seeds, epochs=args.epochs)

    summary: dict = {
        "resumed_from_epoch": start,
        "epochs_committed": plan.catalog.committed_epochs("frontier"),
        "master": spark.sparkContext.master,
    }
    seen = plan.catalog.read_all("seen")
    summary["urls_seen"] = seen.count() if seen is not None else 0
    if args.finalize:
        products = plan.finalize(corpus)
        summary["products"] = products.count()
    metrics = plan.catalog.read("metrics")
    if metrics is not None:
        summary["last_epoch_metrics"] = [r.asDict() for r in metrics.collect()]
    # cross-epoch sketch rollup (per-host HLL distinct URLs + wait percentiles)
    from retailer_scrapers_spark.plans.metrics import merged_sketches

    sk = merged_sketches(plan.catalog, ranks=(0.5, 0.95))
    if sk["hll_urls"]:
        summary["distinct_urls_touched_est"] = dict(sorted(sk["hll_urls"].items()))
    if sk["kll_wait_ms"]:
        summary["wait_ms_p50_p95"] = {h: w["quantiles"] for h, w in sorted(sk["kll_wait_ms"].items())}
    print(json.dumps(summary, default=str))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
