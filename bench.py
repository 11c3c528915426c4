"""Benchmark harness (driver contract + scaling evidence).

Default run (what the driver invokes):
    python bench.py
→ one JSON line:
    {"metric": "urls_fetched_deduped_per_sec", "value": N, "unit": "sec",
     "queries": {...per-query seconds...}, "sf": 0.1, ...}

The headline metric is the north-star inner loop measured end-to-end:
canonicalize (F8) → slice-routed Bloom state over the seen half →
Bloom-prefiltered exact dedup (D6) → host-bucketed top-k (R6) over a
synthetic frontier (``$SPARK_GRAFT_BENCH_N`` URLs, default 2,000,000 —
a hash-extrapolated stand-in for the 10^10 frontier shape). ``queries`` carries wall times
of the oracle-checked operator suite at ``$SPARK_GRAFT_SF_DIR``
(default sf0.1).

Scaling evidence (north_rule's N→4N executor criterion, sandbox proxy):
    python bench.py --scaling
runs the frontier pipeline in fresh subprocesses at local[8] and
local[32] on the SAME input and writes BENCH/BASELINE.md with
throughput at both plus efficiency = (T32/T8)/4.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
BENCH_N = int(os.environ.get("SPARK_GRAFT_BENCH_N", "2000000"))

# headline operator queries timed against $SPARK_GRAFT_SF_DIR
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "d1_dedup_keep_promo",
    "d2_repair_duplicate_indexes",
    "d6_seen_filter_anti",
    "r6_topk_per_group",
    "o2_assign_indexes",
    "j1_zip_join",
    "sessionization",
    "events_tumbling_window",
    "exact_dedup_docs",
    "minhash_lsh_near_dup",
    "ngram_jaccard_near_dup",
    "simhash_fingerprints",
    "cosine_topk_ann",
    "ann_lsh_topk",
    "embedding_near_dup_lsh",
    "lang_id",
    "quality_scores",
    "token_counts",
    "ann_ivf_topk",
    "image_phash_pipeline",
    "politeness_schedule_rows",
    "global_sequence_rank",
    "hll_distinct_users",
    "tdigest_value_quantiles",
]


def frontier_throughput(spark, n_urls: int, warm_pass: bool = True) -> dict:
    """URLs fetched+deduped/sec over a synthetic frontier of ``n_urls``.

    Pipeline: generate → canonicalize → Bloom state over the seen half →
    slice-routed Bloom-prefiltered exact dedup → top-k per host → count
    survivors. The filter is held as per-slice state rows and probed by
    routing each URL to its slice's cogroup task — the transport the
    crawl epoch loop runs.
    """
    from pyspark.sql import functions as F

    from retailer_scrapers_spark.functions.urls import canonicalize_urls
    from retailer_scrapers_spark.operators.bloom import build_bloom_state, filter_unseen_split_state
    from retailer_scrapers_spark.operators.frontier import salt_hot_hosts, topk_per_host
    from retailer_scrapers_spark.operators.politeness import politeness_schedule

    import math

    n_hosts = max(n_urls // 2048, 16)  # ~2k URLs per host
    n_slices = 32
    raw = spark.range(n_urls).select(
        F.concat(
            F.lit("https://Host"),
            (F.col("id") % n_hosts).cast("string"),
            F.lit(".test/p/"),
            F.col("id").cast("string"),
            F.lit("?utm_source=bench&b=2&a=1#frag"),
        ).alias("url"),
        F.col("id"),
    )
    # prior-epoch state (NOT timed): the already-seen half, materialized
    # via the columnar cache (localCheckpoint's row-serialized blocks
    # anti-scale under many threads — measured 4× the compute cost)
    seen = canonicalize_urls(raw.filter(F.col("id") % 2 == 0), "url").select("url_canon").persist()
    seen.count()

    def one_pass() -> dict:
        # timed stage 1: canonicalize the incoming frontier (F8)
        t0 = time.time()
        frontier = (
            canonicalize_urls(raw, "url")
            .select("url_canon", "host", F.col("id").alias("seq"), F.lit(1.0).alias("priority"))
            .persist()
        )
        frontier.count()
        t_canon = time.time() - t0

        # timed stage 2: slice-routed Bloom state build over the seen set
        t1 = time.time()
        m_bits = max(64, int(-(n_urls // 2) * math.log(1e-3) / (math.log(2) ** 2)))
        state = build_bloom_state(seen, m_bits=m_bits, k_hashes=10, n_slices=n_slices).persist()
        state.count()
        t_build = time.time() - t1

        # timed stage 3: Bloom-prefiltered exact dedup (D6) + host top-k (R6)
        t2 = time.time()
        unseen, _dup = filter_unseen_split_state(frontier, state, seen, n_slices=n_slices)
        n_out = topk_per_host(unseen, per_host_budget=1 << 30).count()
        t_dedup = time.time() - t2

        # timed stage 4: skew salting (R7) + per-(host,salt) politeness
        # schedule (R1) over the epoch's selected fetch set
        t3 = time.time()
        per_host = max(n_urls // n_hosts, 8)
        selected = topk_per_host(unseen, per_host_budget=per_host)
        salted = salt_hot_hosts(selected, target_rows_per_task=1024)
        sched = politeness_schedule(salted, epoch_budget_s=1e12, default_delay_s=5.0)
        n_sched = sched.count()
        t_sched = time.time() - t3

        assert n_out == n_urls - n_urls // 2, f"dedup wrong: {n_out}"
        state.unpersist()
        frontier.unpersist()
        return {"canon": t_canon, "build": t_build, "dedup": t_dedup, "sched": t_sched, "n_sched": n_sched}

    # pass 1 = COLD (headline, methodology identical to every prior
    # round); pass 2 = WARM, same plans re-executed — what a long-lived
    # cluster sees once plan compilation/JIT has amortized. Both are
    # reported; cross-round comparisons should use cold-vs-cold (plus
    # calibration_sec), steady-state claims the warm keys.
    cold = one_pass()
    warm2 = one_pass() if warm_pass else None
    total = cold["canon"] + cold["build"] + cold["dedup"] + cold["sched"]
    out_warm = {}
    if warm2 is not None:
        total_w = warm2["canon"] + warm2["build"] + warm2["dedup"] + warm2["sched"]
        out_warm = {
            "total_sec_warm": round(total_w, 3),
            "urls_per_sec_warm": round(n_urls / total_w, 1),
        }
    return {
        "n_urls": n_urls,
        "n_hosts": n_hosts,
        "canonicalize_sec": round(cold["canon"], 3),
        "bloom_build_sec": round(cold["build"], 3),
        "dedup_topk_sec": round(cold["dedup"], 3),
        "schedule_sec": round(cold["sched"], 3),
        "n_scheduled": cold["n_sched"],
        "total_sec": round(total, 3),
        "urls_per_sec": round(n_urls / total, 1),
        **out_warm,
    }


def skew_demo(spark, n_urls: int) -> dict:
    """R7 evidence: one host holds 50% of the frontier. Compare the
    grouped-map politeness schedule WITH salting (hot host split across
    ~n_urls/2/target salt groups → parallel tasks) vs WITHOUT (one task
    owns half the data)."""
    from pyspark.sql import functions as F

    from retailer_scrapers_spark.operators.frontier import salt_hot_hosts
    from retailer_scrapers_spark.operators.politeness import politeness_schedule

    host = F.when(F.col("id") % 2 == 0, F.lit("hot.test")).otherwise(
        F.concat(F.lit("h"), (F.col("id") % 997).cast("string"), F.lit(".test"))
    )
    frontier = spark.range(n_urls).select(
        F.concat(F.lit("https://"), host, F.lit("/p/"), F.col("id").cast("string")).alias("url_canon"),
        host.alias("host"),
        F.lit(1.0).alias("priority"),
        F.col("id").alias("seq"),
    ).persist()
    frontier.count()

    t0 = time.time()
    unsalted = frontier.withColumn("salt", F.lit(0)).withColumn("n_salt", F.lit(1))
    politeness_schedule(unsalted, epoch_budget_s=1e12, default_delay_s=5.0).count()
    t_unsalted = time.time() - t0

    t1 = time.time()
    salted = salt_hot_hosts(frontier, target_rows_per_task=max(n_urls // 256, 1024))
    politeness_schedule(salted, epoch_budget_s=1e12, default_delay_s=5.0).count()
    t_salted = time.time() - t1

    # the load-bearing number at 10^10 scale is PER-TASK GROUP SIZE (one
    # grouped-map task must hold its group in pandas memory): salting
    # caps it at target_rows_per_task, unsalted the hot host owns half
    # the frontier in a single task
    max_salted = salted.groupBy("host", "salt").count().agg(F.max("count")).collect()[0][0]
    frontier.unpersist()
    return {
        "n_urls": n_urls,
        "hot_host_share": 0.5,
        "schedule_unsalted_sec": round(t_unsalted, 3),
        "schedule_salted_sec": round(t_salted, 3),
        "max_rows_per_task_unsalted": n_urls // 2,
        "max_rows_per_task_salted": int(max_salted),
        "task_memory_reduction": round(n_urls / 2 / max_salted, 1),
    }


def calibration(spark, sf_dir: str) -> float:
    """Fixed, never-changing workload timed at the start of every bench
    run (VERDICT r4 #5): r4 vs r3 showed +30–70% drift on UNTOUCHED
    queries, making real regressions unadjudicable. Box-state drift
    scales this number; code changes don't. Cross-round comparisons
    should normalize per-query seconds by the ratio of calibration_sec.

    Contents are pinned forever: one 50M-row hash aggregation (CPU +
    shuffle) and one full lineitem scan with a string hash (parquet IO +
    codegen). DO NOT EDIT — edits break cross-round comparability.
    """
    from pyspark.sql import functions as F

    # untimed micro warm-up so worker spin-up doesn't pollute the number
    spark.range(1000).selectExpr("sum(id)").collect()
    t0 = time.time()
    spark.range(50_000_000).select(
        ((F.col("id") * 2654435761) % 1000003).alias("h")
    ).groupBy((F.col("h") % 64).alias("g")).agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("n")).collect()
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        F.sum(F.xxhash64("l_returnflag", "l_extendedprice", "l_shipdate") % 1000003).alias("h")
    ).collect()
    return round(time.time() - t0, 3)


def run_queries(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    out: dict[str, float] = {}
    # JVM/codegen warm-up (not timed)
    spark.range(1000).selectExpr("sum(id)").collect()
    for name in HEADLINE:
        if name not in qs:
            continue
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        out[name] = round(time.time() - t0, 3)
    return out


def sweeps_report() -> None:
    """SURVEY §7 Phase-5: partition-count and filter-size sweeps.

    Two knobs dominate the frontier job at scale and both have a
    measurable sweet spot: (a) ``spark.sql.shuffle.partitions`` for the
    dedup/top-k exchanges, (b) Bloom sizing (m_bits per target fpp) —
    smaller filters build faster but push more false positives into the
    exact verify anti-join. Appends the measured table to
    BENCH/BASELINE.md and prints one JSON line."""
    import math

    from pyspark.sql import functions as F

    from retailer_scrapers_spark import get_spark
    from retailer_scrapers_spark.functions.urls import canonicalize_urls
    from retailer_scrapers_spark.operators.bloom import (
        build_bloom_state,
        filter_unseen_split_state,
        probe_filter_state,
    )
    from retailer_scrapers_spark.operators.frontier import topk_per_host

    spark = get_spark("bench-sweeps", cores=CPUS)
    n = min(BENCH_N, 2_000_000)
    n_hosts = max(n // 2048, 16)
    raw = spark.range(n).select(
        F.concat(
            F.lit("https://Host"),
            (F.col("id") % n_hosts).cast("string"),
            F.lit(".test/p/"),
            F.col("id").cast("string"),
            F.lit("?utm_source=bench&b=2&a=1#frag"),
        ).alias("url"),
        F.col("id"),
    )
    frontier = (
        canonicalize_urls(raw, "url")
        .select("url_canon", "host", F.col("id").alias("seq"), F.lit(1.0).alias("priority"))
        .persist()
    )
    frontier.count()
    seen = frontier.filter(F.col("seq") % 2 == 0).select("url_canon").persist()
    n_seen = seen.count()

    def bloom_for(fpp: float):
        m_bits = max(64, int(-n_seen * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(m_bits / n_seen * math.log(2)))
        t0 = time.time()
        state = build_bloom_state(seen, m_bits=m_bits, k_hashes=k).persist()
        state.count()
        return state, m_bits, k, time.time() - t0

    def unseen_of(state):
        return filter_unseen_split_state(frontier, state, seen)[0]

    # --- partition-count sweep (fixed 1e-3 filter) ---------------------
    state_mid, _, _, _ = bloom_for(1e-3)
    # untimed warm pass: python workers + codegen, so the first swept
    # level doesn't absorb one-time costs
    topk_per_host(unseen_of(state_mid), per_host_budget=1 << 30).count()
    part_rows = []
    for p in (8, 32, 128):
        spark.conf.set("spark.sql.shuffle.partitions", str(p))
        t0 = time.time()
        cnt = topk_per_host(unseen_of(state_mid), per_host_budget=1 << 30).count()
        dt = time.time() - t0
        assert cnt == n - n_seen
        part_rows.append({"shuffle_partitions": p, "dedup_topk_sec": round(dt, 3), "urls_per_sec": round(n / dt, 1)})
    spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))

    # --- filter-size sweep ---------------------------------------------
    filt_rows = []
    for fpp in (1e-2, 1e-3, 1e-4):
        state, m_bits, k, t_build = bloom_for(fpp)
        pos = probe_filter_state(frontier, state).filter(F.col("__maybe_seen")).count()
        fp = pos - n_seen  # the seen half always probes positive
        t1 = time.time()
        cnt = unseen_of(state).count()
        t_dedup = time.time() - t1
        state.unpersist()
        assert cnt == n - n_seen
        filt_rows.append(
            {
                "target_fpp": fpp,
                "m_bits": m_bits,
                "filter_mb": round(m_bits / 8 / 1e6, 1),
                "k_hashes": k,
                "build_sec": round(t_build, 3),
                "false_positives": fp,
                "measured_fpp": round(fp / max(n - n_seen, 1), 5),
                "verify_antijoin_rows": pos,
                "dedup_sec": round(t_dedup, 3),
            }
        )
    spark.stop()

    out_md = os.environ.get("SPARK_GRAFT_BENCH_MD", "BENCH/BASELINE.md")
    os.makedirs(os.path.dirname(out_md) or ".", exist_ok=True)
    with open(out_md, "a") as f:
        f.write(
            f"\n## Sweeps (SURVEY §7 Phase-5; {n:,} URLs, local[{CPUS}])\n\n"
            "Partition-count sweep — Bloom-prefiltered dedup + host top-k at\n"
            "fixed 1e-3 filter sizing (the exchanges this knob feeds):\n\n"
            "| shuffle.partitions | dedup+topk (s) | URLs/s |\n|---|---|---|\n"
            + "".join(
                f"| {r['shuffle_partitions']} | {r['dedup_topk_sec']} | {r['urls_per_sec']:,.0f} |\n"
                for r in part_rows
            )
            + "\nFilter-size sweep — smaller filters push false positives into\n"
            "the exact verify anti-join; measured fpp tracks the target:\n\n"
            "| target fpp | filter MB | k | build (s) | measured fpp | verify rows | dedup (s) |\n"
            "|---|---|---|---|---|---|---|\n"
            + "".join(
                f"| {r['target_fpp']} | {r['filter_mb']} | {r['k_hashes']} | {r['build_sec']} | "
                f"{r['measured_fpp']} | {r['verify_antijoin_rows']:,} | {r['dedup_sec']} |\n"
                for r in filt_rows
            )
        )
    print(json.dumps({"partition_sweep": part_rows, "filter_sweep": filt_rows, "n_urls": n, "cores": CPUS}))


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    if "--scaling" in sys.argv:
        scaling_report()
        return
    if "--sweeps" in sys.argv:
        sweeps_report()
        return
    if "--frontier-only" in sys.argv:  # subprocess mode for scaling runs
        from retailer_scrapers_spark import get_spark

        spark = get_spark("bench-frontier", cores=CPUS)
        # one cold pass — keeps the scaling legs' methodology identical
        # to every committed scaling table
        res = frontier_throughput(spark, BENCH_N, warm_pass=False)
        print(json.dumps(res))
        spark.stop()
        return

    from retailer_scrapers_spark import get_spark

    spark = get_spark("bench", cores=CPUS)
    calib = calibration(spark, SF_DIR)
    queries = run_queries(spark, SF_DIR)
    fr = frontier_throughput(spark, BENCH_N)
    skew = skew_demo(spark, min(BENCH_N, 1_000_000))
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else None
    result = {
        "metric": "urls_fetched_deduped_per_sec",
        "value": fr["urls_per_sec"],
        "unit": "sec",
        "calibration_sec": calib,
        "queries": queries,
        "sf": sf,
        "frontier": fr,
        "skew_salting": skew,
        "cores": CPUS,
    }
    print(json.dumps(result))
    spark.stop()


def _burn(seconds: float) -> int:
    t0 = time.time()
    x = 0
    while time.time() - t0 < seconds:
        x += 1
    return x


def _hardware_ceiling(a: int, b: int, seconds: float = 2.0) -> float:
    """Raw-CPU scaling ceiling from a→b processes (pure Python busy loops).

    This sandbox advertises 32 CPUs but the top half are SMT siblings:
    pure CPU work measures ~0.64 efficiency from 8→32 procs, so a ≥0.8
    Spark efficiency there is physically impossible. The report states
    the ceiling next to each measured pair."""
    import multiprocessing as mp

    totals = {}
    for procs in (a, b):
        with mp.Pool(procs) as p:
            totals[procs] = sum(p.map(_burn, [seconds] * procs))
    return totals[b] / totals[a] / (b / a)


def scaling_report() -> None:
    """Same job at N and 4N cores (both 2→8 and 8→32) → BENCH/BASELINE.md."""
    levels = ("2", "8", "32")
    # measure the raw-CPU ceilings FIRST, on a quiet machine — measuring
    # after the JVM runs picks up shutdown noise and skews the loops
    time.sleep(3)
    ceil_2_8 = _hardware_ceiling(2, 8)
    ceil_8_32 = _hardware_ceiling(8, 32)
    results = {}
    for cores in levels:
        env = dict(os.environ, SPARK_GRAFT_CPUS=cores, SPARK_GRAFT_BENCH_N=str(BENCH_N))
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--frontier-only"],
            env=env,
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-4000:])
            raise SystemExit(f"frontier bench at local[{cores}] failed (rc={out.returncode})")
        line = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
        results[cores] = json.loads(line)
    tput = {c: results[c]["urls_per_sec"] for c in levels}
    core = {
        c: results[c]["n_urls"]
        / (results[c]["canonicalize_sec"] + results[c]["bloom_build_sec"] + results[c]["dedup_topk_sec"])
        for c in levels
    }
    eff_2_8 = (tput["8"] / tput["2"]) / 4.0
    eff_8_32 = (tput["32"] / tput["8"]) / 4.0
    core_eff_2_8 = (core["8"] / core["2"]) / 4.0
    os.makedirs("BENCH", exist_ok=True)
    # rewrite only the headline section; keep appended "## …" sections
    # (round context, sweeps) intact
    tail = ""
    if os.path.exists("BENCH/BASELINE.md"):
        old = open("BENCH/BASELINE.md").read()
        idx = old.find("\n## ")
        tail = old[idx:] if idx >= 0 else ""
    with open("BENCH/BASELINE.md", "w") as f:
        f.write(
            "# BENCH — measured engine numbers\n\n"
            "Sandbox proxy for the north_rule's N→4N executor scaling\n"
            "criterion: the same frontier canonicalize → sliced-Bloom build →\n"
            "exact dedup → host-top-k job on the SAME input\n"
            f"({BENCH_N:,} synthetic URLs, seen-half pre-materialized) at three\n"
            "parallelism levels. The sandbox's 32 advertised CPUs include SMT\n"
            "siblings: pure-CPU busy loops (no Spark) measure the hardware\n"
            "scaling ceilings shown, so the meaningful N→4N pair on this box\n"
            "is 2→8 cores; 8→32 is reported with its ceiling for context.\n\n"
            "| config | URLs fetched+deduped/sec | canonicalize (s) | bloom build (s) | dedup+topk (s) |\n"
            "|---|---|---|---|---|\n"
            + "".join(
                f"| local[{c}] | {tput[c]:,.0f} | {results[c]['canonicalize_sec']} | "
                f"{results[c]['bloom_build_sec']} | {results[c]['dedup_topk_sec']} |\n"
                for c in levels
            )
            + "\n"
            f"| pair | Spark efficiency (T4N/TN)/4 | raw-CPU hardware ceiling |\n|---|---|---|\n"
            f"| 2 → 8 cores | **{eff_2_8:.3f}** | {ceil_2_8:.3f} |\n"
            f"| 8 → 32 cores | {eff_8_32:.3f} | {ceil_8_32:.3f} |\n\n"
            "Target ≥ 0.8 on an N→4N pair within the hardware's ceiling.\n"
            + tail
        )
    print(
        json.dumps(
            {
                "throughput": tput,
                "efficiency_2_8": round(eff_2_8, 3),
                "core_efficiency_2_8": round(core_eff_2_8, 3),
                "efficiency_8_32": round(eff_8_32, 3),
                "hw_ceiling_2_8": round(ceil_2_8, 3),
                "hw_ceiling_8_32": round(ceil_8_32, 3),
            }
        )
    )


if __name__ == "__main__":
    main()
