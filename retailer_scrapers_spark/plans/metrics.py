"""Checkpointed sketch metrics for the crawl (north_star: "fetch/dedup/
politeness-wait metrics" checkpointed per epoch with per-partition
lineage).

Each epoch writes one ``metrics_sketches`` delta snapshot holding
per-host mergeable sketches, built by Spark's own DataSketches
aggregates (no Python stage):

- ``hll_urls``    — HyperLogLog (``hll_sketch_agg``, lgK 12) over the
                    URLs the epoch TOUCHED (fetched, dup-seen, deferred,
                    denied): distinct URL pressure per host without
                    materializing sets.
- ``kll_wait_ms`` — KLL quantile sketch (``kll_sketch_agg_bigint``) over
                    the politeness waits of the epoch's fetches: per-host
                    wait percentiles across the whole crawl without raw
                    samples.

Both merge associatively across epochs (``hll_union_agg`` /
``kll_merge_agg_bigint``), so the cross-epoch rollup is one group-by
over the committed deltas — the same read shape as the ``seen`` table.
Replay safety: the HLL registers are a pure function of the hashed URL
set (the rollup estimates from their union), and a KLL sketch holds its items exactly until it passes ``k`` (above
that it compacts at random), so the epoch loop sizes ``k`` to at least
the host's fetch budget and a replayed epoch commits the same sketch
contents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HLL_LG_K = 12
# Spark's default KLL k; the epoch loop raises it to the per-host budget
KLL_MIN_K = 200
HLL_KIND, KLL_KIND = "hll_urls", "kll_wait_ms"


def epoch_sketch_df(touched: DataFrame, fetched: DataFrame, epoch: int, kll_k: int = KLL_MIN_K) -> DataFrame:
    """The epoch's ``(host, kind, sketch, epoch)`` table: one JVM
    aggregate per host for each kind, so no sketch bytes route through
    the driver or a Python worker.

    ``touched``: (url_canon, host, …) — every URL the epoch handled;
    ``fetched``: (host, wait_ms, …) — the epoch's actual fetches.
    """
    h = touched.groupBy("host").agg(
        F.lit(HLL_KIND).alias("kind"), F.hll_sketch_agg("url_canon", HLL_LG_K).alias("sketch")
    )
    t = fetched.groupBy("host").agg(
        F.lit(KLL_KIND).alias("kind"), F.kll_sketch_agg_bigint("wait_ms", kll_k).alias("sketch")
    )
    return h.unionByName(t).withColumn("epoch", F.lit(epoch).cast("int"))


def merged_sketch_df(catalog, max_epoch: int | None = None) -> DataFrame | None:
    """Cross-epoch rollup as a ``(host, kind, sketch)`` DataFrame — one
    row per (host, kind), merged by one group-by. Rows of a kind this
    module does not know (an older checkpoint's) are skipped."""
    df = catalog.read_all("metrics_sketches", max_epoch=max_epoch)
    if df is None:
        return None
    is_hll = F.col("kind") == HLL_KIND
    # each merge sees only its own kind's bytes (the other gets nulls)
    return (
        df.filter(F.col("kind").isin(HLL_KIND, KLL_KIND))
        .groupBy("host", "kind")
        .agg(
            F.when(is_hll, F.hll_union_agg(F.when(is_hll, F.col("sketch"))))
            .otherwise(F.kll_merge_agg_bigint(F.when(~is_hll, F.col("sketch"))))
            .alias("sketch")
        )
    )


def merged_sketches(
    catalog, max_epoch: int | None = None, ranks: tuple[float, ...] = (0.5, 0.95)
) -> dict[str, dict[str, object]]:
    """The rollup read out per host: ``{"hll_urls": {host: estimate},
    "kll_wait_ms": {host: {"n": fetches, "quantiles": [wait_ms at each
    of ranks]}}}``. Only the one-row-per-(host, kind) readouts reach
    the driver."""
    out: dict[str, dict[str, object]] = {HLL_KIND: {}, KLL_KIND: {}}
    df = merged_sketch_df(catalog, max_epoch=max_epoch)
    if df is None:
        return out
    is_hll = F.col("kind") == HLL_KIND
    rows = df.select(
        "host",
        "kind",
        F.when(is_hll, F.hll_sketch_estimate("sketch")).alias("estimate"),
        F.when(~is_hll, F.kll_sketch_get_n_bigint("sketch")).alias("n"),
        F.when(~is_hll, F.kll_sketch_get_quantile_bigint("sketch", F.array(*map(F.lit, ranks)))).alias("q"),
    ).collect()
    for r in rows:
        out[r.kind][r.host] = r.estimate if r.kind == HLL_KIND else {"n": r.n, "quantiles": r.q}
    return out
