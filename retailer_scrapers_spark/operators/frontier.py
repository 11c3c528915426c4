"""Frontier scheduling operators (SURVEY.md R4, R6, R7, O2).

These turn the reference's imperative control flow (thread pools,
page-range loops, retry counters) into declarative transformations over
the frontier DataFrame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MAX_ATTEMPTS = 3  # page retry budget (scrape_shoprite.py:222,387-394)


def topk_per_host(
    df: DataFrame,
    per_host_budget: int,
    host_col: str = "host",
    priority_col: str = "priority",
    seq_col: str = "seq",
) -> DataFrame:
    """R6 — host-bucketed priority queue: each epoch fetches the top-k
    pending URLs per host by (priority desc, seq asc). One shuffle on
    ``host``; the window is rank-limited so AQE can pipeline it. The
    selected half of :func:`split_topk_per_host`."""
    return split_topk_per_host(df, per_host_budget, host_col, priority_col, seq_col)[0]


def split_topk_per_host(
    df: DataFrame,
    per_host_budget: int,
    host_col: str = "host",
    priority_col: str = "priority",
    seq_col: str = "seq",
    pin=None,
) -> tuple[DataFrame, DataFrame]:
    """R6 split form — ``(selected, backlog)`` from ONE ranked pass.

    The window already ranks every row; the backlog is simply
    ``rank > budget``, so deriving it as a second filter over the same
    (pinned) ranked frame costs zero extra shuffles. The previous
    ``unseen LEFT ANTI selected`` complement re-shuffled the entire
    (at scale, 10^10-row) unseen set on ``url_canon`` once per epoch
    (VERDICT r3 #2). ``pin`` persists the ranked frame so both filters
    read one materialization (also makes the split deterministic even
    under ordering ties).
    """
    pin = pin or (lambda d: d)
    w = Window.partitionBy(host_col).orderBy(F.col(priority_col).desc(), F.col(seq_col).asc())
    ranked = pin(df.withColumn("__rank", F.row_number().over(w)))
    selected = ranked.filter(F.col("__rank") <= per_host_budget).drop("__rank")
    backlog = ranked.filter(F.col("__rank") > per_host_budget).drop("__rank")
    return selected, backlog


def salt_hot_hosts(
    df: DataFrame,
    target_rows_per_task: int = 10_000,
    host_col: str = "host",
    url_col: str = "url_canon",
) -> DataFrame:
    """R7 — explicit skew salting (north_rule; AQE skew handling does not
    apply to ``applyInPandas`` groups, SURVEY.md §4.2.3).

    A cheap ``groupBy(host).count()`` pre-pass sizes ``n_salt`` per host
    (ceil(count / target)); the salt is a deterministic hash of the URL
    so re-runs are stable. Adds ``salt`` and ``n_salt`` columns; the
    politeness scheduler divides each host's budget across its salts.
    """
    counts = df.groupBy(host_col).agg(F.count(F.lit(1)).alias("__host_rows"))
    n_salt = F.greatest(F.ceil(F.col("__host_rows") / target_rows_per_task), F.lit(1)).cast("int")
    sized = counts.select(F.col(host_col), n_salt.alias("n_salt"))
    return (
        df.join(F.broadcast(sized), host_col, "left")
        .na.fill({"n_salt": 1})
        .withColumn("salt", F.pmod(F.xxhash64(F.col(url_col)), F.col("n_salt")).cast("int"))
    )


def fetch_outcome(
    status_col: str = "status",
    attempt_col: str = "attempt",
    max_attempts: int = MAX_ATTEMPTS,
    max_attempts_col: str | None = None,
) -> Column:
    """R4 — a fetch's fate, the one definition of the retry cap rule:
    ``ok`` (status < 500 or none), ``retry`` (failed with attempt+1 <
    cap) or ``dropped`` (failed at the cap).

    Per-host budgets (VERDICT r2 #8): the reference retries pages 3×
    for Shoprite/PnP but WITHOUT LIMIT for Woolworths
    (scrape_woolworths.py:80-111). ``max_attempts_col`` names an int
    column (joined from robots/config) overriding the scalar cap per
    row; NULL falls back to ``max_attempts``, and a NEGATIVE cap means
    retry forever (the Woolworths semantics).
    """
    cap = F.lit(max_attempts)
    if max_attempts_col is not None:
        cap = F.coalesce(F.col(max_attempts_col), cap)
    status = F.col(status_col)
    return (
        F.when((status < 500) | status.isNull(), F.lit("ok"))
        .when((cap < 0) | (F.col(attempt_col) + 1 < cap), F.lit("retry"))
        .otherwise(F.lit("dropped"))
    )


def requeue_retries(
    df: DataFrame, outcome_col: str = "outcome", attempt_col: str = "attempt", priority_col: str = "priority"
) -> DataFrame:
    """R4 backoff on the rows labelled ``retry``: ``attempt+1`` and the
    reference's exponential backoff (sleep(2**retries),
    scrape_shoprite.py:387-394) re-expressed as a priority penalty of
    2**(attempt+1) (later epochs = later fetch). Other rows pass as is."""
    retry = F.col(outcome_col) == "retry"
    attempt, priority = F.col(attempt_col), F.col(priority_col)
    return df.withColumns(
        {
            attempt_col: F.when(retry, attempt + 1).otherwise(attempt),
            priority_col: F.when(retry, priority - F.pow(F.lit(2.0), attempt + 1)).otherwise(priority),
        }
    )


def requeue_failures(
    fetched: DataFrame,
    status_col: str = "status",
    attempt_col: str = "attempt",
    priority_col: str = "priority",
    max_attempts: int = MAX_ATTEMPTS,
    max_attempts_col: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """R4 — retry with backoff as dataflow: ``(ok, retry, dropped)`` by
    :func:`fetch_outcome`, retries re-prioritised by :func:`requeue_retries`."""
    fate = fetch_outcome(status_col, attempt_col, max_attempts, max_attempts_col)
    labelled = requeue_retries(fetched.withColumn("__fate", fate), "__fate", attempt_col, priority_col)
    return tuple(labelled.filter(F.col("__fate") == f).drop("__fate") for f in ("ok", "retry", "dropped"))


def global_sequence(
    df: DataFrame,
    order_col: str = "url_canon",
    out_col: str = "seq",
    start: int = 0,
    prefix_len: int = 40,
    coarse_len: int = 12,
    block_cap: int = 4_000_000,
    max_prefix_len: int = 320,
) -> DataFrame:
    """Global ``row_number()`` over ``order_col`` with no
    single-partition row-level sort of more than ``block_cap`` rows —
    the scalable form of ``row_number().over(Window.orderBy(order_col))``
    (+ ``start``).

    Why: the window form funnels every row through ONE task; at a
    10^10-URL frontier that task is the whole job. This is the epoch
    loop's seed/discovery ``seq`` stamp (VERDICT r1 top item).

    Small inputs: ``block_cap`` is already the most rows the
    distributed form lets one window task sort, so when the row total
    is ≤ ``block_cap`` the input is ranked by that one window directly.
    This skips the offset tables and their two joins, which re-embed
    the input's lineage in every consumer's plan. The input is
    persisted and the total is one ``count`` over that cache, so the
    count runs the caller's lineage once and the consumer's action
    reads the cached rows instead of running it again. The cache is
    released with the result handle (``unpersist_when_collected``); a
    caller that derives a frame from the result and drops the handle
    keeps it alive with ``carry_caches``.

    How (three-level distributed prefix-sum): strings sharing a
    fixed-length prefix form a CONTIGUOUS block of the lexicographic
    order, and blocks order by their prefix (when one prefix is a
    proper prefix of another, the short block holds exactly the string
    itself, which still sorts first — so block order == element order
    always). Hence:

      1. rank within each fine prefix block — parallel windows over
         many small blocks;
      2. fine-block offsets within each coarse block — windows over
         BLOCKS (not rows), partitioned by the coarse prefix;
      3. coarse-block global offsets — one tiny cumulative sum over
         #coarse-blocks rows.

    No sampling (unlike ``repartitionByRange``), so the result is
    deterministic across re-executions of the same lineage — required
    for R8 resume parity. Output is identical to the window form when
    ``order_col`` values are unique; ties receive arbitrary but
    count-correct ranks (same caveat as the window form).

    ADVICE r2: a FIXED ``prefix_len`` collapses step 1 into one
    partition when the data shares common prefixes longer than it
    (one dominant host with deep category paths). The fine length is
    therefore derived from the data, deterministically: block sizes at
    ``prefix_len`` are aggregated (the step-2 table, computed anyway
    and persisted); while any block exceeds ``block_cap`` the prefix
    doubles, up to ``max_prefix_len``. Above ``block_cap`` rows the
    common case pays one tiny MAX over the block table (none with
    ``prefix_len`` ≥ ``max_prefix_len``); only genuinely
    prefix-degenerate inputs pay re-aggregation rounds. No sampling —
    the chosen length is a pure function of the input, so
    resume/replay parity holds.
    """
    from pyspark import StorageLevel

    from retailer_scrapers_spark.operators.caching import unpersist_when_collected

    o = F.col(order_col)
    # the sizing count fills this cache and the consumer reads it back;
    # an input the caller has cached already stays the caller's to release
    owned = [df] if df.storageLevel == StorageLevel.NONE else []
    cached = df.persist()
    if cached.count() <= block_cap:
        # one block holds every row: one window task, no offset joins
        w_all = Window.orderBy(o.asc())
        out = cached.withColumn(out_col, (F.lit(start) + F.row_number().over(w_all)).cast("long"))
        return unpersist_when_collected(out, *owned)

    def tag(fine_len: int):
        t = cached.withColumn("__gk", F.substring(o, 1, fine_len)).withColumn(
            "__ck", F.substring(o, 1, coarse_len)
        )
        return t, t.groupBy("__ck", "__gk").agg(F.count(F.lit(1)).alias("__n")).persist()

    fine_len = prefix_len
    tagged, sizes = tag(fine_len)
    while fine_len < max_prefix_len and (sizes.agg(F.max("__n")).collect()[0][0] or 0) > block_cap:
        sizes.unpersist(blocking=False)
        fine_len = min(2 * fine_len, max_prefix_len)
        tagged, sizes = tag(fine_len)
    # 1. in-block rank (parallel: partitioned by the fine prefix)
    w_in = Window.partitionBy("__gk").orderBy(o.asc())
    ranked = tagged.withColumn("__in", F.row_number().over(w_in))
    # 2. fine-block sizes → running offset within the coarse block
    w_fine = Window.partitionBy("__ck").orderBy(F.col("__gk").asc()).rowsBetween(Window.unboundedPreceding, -1)
    fine_off = sizes.withColumn("__fine_off", F.coalesce(F.sum("__n").over(w_fine), F.lit(0)))
    # 3. coarse-block sizes → global offsets (rows = #coarse blocks, tiny)
    csizes = sizes.groupBy("__ck").agg(F.sum("__n").alias("__cn"))
    w_coarse = Window.orderBy(F.col("__ck").asc()).rowsBetween(Window.unboundedPreceding, -1)
    coarse_off = csizes.withColumn("__coff", F.coalesce(F.sum("__cn").over(w_coarse), F.lit(0))).drop("__cn")
    offs = fine_off.join(coarse_off, "__ck").select(
        "__gk", (F.col("__fine_off") + F.col("__coff")).alias("__off")
    )
    out = (
        ranked.join(offs, "__gk")
        .withColumn(out_col, (F.lit(start) + F.col("__off") + F.col("__in")).cast("long"))
        .drop("__gk", "__ck", "__in", "__off")
    )
    # the block-size cache feeds both the sizing probe and the offsets;
    # release it and the input cache with the result handle
    return unpersist_when_collected(out, *owned, sizes)


def assign_global_indexes(
    df: DataFrame,
    base_offsets: dict[str, int],
    retailer_col: str = "retailer",
    order_cols: tuple[str, ...] = ("page", "pos"),
    out_col: str = "index",
) -> DataFrame:
    """O2 — deterministic contiguous id assignment per retailer.

    The reference threads a racy ``current_index`` through futures
    (§2.9); here each retailer gets ``base_offset + rank − 1`` over a
    TOTAL order on ``order_cols`` — reproducible under any parallelism.
    Base offsets: checkers 0, pnp 7500, shoprite 17500, woolworths
    29000 (scrape_checkers.py:596, scrape_pnp.py:367,
    scrape_shoprite.py:591, scrape_woolworths.py:396).

    Scale shape: a naive ``row_number() over (partition by retailer
    order by …)`` funnels each retailer through ONE task — a
    single-partition sort at 100 TB. This implementation is two-level
    (the classic distributed prefix-sum):

      1. rank within the finest group (all order_cols) — parallel
         windows over many small partitions;
      2. group sizes → cumulative offsets of each group within its
         retailer — a tiny aggregate, windowed over groups not rows;
      3. index = base + group_offset + in-group rank − 1.

    Identical output to the naive form (a property test pins this).
    """
    spark = df.sparkSession
    offsets = spark.createDataFrame(
        [(k, v) for k, v in base_offsets.items()], f"{retailer_col} string, __base long"
    )
    head, tail = list(order_cols[:-1]), order_cols[-1]
    drop_cols: list[str] = []
    if not head:
        # Single order column: the naive per-retailer window funnels each
        # retailer through ONE sort task (at 10^9 rows/retailer that task
        # is the whole job). Synthesize a coarse grouping key that is a
        # monotone non-decreasing function of the order column — floor
        # division for integrals (arithmetic shiftright preserves order,
        # negatives included), a fixed-length prefix for strings (prefix
        # blocks are contiguous in lexicographic order; same argument as
        # global_sequence) — and fall through to the two-level prefix-sum
        # below. Output is identical: ordering by (coarse, tail) equals
        # ordering by tail, and the coarse key is never null (nulls get a
        # dedicated first-sorting sentinel block) so the step-3 equi-join
        # never drops rows. Non-packable order types keep the windowed
        # form.
        dtypes = dict(df.dtypes)
        integral = {"tinyint", "smallint", "int", "bigint"}
        if dtypes.get(tail) in integral:
            # Derive the block width from the column's SPAN (one tiny
            # min/max aggregation — a pure function of the input, so the
            # shape stays deterministic under resume/replay, like the D2
            # hybrid's count): a fixed shift would leave dense keys with
            # giant blocks or hashed keys with one block per row. A fixed
            # ~64·parallelism block COUNT keeps the group-level window
            # trivial at any scale while block SIZE scales with the data.
            import math

            lohi = df.agg(F.min(tail).alias("lo"), F.max(tail).alias("hi")).first()
            if lohi.lo is None:  # empty or all-null order column
                coarse = F.lit(0)
            else:
                span = max(int(lohi.hi) - int(lohi.lo) + 1, 1)
                target_blocks = 64 * df.sparkSession.sparkContext.defaultParallelism
                k = max(0, math.ceil(math.log2(max(span / target_blocks, 1))))
                # shiftright(x, k) ≥ -2^63 ≫ the null sentinel -2^62 only
                # when k ≥ 2; clamp so the sentinel block stays disjoint
                k = max(k, 2)
                coarse = F.when(F.col(tail).isNull(), F.lit(-(1 << 62))).otherwise(
                    F.shiftright(F.col(tail).cast("bigint"), k)
                )
        elif dtypes.get(tail) == "string":
            # the "" block holds exactly the empty string, so folding
            # nulls into it keeps them at the front of the total order
            coarse = F.coalesce(F.substring(F.col(tail), 1, 12), F.lit(""))
        else:
            coarse = None
        if coarse is None:
            w = Window.partitionBy(retailer_col).orderBy(F.col(tail).asc())
            return (
                df.join(F.broadcast(offsets), retailer_col, "left")
                .na.fill({"__base": 0})
                .withColumn(out_col, F.col("__base") + F.row_number().over(w) - 1)
                .drop("__base")
            )
        df = df.withColumn("__o2_coarse", coarse)
        head = ["__o2_coarse"]
        drop_cols = ["__o2_coarse"]
    group_keys = [retailer_col, *head]
    # 1. in-group rank (parallel: partitioned by the fine group key)
    w_in = Window.partitionBy(*group_keys).orderBy(F.col(tail).asc())
    ranked = df.withColumn("__in_rank", F.row_number().over(w_in))
    # 2. per-group sizes → running offset within the retailer (rows = groups)
    sizes = ranked.groupBy(*group_keys).agg(F.count(F.lit(1)).alias("__n"))
    w_grp = Window.partitionBy(retailer_col).orderBy(*[F.col(c).asc() for c in head])
    grp_off = sizes.withColumn(
        "__grp_off", F.coalesce(F.sum("__n").over(w_grp.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
    ).drop("__n")
    # 3. assemble
    return (
        ranked.join(grp_off, group_keys, "left")
        .join(F.broadcast(offsets), retailer_col, "left")
        .na.fill({"__base": 0, "__grp_off": 0})
        .withColumn(out_col, F.col("__base") + F.col("__grp_off") + F.col("__in_rank") - 1)
        .drop("__base", "__grp_off", "__in_rank", *drop_cols)
    )
