"""Deduplication operators.

Reference-parity family (SURVEY.md §2.5):
  D1 ``dedup_keep_promo``    — keyed dedup with promo priority
                               (scrape_shoprite.py:572-575 and 3 clones)
  D2 ``repair_duplicate_indexes`` — duplicate-id repair + resequencing
                               (scrape_shoprite.py:550-570 and 3 clones)
  D3 ``drop_duplicates_first``    — keep-first by key with pinned order
                               (scrape_pnp.py:429-434)
  J4 ``last_wins``           — dict-merge overwrite semantics
                               (scrape_shoprite.py:459-461)

Training-data family (task brief): exact hash dedup, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup — all shuffle-aware:
LSH banding turns the O(n²) pair space into an equi-join on band keys,
which Spark executes as a hash-partitioned shuffle join; candidate
pairs are verified exactly afterwards.

Determinism: every ``keep='first'`` becomes a total-order window
(ties broken by an explicit ``seq`` column) per SURVEY.md §2.9.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from retailer_scrapers_spark.functions.prices import NO_PROMO
from retailer_scrapers_spark.operators.caching import carry_caches, unpersist_when_collected


# ---------------------------------------------------------------------------
# Reference-parity dedup
# ---------------------------------------------------------------------------

def dedup_keep_promo(
    df: DataFrame,
    keys: tuple[str, ...] = ("name", "price"),
    promo_col: str = "promotion_price",
    order_col: str = "index",
) -> DataFrame:
    """D1 — keep one row per ``keys``, preferring rows WITH a promotion.

    The reference sorts by (name, price, promo_priority) with
    promo_priority = 0 when a promo exists, then drops later duplicates
    (scrape_shoprite.py:572-575). Tie-break within equal promo priority
    is pinned to ``order_col`` (total order; §2.9).
    """
    prio = F.when(F.col(promo_col) != NO_PROMO, 0).otherwise(1)
    w = Window.partitionBy(*keys).orderBy(prio.asc(), F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def drop_duplicates_first(
    df: DataFrame, keys: tuple[str, ...] = ("name", "price"), order_col: str = "index"
) -> DataFrame:
    """D3 — pandas ``drop_duplicates(keys, keep='first')`` with the input
    order pinned to ``order_col`` (scrape_pnp.py:429-434)."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def last_wins(df: DataFrame, key: str = "name", order_col: str = "index") -> DataFrame:
    """J4 — ``{name: row}`` dict-comprehension overwrite: the LAST row per
    key survives (scrape_shoprite.py:459-461)."""
    w = Window.partitionBy(key).orderBy(F.col(order_col).desc())
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def repair_duplicate_indexes(
    df: DataFrame,
    id_col: str = "index",
    floor_value: int = 0,
    order_cols: tuple[str, ...] = ("name", "price"),
    block_cap: int = 4_000_000,
) -> DataFrame:
    """D2 — duplicate-index repair (scrape_shoprite.py:551-571,
    scrape_pnp.py:318-338, scrape_checkers.py:553-573,
    scrape_woolworths.py:293-313).

    Reference semantics, matched exactly: EVERY row of a duplicated id
    is removed (``duplicated(keep=False)``) and reassigned a fresh
    sequential id; the base is ``max(max(id) over the NON-duplicated
    remainder, floor_value)`` (the reference drops the duplicates
    FIRST, then takes ``df['index'].max()``), and new ids run
    contiguously from ``base + 1``. The reference numbers the removed
    rows in pandas row order; here the order is pinned to
    (``order_cols``, ``id_col``) — a total order, reproducible under
    any parallelism (§2.9).

    Scale shape (VERDICT r3 next #7, r4 #3): the resequencing is HYBRID
    on the measured duplicate-subset size (one ``count()`` — a pure
    function of the input, so the switch is deterministic and
    resume/replay parity holds):

    - ``≤ block_cap`` duplicates → ONE bounded single-task window over
      just the dupes (the common case — dupes are a minority, and the
      distributed form's ~4 extra shuffles measured 3–4× slower
      locally, VERDICT r4 #3);
    - larger → ``global_sequence`` at the same ``block_cap`` (so it
      takes its three-level distributed prefix-sum, never its one-window
      path) over a lexicographically order-preserving packed key —
      no single-partition window even when ~every row is a duplicate.
      String order columns are \\x00-terminated (field-wise order ==
      concatenated order); integral columns are zero-padded to fixed
      width (valid for the reference's non-negative ids/prices); a NULL
      of either kind packs as the empty field, so it sorts first. Any
      other column type falls back to the bounded window.
    """
    from retailer_scrapers_spark.operators.frontier import global_sequence

    w_cnt = Window.partitionBy(id_col)
    # persist: keep/dupes/base/count all read the same windowed frame
    marked = df.withColumn("__cnt", F.count(F.lit(1)).over(w_cnt)).persist()
    keep = marked.filter(F.col("__cnt") == 1).drop("__cnt")
    dupes = marked.filter(F.col("__cnt") > 1).drop("__cnt")

    # next id base: max over the non-duplicated remainder, floored
    # (scrape_shoprite.py:560-563: df.drop(duplicates) THEN max(…, floor))
    base = keep.agg(
        F.greatest(F.coalesce(F.max(F.col(id_col)), F.lit(floor_value)), F.lit(floor_value)).alias("m")
    )

    dtypes = dict(df.dtypes)
    integral = {"tinyint", "smallint", "int", "bigint"}
    key_cols = (*order_cols, id_col)
    packable = all(dtypes[c] == "string" or dtypes[c] in integral for c in key_cols)
    # ADVICE r5: the count job only runs when the hybrid switch actually
    # depends on it — unpackable keys force the bounded window regardless
    if packable and dupes.count() > block_cap:
        parts = []
        for c in key_cols:
            col = F.col(c)
            if dtypes[c] == "string":
                parts.append(F.concat(F.coalesce(col, F.lit("")), F.lit("\x00")))
            else:
                # a NULL would null the whole key and drop the row at the
                # prefix-sum's block join; "" sorts it first, as the window does
                parts.append(F.concat(F.coalesce(F.lpad(col.cast("string"), 20, "0"), F.lit("")), F.lit("\x00")))
        packed = dupes.withColumn("__ord", F.concat(*parts))
        seqd = global_sequence(packed, order_col="__ord", out_col="__seq", start=0, block_cap=block_cap)
        reassigned = carry_caches(
            seqd.crossJoin(F.broadcast(base))
            .withColumn(id_col, F.col("__seq") + F.col("m"))
            .drop("m", "__ord", "__seq"),
            seqd,
        )
    else:
        w_seq = Window.orderBy(*[F.col(c).asc() for c in order_cols], F.col(id_col).asc())
        reassigned = (
            dupes.crossJoin(F.broadcast(base))
            .withColumn(id_col, F.row_number().over(w_seq) + F.col("m"))
            .drop("m")
        )
    return unpersist_when_collected(carry_caches(keep.unionByName(reassigned), reassigned), marked)


# ---------------------------------------------------------------------------
# Training-data dedup family
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate removal: keep the lowest id per distinct text.

    Scale shape (VERDICT r1): a window partitioned by (hash, text)
    ships the FULL text of every document through the shuffle. Here the
    text column only travels for rows in MULTI-ROW (hash, length)
    groups — the duplicate-suspect minority:

      1. count per (xxhash64(text), length(text)) — a narrow shuffle;
      2. singleton groups pass through untouched (provably unique:
         equal texts always share (hash, len));
      3. suspect rows alone re-shuffle WITH text for the exact
         per-distinct-text winner pick (hash collisions on differing
         texts are therefore harmless — the text is in the key).

    Output identical to the naive form; at a corpus where most docs are
    unique, shuffle volume drops from O(total text) to O(dup text).

    NULL text is a first-class key: the group key coalesces
    ``length(text)`` to -1 (xxhash64(NULL) is already the non-null
    seed), so null-text rows survive the inner equi-join and dedup to
    one winner — matching the window form, where partitionBy groups
    nulls together.
    """
    h = F.xxhash64(F.col(text_col)).alias("__h")
    ln = F.coalesce(F.length(F.col(text_col)), F.lit(-1)).alias("__len")
    keyed = df.select("*", h, ln)
    counts = keyed.groupBy("__h", "__len").agg(F.count(F.lit(1)).alias("__n"))
    keyed = keyed.join(counts, ["__h", "__len"])
    unique = keyed.filter(F.col("__n") == 1).drop("__h", "__len", "__n")
    suspects = keyed.filter(F.col("__n") > 1).drop("__n")
    w = Window.partitionBy("__h", "__len", F.col(text_col)).orderBy(F.col(id_col).asc())
    winners = (
        suspects.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__h", "__len")
    )
    return unique.unionByName(winners)


def _shingles(text_col: str, k: int = 5) -> F.Column:
    """Word k-shingles of lowercased text (built-ins only).

    Shape matters: the obvious ``transform(sequence(...), i ->
    array_join(slice(words, i+1, k)))`` form lets CollapseProject inline
    the ``split`` INTO the per-element lambda, re-tokenizing the whole
    text once per shingle — measured 9× slower at sf0.1 (bench r3).
    Here the k shifted suffix arrays are zip-folded instead: zip_with
    evaluates its array arguments ONCE per row, so the split costs O(k)
    evaluations per document, never O(words). ``concat_ws`` skips the
    NULLs zip_with pads with, which reproduces array_join-of-short-slice
    exactly for the sub-k tail (identity pinned by the existing tests).

    Construction note (r6 continuation, same move as the simhash
    rewrite): the zip-fold is built as ONE parsed SQL expression instead
    of a Column-DSL fold with Python lambdas (dozens of py4j round
    trips per call). Catalyst-verified identical: ``sameResult`` is True
    between the two forms, so the analyzed plan — and therefore every
    output bit — is unchanged.
    """
    words = f"split(trim(lower(`{text_col}`)), '\\\\s+')"
    big = 1 << 30
    acc = words
    for j in range(1, k):
        acc = f"zip_with({acc}, slice({words}, {j + 1}, {big}), (a, b) -> concat_ws(' ', a, b))"
    n = f"greatest(size({words}) - {k - 1}, 1)"
    return F.expr(f"slice({acc}, 1, {n})")


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_hashes: int = 32, shingle_k: int = 5
) -> DataFrame:
    """MinHash signature per document: for hash function j, the min over
    shingles of ``xxhash64(shingle, seed=j)``.

    Shape: explode the shingles ONCE, then one groupBy computing all
    ``num_hashes`` mins in a single aggregation (map-side partial). The
    tempting pure-expression form (``array_min(transform(shingles, …))``
    per seed) re-inlines the whole shingle construction per seed after
    projection collapse — measured ~100× slower at 32 hashes.
    """
    sh = df.select(F.col(id_col), F.explode(F.array_distinct(_shingles(text_col, shingle_k))).alias("__sh"))
    # parsed SQL expressions (r6 continuation): the Column-DSL form of
    # the 32 min-aggregates + array assembly cost ~150 py4j round trips
    # per bench invocation; sameResult-verified identical (SQL xxhash64
    # uses the same default seed 42, integer literals parse to the same
    # IntegerType the F.lit path produced)
    aggs = [F.expr(f"min(xxhash64(__sh, {j})) AS __h{j}") for j in range(num_hashes)]
    assembly = "array(" + ", ".join(f"__h{j}" for j in range(num_hashes)) + ") AS minhash"
    return sh.groupBy(id_col).agg(*aggs).select(F.col(id_col), F.expr(assembly))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    bucket_cap: int | None = None,
) -> DataFrame:
    """MinHash+LSH candidate pairs: band the signature (rows=num_hashes/bands),
    hash each band to a bucket key, self-join on (band, bucket).

    Scale shape: the self-join is an equi-join on the band key →
    hash-partitioned shuffle, never an O(n²) cross product. When
    ``bucket_cap`` is set, buckets holding more than that many docs are
    EXCLUDED from candidate generation (VERDICT r1 #3): a
    boilerplate-heavy corpus otherwise puts n docs in one bucket → n²
    pairs in a single task. True near-dups collide in MANY of the
    ``bands`` independent buckets, so dropping the few mega-buckets
    costs recall only for docs whose every matching band is
    boilerplate-degenerate. The cap is OPT-IN (default None: exact
    candidate set) and never silent — every action over the result
    reports ``excluded_buckets`` / ``excluded_rows`` observed metrics
    (ADVICE r3: no-silent-caps).

    Returns (a, b) id pairs with a < b and their estimated Jaccard
    (fraction of matching signature positions).
    """
    rows = num_hashes // bands
    # persist: the signature table feeds the banding AND the two
    # per-unique-pair signature joins below — without the cache the
    # shingle explode + 32-min aggregation would run three times
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k).persist()
    # persist the banded table too (r6): it feeds BOTH self-join sides
    # and (when capped) the bucket-frequency aggregation — without the
    # cache the band explode re-ran once per consumer (4 identical
    # Generate subtrees in the executed plan), and each duplicate
    # subtree was codegen'd separately, inflating the cold compile
    band_parts = ", ".join(
        f"struct({b} AS band, xxhash64(CAST(slice(minhash, {b * rows + 1}, {rows}) AS STRING)) AS bucket)"
        for b in range(bands)
    )
    banded = sigs.select(
        F.col(id_col), F.expr(f"explode(array({band_parts})) AS bb")
    ).select(id_col, "bb.band", "bb.bucket").persist()
    banded_cache = banded  # keep the persisted handle (banded is reassigned below)
    if bucket_cap is not None:
        counts = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("__bn"))
        counts = counts.observe(
            "minhash_lsh_bucket_cap",
            F.sum((F.col("__bn") > bucket_cap).cast("long")).alias("excluded_buckets"),
            F.sum(F.when(F.col("__bn") > bucket_cap, F.col("__bn")).otherwise(0)).alias("excluded_rows"),
        )
        small = counts.filter(F.col("__bn") <= bucket_cap).select("band", "bucket")
        banded = banded.join(small, ["band", "bucket"])
    left = banded.select(F.col(id_col).alias("a"), "band", "bucket")
    right = banded.select(F.col(id_col).alias("b"), "band", "bucket")
    # the band self-join + pair dedup carry BARE (a, b) ids (16 B/row —
    # no signature payload), and the estimate is computed ONCE per
    # UNIQUE pair by joining each side's signature back afterwards. The
    # r4 shape computed est before dropDuplicates, paying the 32-element
    # comparison once per band-collision — a pair colliding in b of the
    # ``bands`` buckets paid it b times (VERDICT r4 #2, measured ~70%
    # regression at sf0.1).
    pairs = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    sig_a = sigs.select(F.col(id_col).alias("a"), F.col("minhash").alias("sig_a"))
    sig_b = sigs.select(F.col(id_col).alias("b"), F.col("minhash").alias("sig_b"))
    est = F.expr(
        f"CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), e -> e)) / {num_hashes}"
        " AS DOUBLE) AS est_jaccard"
    )
    out = pairs.join(sig_a, "a").join(sig_b, "b").select("a", "b", est)
    return unpersist_when_collected(out, sigs, banded_cache)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """SimHash: sign of per-bit sums of token hashes. Built-ins only:
    explode tokens → per-bit ±1 from the token hash → sum → sign bits.
    Shuffle: one groupBy on the id (map-side partial aggregation).

    Construction note (r6, guide §1.2 "per-task work" applied to the
    DRIVER): the Column-DSL form issued ~9 py4j round-trips per bit
    (~600 for 64 bits), costing >1 s of pure plan-construction time per
    bench invocation. Each bit's aggregate is now ONE parsed SQL
    expression (identical operators — CASE/shiftright/& compile to the
    same Catalyst nodes; SQL ``xxhash64`` uses the same default seed
    42 as ``F.xxhash64``), and the bit assembly is a single parsed
    expression instead of a 64-step Column fold."""
    toks = df.select(F.col(id_col), F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok"))
    bit_cols = [
        F.expr(
            f"sum(CASE WHEN (shiftright(xxhash64(tok), {b}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
        )
        for b in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*bit_cols)
    assembly = " ^ ".join(
        f"shiftleft(CAST(CASE WHEN b{b} > 0 THEN 1 ELSE 0 END AS BIGINT), {b})" for b in range(bits)
    )  # disjoint bits: XOR == OR
    return agg.select(F.col(id_col), F.expr(assembly).alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity with a HOT-SHINGLE CAP.

    Candidate generation: inverted-index self-join on shingles whose
    document frequency is ≤ ``df_cap``. Without the cap a boilerplate
    "stop shingle" shared by 10^6 docs makes one join key quadratic
    (10^12 pairs in a single task) — VERDICT r1 #3. With it, per-key
    work is bounded by df_cap².

    Verification: EXACT full-set Jaccard per candidate pair, without
    ever shipping full shingle arrays through a join. Decomposition:
    |A∩B| = rare_inter + hot_inter, where rare_inter falls out of the
    capped inverted-index aggregation itself and hot_inter is the
    intersection of the two docs' HOT-shingle arrays — arrays that are
    tiny by construction (at most total_occurrences/df_cap distinct
    shingles are hot corpus-wide, and usually none). The cap never
    changes a reported score, only which pairs are considered.
    Contract (mirrored by the SQL oracle): a pair is emitted iff it
    shares ≥1 sub-cap shingle AND full-set Jaccard ≥ ``threshold``.
    Near-dup pairs at sane thresholds always share rare shingles, so
    recall loss is confined to pairs overlapping ONLY in boilerplate —
    exactly the pairs near-dup dedup should not merge.
    """
    # persist: the exploded shingle table feeds the hot-shingle probe
    # (an eager driver-side collect) AND the main pipeline — without the
    # cache the expensive explode+distinct runs twice
    sh = df.select(F.col(id_col), F.explode(F.array_distinct(_shingles(text_col, n))).alias("sh")).persist()
    # the HOT set is tiny by pigeonhole — at most total_occurrences /
    # df_cap distinct shingles can exceed the cap — so collect it to the
    # driver (bounded) and branch: the common no-hot-key corpus pays
    # nothing beyond the frequency aggregation, while skewed corpora get
    # the capped candidate generation + exact hot-intersection repair
    hot_rows = (
        sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df")).filter(F.col("__df") > df_cap).select("sh").collect()
    )
    hot_list = [r.sh for r in hot_rows]
    if hot_list:
        hot = F.broadcast(df.sparkSession.createDataFrame([(s,) for s in hot_list], "sh string"))
        sh_rare = sh.join(hot, "sh", "left_anti")
        hot_per_doc = sh.join(hot, "sh", "left_semi").groupBy(id_col).agg(F.collect_list("sh").alias("__hot"))
    else:
        sh_rare = sh
    # sizes from the CACHED exploded table: a row-local
    # size(array_distinct(...)) expression was tried in r6 and measured
    # slower — each of the sz_a/sz_b join sides re-evaluated the full
    # shingle construction over the corpus, while this aggregation reads
    # the persisted explode once (guide §1.1: the "ideal" plan lost to
    # the measured one)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    # candidates AND their rare-shingle intersection in one aggregation.
    # Shape: group each sub-cap shingle's doc list (bounded by df_cap),
    # expand its C(df, 2) ordered pairs as an ARRAY expression, explode,
    # count per pair. One exchange on the shingle + one on the pair key —
    # the former self-join shuffled the exploded table twice AND paid a
    # join; this is ~2× faster at the same pair volume (bench r3).
    docs_per_sh = sh_rare.groupBy("sh").agg(F.array_sort(F.collect_list(id_col)).alias("__ds"))
    pair_arr = F.flatten(
        F.transform(
            "__ds",
            lambda x, i: F.transform(
                F.slice("__ds", i + 2, F.greatest(F.size("__ds") - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    rare_inter = (
        docs_per_sh.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("__rinter"))
    )
    sz_a = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b"))
    scored = rare_inter.join(sz_a, "a").join(sz_b, "b")
    if hot_list:
        hot_a = hot_per_doc.select(F.col(id_col).alias("a"), F.col("__hot").alias("__hot_a"))
        hot_b = hot_per_doc.select(F.col(id_col).alias("b"), F.col("__hot").alias("__hot_b"))
        empty = F.array().cast("array<string>")
        scored = scored.join(hot_a, "a", "left").join(hot_b, "b", "left")
        inter = F.col("__rinter") + F.size(
            F.array_intersect(F.coalesce("__hot_a", empty), F.coalesce("__hot_b", empty))
        )
    else:
        inter = F.col("__rinter")
    out = (
        scored.withColumn("jaccard", inter / (F.col("sz_a") + F.col("sz_b") - inter))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.col("jaccard").cast("double").alias("jaccard"))
    )
    # cache lifetime = result lifetime (no leak across a long session)
    return unpersist_when_collected(out, sh)
