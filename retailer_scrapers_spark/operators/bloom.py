"""Partitioned Bloom URL-seen filter (SURVEY.md D6, §4.2.1; north_rule).

The reference keeps a driver-side ``visited_pages`` set
(scrape_shoprite.py:417-425); at 10^10 URLs that must become a
distributed membership structure. The filter lives as a per-slice state
DataFrame (``schemas.SEEN_FILTER_STATE``) end to end; nothing
O(|filter|) ever reaches the driver or a broadcast. Design:

- hashes are computed JVM-side (``xxhash64`` twice with different
  seeds — Kirsch-Mitzenmacher double hashing gives k indexes from 2);
- the bit table is split into ``n_slices`` disjoint sub-filters of
  ``m_slice`` bits; a key belongs to the slice in the low bits of h1 and
  sets local = ((h1 >> log2(n_slices)) + i·(h2|1)) mod m_slice;
- build (:func:`build_bloom_state`): keys shuffle by slice id and each
  ``mapInArrow`` task sets the bits of the slices it received (numpy,
  vectorized), one state row per slice;
- merge (:func:`merge_filter_state`): two states OR together by slice
  id in an executor-side group-by. This is the crawl's one filter
  upkeep: each epoch builds a state from its seen delta and ORs it into
  the previous epoch's;
- probe (:func:`probe_filter_state`): frontier rows shuffle by slice id
  and cogroup with only their slice's state row(s); one Arrow task per
  slice probes its batch against a few-MB sub-filter.

Exactness: Bloom probes have false positives but NO false negatives,
so the engine uses the filter as a *prefilter*: probe-positive rows are
verified with an exact anti-join against the seen table (tiny input
after the prefilter); probe-negative rows pass directly
(:func:`filter_unseen_split_state`). The final URL-seen set is
therefore exact (north_rule) while the big anti-join shrinks by
~(1 − fpp) at scale.

Cost rule: the probe pays only by keeping rows out of the verify, so
:func:`filter_unseen_split_state` first reads one state row and predicts
the fpp its probes would see (:func:`predicted_fpp`). A saturated Bloom
filter (predicted fpp ≥ :data:`PROBE_BYPASS_FPP`) is skipped: every row
goes straight to the exact verify, with no slice-routing shuffle and no
Python stage. The result is the same exact partition.

Sizing: m = −n·ln(p)/ln(2)², k = (m/n)·ln(2). For n = 10^10 and
p = 1e−3 this is ~17.9 GB of bits cluster-wide — per-slice rows of a
few MB each, which is why the structure is partitioned and
checkpointed rather than driver-resident.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

H1_SEED = 0
H2_SEED = 1


def _scatter_bits(words: np.ndarray, idx: np.ndarray) -> None:
    """OR the bit indexes ``idx`` into the uint64 ``words`` table,
    picking the faster of two bit-exact strategies by density:

    - dense (≥ ~1/64 set-bit per table bit): boolean scatter + one
      ``packbits`` pass — ~20× faster than unbuffered scatter at
      millions of keys on a compact table;
    - sparse: word-wise ``np.bitwise_or.at`` — avoids materializing and
      scanning an m_bits boolean temporary, which dominates on large
      sparse slices (measured: the 4 GiB big-filter build dropped from
      ~206 s to seconds).
    """
    idx = idx.astype(np.int64, copy=False)
    m_bits = len(words) * 64
    if len(idx) * 64 >= m_bits:
        as_bool = np.zeros(m_bits, dtype=bool)
        as_bool[idx] = True
        words |= np.packbits(as_bool, bitorder="little").view(np.uint64)
    else:
        np.bitwise_or.at(
            words, idx >> 6, np.uint64(1) << (idx.astype(np.uint64) & np.uint64(63))
        )


def with_url_hashes(df: DataFrame, url_col: str = "url_canon") -> DataFrame:
    """Attach the two JVM-side hash columns the filter consumes."""
    return df.withColumn("__h1", F.xxhash64(F.col(url_col), F.lit(H1_SEED))).withColumn(
        "__h2", F.xxhash64(F.col(url_col), F.lit(H2_SEED))
    )


def _next_pow2(n: int) -> int:
    return 1 << max(n - 1, 1).bit_length() if n & (n - 1) else max(n, 1)


STATE_DDL = (
    "partition_id int, filter_bytes binary, n_items long, m_bits long, k_hashes int, n_slices int"
)
# the same state row as the Arrow schema the executor-side builders emit
STATE_SCHEMA = pa.schema(
    [
        ("partition_id", pa.int32()),
        ("filter_bytes", pa.binary()),
        ("n_items", pa.int64()),
        ("m_bits", pa.int64()),
        ("k_hashes", pa.int32()),
        ("n_slices", pa.int32()),
    ]
)


def build_bloom_state(
    df: DataFrame,
    url_col: str = "url_canon",
    m_bits: int = 1 << 20,
    k_hashes: int = 7,
    n_slices: int | None = None,
) -> DataFrame:
    """Build the partitioned URL-seen filter AS A DATAFRAME of per-slice
    state rows (schemas.SEEN_FILTER_STATE) — the filter never
    materializes on the driver (north_rule; VERDICT r4 #1: at 10^10
    URLs / 1e-3 fpp the bit table is ~17.9 GB, far past any broadcast
    or driver-collect budget).

    Key-space-sliced: keys are shuffled by their slice id (low bits of
    h1), each task builds only the m/n_slices-bit sub-filters for the
    slices it received. Hash partitioning puts each slice id in exactly
    one task, so every output row is the unique state row for its
    slice; slices no key hashed to have no row (all-zero bits —
    probe treats a missing slice as empty). ``n_items``/``m_bits`` are
    per-slice count / GLOBAL bit-table size respectively.

    ``n_slices`` must be a power of two (so int64 masking == uint64
    modulo). Each slice holds ``m_bits / n_slices`` bits rounded up to
    whole 64-bit words, and the state rows declare the aligned total.
    """
    spark = df.sparkSession
    if n_slices is None:
        n_slices = _next_pow2(spark.sparkContext.defaultParallelism)
    assert n_slices & (n_slices - 1) == 0, "n_slices must be a power of two"
    m_slice = ((int(m_bits) + n_slices * 64 - 1) // (n_slices * 64)) * 64
    m_bits_aligned = m_slice * n_slices
    shift = n_slices.bit_length() - 1

    hashed = (
        with_url_hashes(df, url_col)
        .select("__h1", "__h2", F.col("__h1").bitwiseAND(F.lit(n_slices - 1)).alias("__slice"))
        .repartition(min(n_slices, spark.sparkContext.defaultParallelism), "__slice")
    )

    def build_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        h1s, h2s = [], []
        for batch in batches:
            h1s.append(batch.column("__h1").to_numpy(zero_copy_only=False))
            h2s.append(batch.column("__h2").to_numpy(zero_copy_only=False))
        if not h1s:
            return
        u1 = np.concatenate(h1s).astype(np.uint64)
        u2 = np.concatenate(h2s).astype(np.uint64) | np.uint64(1)
        s = (u1 & np.uint64(n_slices - 1)).astype(np.int64)
        order = np.argsort(s, kind="stable")
        u1, u2, s = u1[order], u2[order], s[order]
        bounds = np.flatnonzero(np.diff(s)) + 1
        slice_ids = s[np.concatenate([[0], bounds])] if len(s) else np.array([], dtype=np.int64)
        out_ids, out_bytes, out_counts = [], [], []
        i = np.arange(k_hashes, dtype=np.uint64)[None, :]
        for seg, sid in zip(np.split(np.arange(len(s)), bounds), slice_ids):
            lu1, lu2 = u1[seg], u2[seg]
            local = ((lu1 >> np.uint64(shift))[:, None] + i * lu2[:, None]) % np.uint64(m_slice)
            words = np.zeros(m_slice // 64, dtype=np.uint64)
            _scatter_bits(words, local.ravel())  # density-hybrid (see _scatter_bits)
            out_ids.append(int(sid))
            out_bytes.append(words.tobytes())
            out_counts.append(len(seg))
        yield pa.RecordBatch.from_pydict(
            {
                "partition_id": out_ids,
                "filter_bytes": out_bytes,
                "n_items": out_counts,
                "m_bits": [m_bits_aligned] * len(out_ids),
                "k_hashes": [k_hashes] * len(out_ids),
                "n_slices": [n_slices] * len(out_ids),
            },
            schema=STATE_SCHEMA,
        )

    return hashed.mapInArrow(build_partition, STATE_DDL)


def merge_filter_state(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-merge two per-slice Bloom state DataFrames EXECUTOR-side — a
    reduce by slice id (groupBy + Arrow fold over ≤2 small rows per
    group), never a whole-filter collect on the driver (VERDICT r4 #1).
    ``n_items`` sums, so over disjoint deltas (the crawl's seen deltas)
    the merged state counts each seen key once."""

    def fold(tbl: pa.Table) -> pa.Table:
        blobs = tbl.column("filter_bytes").to_pylist()
        acc = np.frombuffer(bytes(blobs[0]), dtype=np.uint64).copy()
        for blob in blobs[1:]:
            acc |= np.frombuffer(bytes(blob), dtype=np.uint64)
        return pa.Table.from_pydict(
            {
                "partition_id": [tbl.column("partition_id")[0].as_py()],
                "filter_bytes": [acc.tobytes()],
                "n_items": [sum(tbl.column("n_items").to_pylist())],
                "m_bits": [tbl.column("m_bits")[0].as_py()],
                "k_hashes": [tbl.column("k_hashes")[0].as_py()],
                "n_slices": [tbl.column("n_slices")[0].as_py()],
            },
            schema=STATE_SCHEMA,
        )

    return a.unionByName(b).groupBy("partition_id").applyInArrow(fold, STATE_DDL)


# Max probe-positive rows the exact verify will broadcast; above this it
# falls back to the shuffled anti-join (deterministic switch on a count
# over the pinned positives — same pattern as the D2 hybrid). In the
# steady-state crawl positives ≈ fpp·|frontier| + the epoch's true-dup
# rate, so at 10^10 URLs / 1e-3 fpp this is ~10^7 rows (~1 GB of url
# strings) — well under Spark's 8 GB / 512M-row broadcast caps, while a
# pathological epoch (everything already seen) still has the exact
# shuffled fallback.
VERIFY_BROADCAST_MAX_ROWS = 8_000_000

# Library-default crossover for the guarded verify: measured A/Bs at
# local[32] put broadcast ≈ shuffled-anti at ~50k positives, shuffled
# winning by ~25% at 1M and ~2.3× at 4M (the broadcast build is a
# SERIAL driver-side cost — guide §5 — which Amdahl-caps exactly the
# high-parallelism legs). The crossover really depends on the
# |seen|/|positives| ratio: the crawl epoch loop overrides with
# VERIFY_BROADCAST_MAX_ROWS because at 10^10 seen rows the shuffled
# fallback moves ~600 GB and a even a 10^7-row broadcast is cheap by
# comparison; mid-scale library use (both sides same order of
# magnitude) wants the smaller threshold.
VERIFY_BROADCAST_DEFAULT_ROWS = 200_000


# The Bloom probe is a prefilter: it costs a full-frontier shuffle plus
# one Arrow Python pass and earns that only by keeping rows out of the
# exact verify. At a predicted fpp of ½ or more, at least half of even
# the never-seen rows probe positive, so the probe can at most halve the
# verify; such a filter is skipped and every row goes to the verify.
PROBE_BYPASS_FPP = 0.5


def predicted_fpp(n_items: int, m_bits: int, n_slices: int, k: int) -> float:
    """False-positive probability of one Bloom slice holding ``n_items``
    keys in ``m_bits / n_slices`` bits with ``k`` hashes:
    (1 − e^(−k·n/m_slice))^k. Hash routing makes the slices
    statistically alike, so one slice's row stands for the whole
    filter; ``n_slices=1`` gives the whole-filter figure."""
    m_slice = m_bits / n_slices
    return (1.0 - math.exp(-k * n_items / m_slice)) ** k


def _probe_cannot_pay(row) -> bool:
    """Whether one state row (``n_slices, n_items, m_bits, k_hashes``)
    predicts a saturated Bloom filter. Missing geometry keeps the probe.
    Several unmerged generations per slice make one row under-count the
    fill, which also keeps the probe — the safe side."""
    if not (row.n_items is not None and row.m_bits and row.n_slices and row.k_hashes):
        return False
    return predicted_fpp(row.n_items, row.m_bits, row.n_slices, row.k_hashes) >= PROBE_BYPASS_FPP


def _exact_verify_scan_side(
    positives: DataFrame,
    seen: DataFrame,
    url_col: str,
    pin,
    max_broadcast_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``(verified_unseen, dup_seen)`` — the exact-membership backstop
    with NO seen-side shuffle (VERDICT r5 #1; guide §3.1: broadcast the
    side that fits).

    The old shape ``positives LEFT ANTI seen`` sort-merge-joins BOTH
    sides — at 10^10 seen URLs that shuffles ~600 GB of url strings
    every epoch to verify a few-million-row positives slice. Flipped:

      matched  = seen ⋉ broadcast(positives-keys)   -- seen is SCANNED,
                                                       zero Exchange
      verified = positives ∖ broadcast(matched)
      dup      = positives ⋉ broadcast(matched)

    Identical result (a positive row is unseen iff its key has no seen
    match), but the only data movement is two small broadcasts; the
    10^10-row table is read once and never leaves its scan tasks.

    ``max_broadcast_rows``: None (default) broadcasts unconditionally —
    no sizing job, the right call for bench/ad-hoc use where positives
    are known-bounded. A non-negative int enables the guarded form: one
    count over the (caller-pinned) positives picks broadcast vs the
    exact shuffled anti/semi pair, so a pathological epoch (nearly
    everything already seen) degrades to the r5 shape instead of an
    oversized broadcast — a deterministic switch on a pure function of
    the input, like the D2 hybrid. The r6 A/B at sf0.1 measured the
    count job at ~0.4 s, which is noise per crawl EPOCH but real per
    bench query — hence the split default. A NEGATIVE int forces the
    shuffled pair with no sizing job — for callers that already know
    the positives are past the broadcast crossover (e.g. from input
    metadata), so they pay neither the count nor an oversized
    broadcast build.
    """
    # LEFT ANTI/SEMI are existence-only: duplicates on the build side
    # are harmless, so no distinct anywhere — that was a full extra
    # shuffle of the (at scale, 10^10-row) seen set per epoch
    seen_keys = seen.select(F.col(url_col))
    if max_broadcast_rows is not None and max_broadcast_rows < 0:
        verified = positives.join(seen_keys, url_col, "left_anti")
        dup = positives.join(seen_keys, url_col, "left_semi")
        return verified, dup
    if max_broadcast_rows is None or positives.count() <= max_broadcast_rows:
        # pinned: both outputs read it (the epoch loop logs dup)
        matched = pin(seen_keys.join(F.broadcast(positives.select(F.col(url_col))), url_col, "left_semi"))
        verified = positives.join(F.broadcast(matched), url_col, "left_anti")
        dup = positives.join(F.broadcast(matched), url_col, "left_semi")
    else:
        verified = positives.join(seen_keys, url_col, "left_anti")
        dup = positives.join(seen_keys, url_col, "left_semi")
    return verified, dup


def _own_pin(owned: list):
    """A ``pin`` that persists into ``owned`` (for callers that did not
    supply one — the caches are released with the result handle via
    ``unpersist_when_collected``)."""

    def pin(d: DataFrame) -> DataFrame:
        d = d.persist()
        owned.append(d)
        return d

    return pin


# Blob headers of the cuckoo-table states older checkpoints may hold
# (SCK1 one whole-filter table, CKF1 one table per slice): not Bloom bits.
_FOREIGN_MAGICS = (b"SCK1", b"CKF1")


def _reject_foreign_blob(blob) -> None:
    magic = bytes(blob[:4]) if blob is not None else b""
    if magic in _FOREIGN_MAGICS:
        raise ValueError(
            f"incompatible filter state: {magic.decode()} cuckoo-table checkpoint "
            "is not Bloom slice state (rebuild the filter state)"
        )


def _probe_slice_blob(
    blob: bytes,
    k_hashes: int,
    shift: int,
    h1: np.ndarray,
    h2: np.ndarray,
    expected_m_slice: int | None = None,
) -> np.ndarray:
    """Probe ONE slice's raw Bloom bits against a hash batch whose keys
    all belong to that slice, indexed as :func:`build_bloom_state` set
    them: local = ((h1 >> shift) + i·(h2|1)) mod m_slice.

    ADVICE r5: an unrecognized/mis-sized blob must FAIL, not be probed
    as garbage bits — garbage probes can produce false negatives, which
    silently break the 'newly_seen disjoint from seen' invariant. A
    foreign blob header from an older checkpoint (:func:`_reject_foreign_blob`)
    is rejected explicitly, and when the caller knows the state row's
    ``m_bits``/``n_slices`` the blob length must match the declared
    per-slice bit count."""
    _reject_foreign_blob(blob)
    if len(blob) % 8:
        raise ValueError(f"incompatible filter state: blob length {len(blob)} is not word-aligned")
    bits = np.frombuffer(bytes(blob), dtype=np.uint64)
    m_slice = len(bits) * 64
    if expected_m_slice is not None and m_slice != expected_m_slice:
        raise ValueError(
            f"incompatible filter state: slice blob holds {m_slice} bits, "
            f"state row declares {expected_m_slice} (m_bits / n_slices)"
        )
    u1 = h1.astype(np.uint64)
    u2 = h2.astype(np.uint64) | np.uint64(1)
    i = np.arange(k_hashes, dtype=np.uint64)[None, :]
    local = ((u1 >> np.uint64(shift))[:, None] + i * u2[:, None]) % np.uint64(m_slice)
    words = bits[(local // 64).astype(np.int64)]
    hit = (words >> (local % np.uint64(64))).astype(np.uint64) & np.uint64(1)
    return hit.all(axis=1)


def probe_filter_state(
    df: DataFrame,
    state: DataFrame,
    url_col: str = "url_canon",
    out_col: str = "__maybe_seen",
    n_slices: int | None = None,
) -> DataFrame:
    """Slice-routed membership probe: shuffle the frontier by its slice
    id (low bits of h1) and cogroup each slice's rows with ONLY that
    slice's state row(s) — an Arrow task per slice deserializes a
    few-MB sub-filter and probes its batch vectorized. No whole-filter
    broadcast, no driver materialization (VERDICT r4 #1).

    ``state`` rows follow schemas.SEEN_FILTER_STATE; multiple rows per
    slice (unmerged delta generations) are ORed at probe time — the
    no-false-negative contract holds for any generation split. A slice
    with no state row probes all-False (empty sub-filter). Constraint:
    output schema == input schema + ``out_col``; the frontier's columns
    must be Arrow-representable (all engine frontier columns are).
    """
    from pyspark.sql.types import BooleanType, StructField, StructType

    if n_slices is None:
        head = state.select("n_slices").head(1)
        if not head:
            # empty state + unknown slicing: nothing can probe positive
            return df.withColumn(out_col, F.lit(False))
        n_slices = head[0][0]
    shift = int(n_slices).bit_length() - 1
    # cogroup keys MUST share one type: a long-typed partition_id (e.g.
    # schema inference on reload) silently mis-routes groups — slices
    # meet the wrong rows and the probe produces FALSE NEGATIVES,
    # breaking seen-set exactness (pinned by test_bloom)
    state = state.withColumn("partition_id", F.col("partition_id").cast("int"))
    hashed = with_url_hashes(df, url_col).withColumn(
        "__slice", F.col("__h1").bitwiseAND(F.lit(n_slices - 1)).cast("int")
    )
    out_schema = StructType(list(df.schema.fields) + [StructField(out_col, BooleanType(), False)])
    helper_cols = ["__h1", "__h2", "__slice"]
    k_fallback = 7

    def probe(left: pa.Table, right: pa.Table) -> pa.Table:
        h1 = left.column("__h1").to_numpy(zero_copy_only=False)
        h2 = left.column("__h2").to_numpy(zero_copy_only=False)
        maybe = np.zeros(left.num_rows, dtype=bool)
        for r in range(right.num_rows):
            blob = right.column("filter_bytes")[r].as_py()
            k = right.column("k_hashes")[r].as_py() or k_fallback
            m_bits = right.column("m_bits")[r].as_py()
            ns = right.column("n_slices")[r].as_py()
            expected = (int(m_bits) // int(ns)) if (m_bits and ns) else None
            maybe |= _probe_slice_blob(blob, int(k), shift, h1, h2, expected_m_slice=expected)
        return left.drop_columns(helper_cols).append_column(out_col, pa.array(maybe))

    return (
        hashed.groupBy("__slice")
        .cogroup(state.groupBy("partition_id"))
        .applyInArrow(probe, out_schema)
    )


def filter_unseen_split_state(
    frontier: DataFrame,
    state: DataFrame | None,
    seen: DataFrame | None,
    url_col: str = "url_canon",
    pin=None,
    n_slices: int | None = None,
    verify_broadcast_max_rows: int | None = VERIFY_BROADCAST_DEFAULT_ROWS,
) -> tuple[DataFrame, DataFrame]:
    """``(unseen, dup_seen)`` without re-shuffling the frontier: the
    exact unseen set with the slice-routed Bloom prefilter, plus its
    complement, the rows that ARE already seen.

    Probe-positive rows verify against the exact seen table;
    probe-negative rows pass. The complement comes from the probe's own
    intermediates — a LEFT SEMI over only the probable positives (≈ true
    dupes + FP rate, tiny vs the frontier) — never an ``in_window LEFT
    ANTI unseen`` re-shuffle of the whole frontier (VERDICT r3 #3).
    ``state=None`` skips the probe: every row goes to the exact verify,
    as for a state that cannot pay. ``seen=None`` means nothing is seen
    yet. ``pin`` persists the shared probed frame so every branch reads
    one materialization (omitted → an internal persist released with
    the result handles).

    r6 (VERDICT r5 #1): the exact verify is the scan-side broadcast
    flip (:func:`_exact_verify_scan_side`) — the seen table is SCANNED,
    never shuffled; the only movement is two small broadcasts (the
    positives keys out, the matched subset back). And the PROBED frame
    is pinned (not just positives), so the slice-routed cogroup runs
    once per epoch instead of once per consuming branch.

    Cost rule: one ``head(1)`` reads a state row's geometry and blob
    header (and the slice count, when ``n_slices`` is None). A foreign
    header (:func:`_reject_foreign_blob`) fails there, before the row's
    geometry decides anything. An empty state probes nothing positive,
    so every row is unseen. A saturated state (:func:`_probe_cannot_pay`)
    skips the probe: every row is treated as a positive and goes to the
    same exact verify — no slice-routing exchange, no Python stage, the
    same ``(unseen, dup)`` partition (row order aside)."""
    from retailer_scrapers_spark.operators.caching import unpersist_when_collected

    if seen is None:
        return frontier, frontier.limit(0)
    owned: list[DataFrame] = []
    if pin is None:
        pin = _own_pin(owned)
    head = None
    if state is not None:
        head = state.select(
            "n_slices", "n_items", "m_bits", "k_hashes", F.substring("filter_bytes", 1, 4).alias("magic")
        ).head(1)
        if not head:
            # empty state: nothing can probe positive
            return frontier, frontier.limit(0)
        _reject_foreign_blob(head[0].magic)
        if n_slices is None:
            n_slices = head[0].n_slices
    if head is None or _probe_cannot_pay(head[0]):
        unseen, dup = _exact_verify_scan_side(
            pin(frontier), seen, url_col, pin, max_broadcast_rows=verify_broadcast_max_rows
        )
    else:
        probed = pin(probe_filter_state(frontier, state, url_col, n_slices=n_slices))
        negatives = probed.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
        positives = probed.filter(F.col("__maybe_seen")).drop("__maybe_seen")
        verified, dup = _exact_verify_scan_side(
            positives, seen, url_col, pin, max_broadcast_rows=verify_broadcast_max_rows
        )
        unseen = negatives.unionByName(verified)
    if owned:
        unseen = unpersist_when_collected(unseen, *owned)
        dup = unpersist_when_collected(dup, *owned)
    return unseen, dup
