"""Cuckoo filter — the deletable membership-filter variant (north_rule
"Bloom/cuckoo"; SURVEY.md §4.2.1 optional second filter class).

Why a crawl engine wants deletion: a URL scheduled for retry (R4) was
optimistically marked seen but must become crawlable again if its fetch
is abandoned; a Bloom filter cannot un-set bits, a cuckoo filter can
delete its fingerprint (Fan et al., "Cuckoo Filter: Practically Better
Than Bloom", CoNEXT 2014 — public algorithm; Vacuum Filters, VLDB 2019
— see PAPERS.md — is the denser successor layout and a candidate swap
behind this same interface).

Layout: ``n_buckets`` buckets × ``bucket_size`` slots of 16-bit
fingerprints (0 = empty). Insert tries bucket i1 = hash(x) and its
partner i2 = i1 XOR hash(fingerprint); on overflow it kicks a random
resident (seeded RNG — deterministic) up to ``max_kicks`` times.

Same engine contract as the Bloom side: build from the JVM-side
xxhash64 columns, serialize/deserialize for checkpointing, vectorized
numpy probe. In the crawl the filter is held as per-slice state rows
(:func:`upsert_cuckoo_state`) and probed by the slice-routed
``operators.bloom.probe_filter_state``. Membership: no false
negatives; fpp ≈ 2·bucket_size/2^16 per stored item at 95% load.
"""

from __future__ import annotations

import struct

import numpy as np

_HEADER = struct.Struct("<QIIQ")  # n_buckets, bucket_size, _pad, n_items
MAGIC = b"CKF1"  # serialization tag so the shared probe path can dispatch


class CuckooFilter:
    def __init__(self, n_buckets: int, bucket_size: int = 4, table: np.ndarray | None = None, n_items: int = 0):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of two"
        self.n_buckets = int(n_buckets)
        self.bucket_size = int(bucket_size)
        self.table = table if table is not None else np.zeros((n_buckets, bucket_size), dtype=np.uint16)
        self.n_items = int(n_items)
        self._rng = np.random.default_rng(42)
        self.max_kicks = 500

    @classmethod
    def for_capacity(cls, n: int, bucket_size: int = 4) -> "CuckooFilter":
        # size for ~95% max load
        need = max(int(n / 0.95 / bucket_size), 1)
        n_buckets = 1 << (need - 1).bit_length()
        return cls(n_buckets, bucket_size)

    # -- hashing ---------------------------------------------------------------
    def _fp(self, h1: np.ndarray) -> np.ndarray:
        """16-bit fingerprint, never 0 (0 marks an empty slot)."""
        fp = (h1.astype(np.uint64) >> np.uint64(48)).astype(np.uint16)
        fp[fp == 0] = 1
        return fp

    def _i1(self, h1: np.ndarray) -> np.ndarray:
        return (h1.astype(np.uint64) & np.uint64(self.n_buckets - 1)).astype(np.int64)

    def _i2(self, i1: np.ndarray, fp: np.ndarray) -> np.ndarray:
        # partner bucket: i XOR hash(fp) (64-bit odd multiplier mix)
        mixed = (fp.astype(np.uint64) * np.uint64(0x5BD1E9955BD1E995)) & np.uint64(self.n_buckets - 1)
        return (i1.astype(np.uint64) ^ mixed).astype(np.int64) & (self.n_buckets - 1)

    # -- single-item ops (build path) --------------------------------------------
    def _insert_one(self, i1: int, fp: int) -> bool:
        i2 = int(self._i2(np.array([i1]), np.array([fp], dtype=np.uint16))[0])
        for b in (i1, i2):
            row = self.table[b]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                row[empty[0]] = fp
                self.n_items += 1
                return True
        # kick loop
        b = i1 if self._rng.integers(2) else i2
        cur = np.uint16(fp)
        for _ in range(self.max_kicks):
            slot = int(self._rng.integers(self.bucket_size))
            cur, self.table[b][slot] = self.table[b][slot], cur
            b = int(self._i2(np.array([b]), np.array([cur]))[0])
            row = self.table[b]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                row[empty[0]] = cur
                self.n_items += 1
                return True
        raise RuntimeError("cuckoo filter over capacity")

    def add_hashes(self, h1: np.ndarray) -> None:
        h1 = np.asarray(h1, dtype=np.int64)
        fps = self._fp(h1)
        i1s = self._i1(h1)
        for i1, fp in zip(i1s.tolist(), fps.tolist()):
            self._insert_one(int(i1), int(fp))

    def contains_hashes(self, h1: np.ndarray, h2: np.ndarray | None = None) -> np.ndarray:
        """``h2`` is unused: the cuckoo derives both candidate buckets
        from h1 + fingerprint."""
        h1 = np.asarray(h1, dtype=np.int64)
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        fp = self._fp(h1)
        i1 = self._i1(h1)
        i2 = self._i2(i1, fp)
        in1 = (self.table[i1] == fp[:, None]).any(axis=1)
        in2 = (self.table[i2] == fp[:, None]).any(axis=1)
        return in1 | in2

    def delete_hashes(self, h1: np.ndarray) -> np.ndarray:
        """Remove one fingerprint copy per item; returns per-item success."""
        h1 = np.asarray(h1, dtype=np.int64)
        fps = self._fp(h1)
        i1s = self._i1(h1)
        i2s = self._i2(i1s, fps)
        out = np.zeros(len(h1), dtype=bool)
        for j in range(len(h1)):
            for b in (int(i1s[j]), int(i2s[j])):
                row = self.table[b]
                hit = np.flatnonzero(row == fps[j])
                if len(hit):
                    row[hit[0]] = 0
                    self.n_items -= 1
                    out[j] = True
                    break
        return out

    # -- serialization -------------------------------------------------------------
    def serialize(self) -> bytes:
        return MAGIC + _HEADER.pack(self.n_buckets, self.bucket_size, 0, self.n_items) + self.table.tobytes()

    @classmethod
    def deserialize(cls, data: bytes) -> "CuckooFilter":
        assert data[:4] == MAGIC, "not a cuckoo filter blob"
        data = data[4:]
        n_buckets, bucket_size, _, n_items = _HEADER.unpack(data[: _HEADER.size])
        table = (
            np.frombuffer(data[_HEADER.size :], dtype=np.uint16, count=n_buckets * bucket_size)
            .reshape(n_buckets, bucket_size)
            .copy()
        )
        return cls(n_buckets, bucket_size, table, n_items)


def upsert_cuckoo_state(
    state,
    df,
    url_col: str = "url_canon",
    capacity: int = 1 << 16,
    n_slices: int | None = None,
):
    """Slice-routed cuckoo build/insert with the filter held as a
    per-slice state DATAFRAME (schemas.SEEN_FILTER_STATE; one ``CKF1``
    blob per slice) — nothing O(|filter|) on the driver (VERDICT r4 #1).
    A key belongs to the slice in its low h1 bits, as in the Bloom state
    (operators/bloom.py), so the same slice-routed
    :func:`~retailer_scrapers_spark.operators.bloom.probe_filter_state`
    reads either kind.

    Cogroup by slice id: delta keys shuffle to their slice (low h1
    bits) and meet ONLY that slice's blob; the Arrow task deserializes
    → inserts (inner hash = h1 >> log2(n_slices)) → re-serializes.
    Slices with no delta keys pass through untouched; slices with keys
    but no prior row are built fresh at ``capacity/n_slices`` (grown to
    the key count). With an EMPTY ``state`` this IS the distributed
    build. State-row columns reuse the shared schema: ``m_bits`` holds
    the slice's slot capacity, ``k_hashes`` its bucket size.

    Overflow raises ``RuntimeError('cuckoo filter over capacity')`` at
    action time (tables cannot grow in place); the caller rebuilds from
    the full seen set at doubled capacity.
    """
    import pyarrow as pa
    from pyspark.sql import functions as F

    from retailer_scrapers_spark.operators.bloom import STATE_DDL, STATE_SCHEMA, _next_pow2, with_url_hashes

    spark = df.sparkSession
    if state is None:
        state = spark.createDataFrame([], STATE_DDL)
    if n_slices is None:
        head = state.select("n_slices").head(1)
        n_slices = head[0][0] if head else _next_pow2(spark.sparkContext.defaultParallelism)
    shift = n_slices.bit_length() - 1
    slice_cap = max(capacity // n_slices, 64)

    # cogroup keys must share one type (see probe_filter_state)
    state = state.withColumn("partition_id", F.col("partition_id").cast("int"))
    keys = with_url_hashes(df, url_col).select(
        "__h1", F.col("__h1").bitwiseAND(F.lit(n_slices - 1)).cast("int").alias("__slice")
    )

    def upd(key, left: pa.Table, right: pa.Table) -> pa.Table:
        (sid,) = key  # arrives as a pyarrow scalar
        sid = sid.as_py() if hasattr(sid, "as_py") else sid
        h1 = left.column("__h1").to_numpy(zero_copy_only=False) if left.num_rows else np.array([], dtype=np.int64)
        if right.num_rows > 1:
            # ADVICE r5: unlike the Bloom probe (which ORs unmerged
            # generations), a cuckoo upsert cannot fold multiple state
            # rows — fingerprints don't retain the key — so silently
            # taking row 0 would DROP the other generations' entries
            # (false negatives downstream). Fail loudly instead.
            raise RuntimeError(
                f"cuckoo upsert: slice {sid} has {right.num_rows} state rows; "
                "cuckoo state must be a single merged generation per slice"
            )
        if right.num_rows:
            cf = CuckooFilter.deserialize(bytes(right.column("filter_bytes")[0].as_py()))
        else:
            cf = CuckooFilter.for_capacity(max(slice_cap, len(h1)))
        if len(h1):
            inner = (h1.astype(np.uint64) >> np.uint64(shift)).view(np.int64)
            cf.add_hashes(inner)
        return pa.Table.from_pydict(
            {
                "partition_id": [int(sid)],
                "filter_bytes": [cf.serialize()],
                "n_items": [cf.n_items],
                "m_bits": [cf.n_buckets * cf.bucket_size],
                "k_hashes": [cf.bucket_size],
                "n_slices": [int(n_slices)],
            },
            schema=STATE_SCHEMA,
        )

    return keys.groupBy("__slice").cogroup(state.groupBy("partition_id")).applyInArrow(upd, STATE_DDL)
