"""Bloom and cuckoo filters over SHA1-hex keys — pure numpy, serializable.

The reference's URL-seen set is one Redis SET behind a global mutex
(redis_helper.c:19,210-262) — O(1) membership but a single-node consistency
bottleneck. The north rule shards it: the *authoritative* seen set is a
partitioned table (operators/seen.py) and these per-shard sketches are the
O(1) accelerator consulted before the exact per-shard check:

- bloom: definite-negative short-circuit (a URL whose bloom probe misses is
  certainly unseen → never reaches the shard's seen files);
- cuckoo: supports *deletion*, which bloom cannot — needed for the
  force_rescrape / cache_clear_url path (reference cache.c:300-320,
  url_processor.c:47-53) without rebuilding the sketch.

False positives are harmless: a bloom "maybe" is always verified against
the shard's seen files, so correctness never depends on the sketch (SURVEY.md
§2.4 M1).

Keys are SHA1 hex strings; all probe positions are derived from independent
hex slices of the digest itself (sha1 is already uniform), so sketch
contents are deterministic across runs/machines — required for the
byte-identical-resume contract. Bulk ops are vectorized over numpy arrays.

Serialization: little-endian numpy buffers with tiny headers, stored as
BinaryType cells in the ``seen_sketch`` checkpoint table.
"""

from __future__ import annotations

import math
import struct

import numpy as np

# --------------------------------------------------------------------------
# key → probe integers (vectorized over hex digests)
# --------------------------------------------------------------------------


def _hex_slice_u64(keys: np.ndarray, start: int, width: int = 15) -> np.ndarray:
    """uint64 from a hex substring of each sha1 (15 hex chars < 2^60)."""
    # numpy has no vectorized base-16 parse for str arrays; go through python
    # ints once per batch — this is driver/UDF-side code over Arrow batches.
    return np.array([int(k[start : start + width], 16) for k in keys], dtype=np.uint64)


# --------------------------------------------------------------------------
# Bloom
# --------------------------------------------------------------------------


class Bloom:
    """Standard k-hash bloom over a bit array; OR-mergeable."""

    MAGIC = b"BLM1"

    def __init__(self, n_bits: int, k: int, bits: np.ndarray | None = None):
        self.n_bits = n_bits
        self.k = k
        self.bits = bits if bits is not None else np.zeros((n_bits + 7) // 8, dtype=np.uint8)

    @staticmethod
    def for_capacity(n: int, fpp: float = 0.01) -> "Bloom":
        n = max(n, 64)
        n_bits = int(-n * math.log(fpp) / (math.log(2) ** 2))
        n_bits = max(512, (n_bits + 63) // 64 * 64)
        k = max(1, round(n_bits / n * math.log(2)))
        return Bloom(n_bits, min(k, 8))

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        """(len(keys), k) bit positions via double hashing h1 + i*h2."""
        h1 = _hex_slice_u64(keys, 0)
        h2 = _hex_slice_u64(keys, 15) | np.uint64(1)
        i = np.arange(self.k, dtype=np.uint64)[None, :]
        return ((h1[:, None] + i * h2[:, None]) % np.uint64(self.n_bits)).astype(np.int64)

    def add_many(self, keys) -> None:
        keys = np.asarray(keys, dtype=object)
        if len(keys) == 0:
            return
        pos = self._positions(keys).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))

    def contains_many(self, keys) -> np.ndarray:
        keys = np.asarray(keys, dtype=object)
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)
        probes = (self.bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        return probes.all(axis=1)

    def merge(self, other: "Bloom") -> "Bloom":
        assert self.n_bits == other.n_bits and self.k == other.k
        return Bloom(self.n_bits, self.k, self.bits | other.bits)

    def to_bytes(self) -> bytes:
        return self.MAGIC + struct.pack("<QI", self.n_bits, self.k) + self.bits.tobytes()

    @staticmethod
    def from_bytes(data: bytes) -> "Bloom":
        assert data[:4] == Bloom.MAGIC
        n_bits, k = struct.unpack("<QI", data[4:16])
        bits = np.frombuffer(data[16:], dtype=np.uint8).copy()
        return Bloom(n_bits, k, bits)


# --------------------------------------------------------------------------
# Cuckoo
# --------------------------------------------------------------------------


class Cuckoo:
    """Cuckoo filter: 4-slot buckets, 16-bit fingerprints, deletable.

    Partial-key cuckoo hashing (Fan et al., CoNEXT'14): alternate bucket =
    bucket XOR hash(fingerprint). 0 is reserved for "empty"; fingerprints
    are mapped into [1, 0xFFFF].
    """

    MAGIC = b"CKF1"
    SLOTS = 4
    MAX_KICKS = 250

    def __init__(self, n_buckets: int, table: np.ndarray | None = None, count: int = 0):
        # power-of-two bucket count → XOR stays in range
        self.n_buckets = n_buckets
        self.table = (
            table if table is not None else np.zeros((n_buckets, self.SLOTS), dtype=np.uint16)
        )
        self.count = count

    @staticmethod
    def for_capacity(n: int) -> "Cuckoo":
        need = max(64, int(n / (0.84 * Cuckoo.SLOTS)))
        n_buckets = 1 << max(4, (need - 1).bit_length())
        return Cuckoo(n_buckets)

    def _fp_and_buckets(self, keys: np.ndarray):
        fp = (_hex_slice_u64(keys, 30, 8) % np.uint64(0xFFFF)).astype(np.uint16) + np.uint16(1)
        b1 = (_hex_slice_u64(keys, 0) % np.uint64(self.n_buckets)).astype(np.int64)
        b2 = b1 ^ self._alt_offset(fp)
        return fp, b1, b2

    def _alt_offset(self, fp: np.ndarray) -> np.ndarray:
        # fingerprint-derived offset (splitmix-ish), masked to bucket range
        x = fp.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        return (x % np.uint64(self.n_buckets)).astype(np.int64) | 0  # may be 0 → b2==b1, fine

    def _insert_one(self, fp: int, b1: int, b2: int, rng_state: int) -> bool:
        for b in (b1, b2):
            row = self.table[b]
            empty = np.where(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                self.count += 1
                return True
        # kick loop (deterministic: slot chosen from a seeded LCG). The
        # displacement chain is recorded so a MAX_KICKS failure can be
        # ROLLED BACK: without the rollback the final homeless victim — a
        # previously ACKNOWLEDGED key — would be silently evicted, a false
        # negative ('seen url reads unseen') that violates the module
        # contract; with it, failure leaves the table byte-identical and
        # only the NEW key is rejected (caller falls back to exact join).
        b = b1
        state = (rng_state ^ fp) & 0xFFFFFFFF
        cur = fp
        chain: list[tuple[int, int]] = []
        for _ in range(self.MAX_KICKS):
            state = (state * 1103515245 + 12345) & 0xFFFFFFFF
            slot = state % self.SLOTS
            chain.append((b, slot))
            cur, self.table[b][slot] = int(self.table[b][slot]), cur
            b = b ^ int(self._alt_offset(np.array([cur], dtype=np.uint16))[0])
            row = self.table[b]
            empty = np.where(row == 0)[0]
            if len(empty):
                row[empty[0]] = cur
                self.count += 1
                return True
        # undo the chain in reverse (the same swap restores each slot)
        for rb, rslot in reversed(chain):
            cur, self.table[rb][rslot] = int(self.table[rb][rslot]), cur
        return False  # table full — caller falls back to exact join only

    def add_many(self, keys) -> int:
        """Insert keys; returns number successfully inserted."""
        keys = np.asarray(keys, dtype=object)
        if len(keys) == 0:
            return 0
        fp, b1, b2 = self._fp_and_buckets(keys)
        ok = 0
        for i in range(len(keys)):
            if self._insert_one(int(fp[i]), int(b1[i]), int(b2[i]), i):
                ok += 1
        return ok

    def contains_many(self, keys) -> np.ndarray:
        keys = np.asarray(keys, dtype=object)
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        fp, b1, b2 = self._fp_and_buckets(keys)
        in1 = (self.table[b1] == fp[:, None]).any(axis=1)
        in2 = (self.table[b2] == fp[:, None]).any(axis=1)
        return in1 | in2

    def delete_many(self, keys) -> int:
        """Remove one matching fingerprint per key; returns removals."""
        keys = np.asarray(keys, dtype=object)
        if len(keys) == 0:
            return 0
        fp, b1, b2 = self._fp_and_buckets(keys)
        removed = 0
        for i in range(len(keys)):
            for b in (int(b1[i]), int(b2[i])):
                row = self.table[b]
                hit = np.where(row == fp[i])[0]
                if len(hit):
                    row[hit[0]] = 0
                    self.count -= 1
                    removed += 1
                    break
        return removed

    def to_bytes(self) -> bytes:
        return (
            self.MAGIC
            + struct.pack("<QQ", self.n_buckets, self.count)
            + self.table.tobytes()
        )

    @staticmethod
    def from_bytes(data: bytes) -> "Cuckoo":
        assert data[:4] == Cuckoo.MAGIC
        n_buckets, count = struct.unpack("<QQ", data[4:20])
        table = (
            np.frombuffer(data[20:], dtype=np.uint16)
            .copy()
            .reshape(n_buckets, Cuckoo.SLOTS)
        )
        return Cuckoo(n_buckets, table, count)
