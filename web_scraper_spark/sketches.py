"""Bloom filter over SHA1-hex keys — pure numpy, serializable.

The reference's URL-seen set is one Redis SET behind a global mutex
(redis_helper.c:19,210-262) — O(1) membership but a single-node consistency
bottleneck. The north rule shards it: the *authoritative* seen set is a
partitioned table (operators/seen.py) and one bloom per shard is the O(1)
accelerator consulted before the exact per-shard check: a URL whose bloom
probe misses is certainly unseen and never reaches the shard's seen files.

False positives are harmless: a bloom "maybe" is always verified against
the shard's seen files, so correctness never depends on the sketch (SURVEY.md
§2.4 M1). The same holds for deletes (api.clear_url rewrites seen only): a
deleted key stays in its bloom and costs one verified "maybe".

Keys are SHA1 hex strings; all probe positions are derived from independent
hex slices of the digest itself (sha1 is already uniform), so sketch
contents are deterministic across runs/machines — required for the
byte-identical-resume contract. Bulk ops are vectorized over numpy arrays.

Serialization: a little-endian numpy buffer with a tiny header, stored as
a BinaryType cell in the ``seen_sketch`` checkpoint table.
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
    """Standard k-hash bloom over a bit array."""

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

    def to_bytes(self) -> bytes:
        return self.MAGIC + struct.pack("<QI", self.n_bits, self.k) + self.bits.tobytes()

    @staticmethod
    def from_bytes(data: bytes) -> "Bloom":
        assert data[:4] == Bloom.MAGIC
        n_bits, k = struct.unpack("<QI", data[4:16])
        bits = np.frombuffer(data[16:], dtype=np.uint8).copy()
        return Bloom(n_bits, k, bits)
