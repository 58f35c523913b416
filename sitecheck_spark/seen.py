"""Partitioned Bloom-filter URL-seen set (SURVEY.md §2.4 A1).

The reference keeps an in-memory Python ``set`` of hashed request identities
(SURVEY.md §1.1). At 10^10-URL frontier scale an exact set is the bottleneck,
so the engine keeps a *sharded* probabilistic seen-set:

- shard key: ``pmod(xxhash64(canonical_url), n_shards)`` — the same xxhash64
  Spark computes JVM-side, so Python never re-hashes strings.
- each shard is a Bloom filter (fast membership, zero false negatives).
  The seen set only grows during a crawl, so no deletable filter is kept:
  forgetting urls for a re-crawl (crawl.forget_urls) rebuilds the affected
  shards from the exact seen set instead.
- shards are built/merged/probed inside ``applyInPandas``/cogroup passes over
  numpy bit arrays; they persist as a ``binary`` column in the
  ``seen_shards`` table so a crawl resumes from the last committed wave.

Probe protocol (crawl.py): bloom says "definitely new" for the vast majority
of candidate outlinks — those skip the exact anti-join entirely. Only
bloom-positive candidates (seen ∪ false positives) fall through to an exact
check, which bounds the expensive exact-join to ~(dup rate + fp rate) of
candidates. All operations are numpy-vectorized over int64 hash arrays.
"""

from __future__ import annotations

import math

import numpy as np

_MUL = np.uint64(0x9E3779B97F4A7C15)  # 64-bit golden-ratio mixer


def _as_u64(hashes) -> np.ndarray:
    """int64 (possibly negative, from Spark xxhash64) -> uint64 view."""
    return np.asarray(hashes, dtype=np.int64).astype(np.uint64)


def _mix(h: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):  # uint64 wraparound is the point
        h = (h ^ (h >> np.uint64(33))) * _MUL
        return h ^ (h >> np.uint64(29))


class BloomShard:
    """Vectorized Bloom filter over int64 key hashes.

    Double hashing (Kirsch–Mitzenmacher): bit_i = (h1 + i*h2) mod m.
    """

    HEADER = b"BLM1"

    def __init__(self, n_bits: int, n_hashes: int, bits: np.ndarray | None = None):
        if n_bits % 8:
            raise ValueError("n_bits must be a multiple of 8")
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.bits = (
            bits if bits is not None else np.zeros(n_bits // 8, dtype=np.uint8)
        )

    @classmethod
    def sized_for(cls, n_items: int, fp_rate: float = 0.01) -> "BloomShard":
        n_items = max(n_items, 1)
        m = int(-n_items * math.log(fp_rate) / (math.log(2) ** 2))
        m = max(64, (m + 7) // 8 * 8)
        k = max(1, round(m / n_items * math.log(2)))
        return cls(m, min(k, 16))

    def _bit_positions(self, hashes) -> np.ndarray:
        h = _as_u64(hashes)
        h1 = h % np.uint64(self.n_bits)
        h2 = (_mix(h) | np.uint64(1)) % np.uint64(self.n_bits)
        i = np.arange(self.n_hashes, dtype=np.uint64)[:, None]
        return (h1[None, :] + i * h2[None, :]) % np.uint64(self.n_bits)

    def add(self, hashes) -> None:
        pos = self._bit_positions(hashes).ravel()
        np.bitwise_or.at(self.bits, (pos >> 3).astype(np.int64),
                         np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)))

    def contains(self, hashes) -> np.ndarray:
        pos = self._bit_positions(hashes)  # (k, n)
        byte = self.bits[(pos >> 3).astype(np.int64)]
        bit = np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8))
        return ((byte & bit) != 0).all(axis=0)

    def to_bytes(self) -> bytes:
        head = self.HEADER + self.n_bits.to_bytes(8, "little") + self.n_hashes.to_bytes(2, "little")
        return head + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes) -> "BloomShard":
        if raw[:4] != cls.HEADER:
            raise ValueError("not a BloomShard blob")
        n_bits = int.from_bytes(raw[4:12], "little")
        n_hashes = int.from_bytes(raw[12:14], "little")
        bits = np.frombuffer(raw[14:], dtype=np.uint8).copy()
        return cls(n_bits, n_hashes, bits)

    def merge(self, other: "BloomShard") -> "BloomShard":
        if (self.n_bits, self.n_hashes) != (other.n_bits, other.n_hashes):
            raise ValueError("incompatible bloom shards")
        return BloomShard(self.n_bits, self.n_hashes, self.bits | other.bits)

