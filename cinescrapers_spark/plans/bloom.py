"""The engine's one Bloom filter: numpy-vectorized, over int64/uint64 keys.

Users: the seen set's per-shard pre-filter (``crawl/seen.py``, stored in
the shard blob) and the per-run pruning sidecars of incremental state
tables (``crawl/snapshots.commit(bloom_col=...)``, read by
``plans/incremental_cc``).

Why not Spark's builtin bloom machinery: the runtime-filter bloom is an
optimizer injection (not addressable), and the JVM ``stat.bloomFilter``
object cannot be probed from executor-side Python without a py4j hop per
value. This one is deterministic across processes (pure integer
splitmix64 mixing, no Python ``hash``) and builds and probes whole numpy
arrays at memory bandwidth.

Sizing: every filter is sized from the keys it holds — ``BITS_PER_KEY``
bits each (1.25 bytes), at least 64 bits, rounded up to whole bytes so
``m == 8 * len(bits)`` and the bit array alone describes the filter.
With ``N_HASHES`` = 7 probes the design false-positive rate is ≈0.82%.

Guarantee: ``contains`` has NO false negatives — a key it rejects is
provably absent, so skipping work on a rejection cannot change a result.
False positives only cost an exact check that turns out negative.
"""

from __future__ import annotations

import numpy as np

BITS_PER_KEY = 10
N_HASHES = 7
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, elementwise over uint64."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _hashes(ids) -> tuple[np.ndarray, np.ndarray]:
    """Double-hashing pair: probe i of a key is ``(h1 + i*h2) mod m``."""
    x = np.asarray(ids, dtype=np.int64).view(np.uint64)
    return _mix(x), _mix(x ^ _GOLDEN) | np.uint64(1)


class IntBloom:
    def __init__(self, bits: np.ndarray):
        self.bits = bits  # uint8, bit j of byte b is position 8*b + j
        self.m = 8 * len(bits)

    @classmethod
    def build(cls, ids) -> "IntBloom":
        h1, h2 = _hashes(ids)
        m = -(-max(64, len(h1) * BITS_PER_KEY) // 8) * 8
        flags = np.zeros(m, dtype=bool)
        for i in range(N_HASHES):
            flags[(h1 + np.uint64(i) * h2) % np.uint64(m)] = True
        return cls(np.packbits(flags, bitorder="little"))

    def contains(self, ids) -> np.ndarray:
        """Per-id bool array: False = definitely absent, True = possibly
        present. Each probe round tests only the ids still in play."""
        h1, h2 = _hashes(ids)
        live = np.arange(len(h1))
        for i in range(N_HASHES):
            if not len(live):
                break
            pos = (h1[live] + np.uint64(i) * h2[live]) % np.uint64(self.m)
            bit = (self.bits[pos >> np.uint64(3)] >> (pos & np.uint64(7))) & 1
            live = live[bit == 1]
        out = np.zeros(len(h1), dtype=bool)
        out[live] = True
        return out

    def save(self, path: str) -> None:
        np.savez_compressed(path, bits=self.bits,
                            m=np.int64(self.m), k=np.int64(N_HASHES))

    @classmethod
    def load(cls, path: str) -> "IntBloom":
        """Raises ValueError for a sidecar of another layout (``m`` not
        the whole bit array, or another probe count): probing it with
        this scheme could give false negatives."""
        z = np.load(path)
        bloom = cls(z["bits"])
        if int(z["m"]) != bloom.m or int(z["k"]) != N_HASHES:
            raise ValueError(f"bloom sidecar {path}: m={int(z['m'])}, "
                             f"k={int(z['k'])} is not this filter's layout")
        return bloom
