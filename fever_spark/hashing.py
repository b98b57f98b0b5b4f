"""Deterministic, vectorized 64-bit hashing shared by every sketch.

Requirements (SURVEY.md §7.4): hashes must be identical across executors,
runs, and Python processes — so no builtin ``hash()`` (PYTHONHASHSEED) and no
per-row Python loops. We use pandas' C-implemented SipHash-1-3
(``pandas.util.hash_array``) with seed-derived 16-byte keys. Object arrays
are factorized ONCE per call and only the distinct values are hashed, for
every seed the call needs (``double_hash64`` shares the codes across h1 and
h2). A null (None, NaN, NaT, pd.NA) hashes to ``2^64 - 1`` — pandas'
categorical null value — whatever the batch size or repetitiveness.

Measured and rejected:
- letting ``hash_array(categorize=True)`` factorize per seed, behind a
  module-level factorize for repetitive batches: up to four factorize
  passes per Bloom insert. Sharing one factorize took the perfbench
  kernel timings on a 4-core VM from 1.63 to 1.06 us per Bloom insert and
  from 1.52 to 0.89 us per probe (100k URLs);
- encoding each value to bytes in Python before hashing: per-row Python,
  which this module exists to avoid.

Multiple independent hash functions are derived with Kirsch-Mitzenmacher
double hashing: ``g_i(x) = h1(x) + i * h2(x) (mod 2^64)`` — two SipHash
passes regardless of how many probe functions a sketch needs (the same
trick the reference's Bloom library uses; behavior reference
/root/reference/processing/bloom_handler.go:165-291 needs k probes).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pandas.util import hash_array

__all__ = ["hash64", "double_hash64", "splitmix64"]

# pandas' hash of a categorical null; every object-array null hashes to it
_NULL_HASH = np.uint64(0xFFFFFFFFFFFFFFFF)


def _key_for_seed(seed: int) -> str:
    """16-character ASCII SipHash key derived deterministically from seed."""
    return hashlib.blake2b(str(seed).encode(), digest_size=8).hexdigest()


_KEY_CACHE: dict[int, str] = {}


_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)


def _splitmix64_vec(x: np.ndarray, seed: int) -> np.ndarray:
    """Vectorized splitmix64 finalizer with seed mixing — the integer hash
    path. pandas' hash_array IGNORES hash_key for numeric dtypes, which
    would make h1 == h2 and collapse Kirsch-Mitzenmacher double hashing
    into correlated probes (observed as ~50x Bloom FPR inflation)."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) + (np.uint64(seed & 0xFFFFFFFFFFFFFFFF)
                                   * _GOLDEN + _GOLDEN)
        z = (z ^ (z >> np.uint64(30))) * _MIX1
        z = (z ^ (z >> np.uint64(27))) * _MIX2
        return z ^ (z >> np.uint64(31))


def _key(seed: int) -> str:
    key = _KEY_CACHE.get(seed)
    if key is None:
        key = _KEY_CACHE[seed] = _key_for_seed(seed)
    return key


def _hash_codes(codes: np.ndarray, uniques: np.ndarray, seed: int) -> np.ndarray:
    """Hash the distinct values once, then gather by code. The null slot is
    appended last, so code -1 picks it up in the same gather."""
    uh = hash_array(uniques, hash_key=_key(seed), categorize=False)
    return np.append(uh, _NULL_HASH)[codes]


def _hash_many(values, seeds: tuple[int, ...]) -> list[np.ndarray]:
    arr = np.asarray(values)
    if arr.dtype.kind in ("U", "S"):
        arr = arr.astype(object)
    if arr.dtype.kind in ("i", "u"):
        # astype wraps negatives 2's-complement
        return [_splitmix64_vec(arr, s) for s in seeds]
    if arr.dtype.kind == "f":
        bits = np.ascontiguousarray(arr, dtype=np.float64).view(np.uint64)
        return [_splitmix64_vec(bits, s) for s in seeds]
    if arr.dtype == object:
        codes, uniques = pd.factorize(arr)
        uniques = np.asarray(uniques, dtype=object)
        return [_hash_codes(codes, uniques, s) for s in seeds]
    return [hash_array(arr, hash_key=_key(s)) for s in seeds]


def hash64(values, seed: int = 0) -> np.ndarray:
    """Hash a 1-D array-like to uint64, deterministically.

    Strings are hashed over their UTF-8 bytes via seeded SipHash. Integer
    and float arrays use a seeded splitmix64 finalizer (vectorized numpy;
    see _splitmix64_vec for why not hash_array). Object arrays are
    factorized first so each distinct value is hashed once; nulls map to
    ``2^64 - 1``.
    """
    return _hash_many(values, (seed,))[0]


def double_hash64(values, seed: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Two independent uint64 hash arrays (for K-M double hashing), from
    one factorize of an object array.

    h2 is forced odd so that ``h1 + i*h2 mod 2^j`` cycles all residues.
    """
    h1, h2 = _hash_many(values, (seed, seed + 0x9E3779B9))
    return h1, h2 | np.uint64(1)


def splitmix64(state: int) -> tuple[int, int]:
    """One step of splitmix64; returns (new_state, output).

    Used as the deterministic coin-flip source for KLL compaction so that a
    fixed merge order produces byte-identical states (SURVEY.md §7.4.1).
    """
    state = (state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = state
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    z = z ^ (z >> 31)
    return state, z
