"""Sketch ABC + binary envelope.

Envelope layout (all little-endian):

    offset  size  field
    0       4     magic  b"FVSK"
    4       1     format version (1)
    5       1     sketch kind (see KIND constants)
    6       2     flags (bit 0: zlib payload, read-only; bit 1: zstd payload)
    8       ...   kind-specific params + payload; a zstd payload is preceded
                  by its raw length (uint64), which the decoder needs, and
                  the CRC-32 of the raw payload (uint32)

The fixed magic/version/kind header follows the style of the reference's
binary flow records (/root/reference/types/flow_event.go:93-99), which lead
with a format byte so readers can reject unknown versions. Unknown versions
and unknown flag bits are rejected, never decoded as garbage; so are
damaged payloads. Arrow writes zstd frames without a checksum, so the
envelope carries a CRC-32 of the raw payload (zlib's stream held an
adler32). It costs ~50 us on a 180 KB Bloom partial, against ~0.9 ms to
compress it and ~0.27 ms to decompress it. A raw length above zstd's
largest possible ratio is rejected before anything is allocated.

Compression matters at scale: a partition-local CMS partial covering a few
thousand rows is a ~1.5 MB table of mostly zeros; with P partitions and G
groups, the merge shuffle moves P×G of them. States are written with zstd
level 1 (pyarrow's bundled codec), applied only when it wins. zlib-flagged
states, which earlier builds wrote, still decode; builds that predate zstd
cannot read states written now.

Measured and rejected (single core of a 4-core VM, 180 KB Bloom, 190 KB
CMS and 16 KB HLL partials):
- zlib level 1, the earlier writer: 2.4-30x slower than zstd-1 (4.2 vs
  1.05 ms on a 10%-full Bloom, 6.8 vs 0.26 ms on a full one, whose output
  the 3/4 rule then discards) and larger output on every payload;
- lz4: 0.62 vs 1.05 ms per sparse partial Bloom, but 98 KB vs 61 KB on
  the wire (99 vs 49 KB on the CMS partial);
- no compression: 3-4x the bytes of each of those partials on the wire.
"""

from __future__ import annotations

import struct
import zlib
from abc import ABC, abstractmethod

import pyarrow as pa

MAGIC = b"FVSK"
VERSION = 1

FLAG_ZLIB = 1  # read-only: no longer written
FLAG_ZSTD = 2
_COMPRESS_MIN = 4096  # don't bother below this payload size

_HEAD = struct.Struct("<4sBBH")
_ZSTD_HEAD = struct.Struct("<QI")  # raw length, CRC-32 of the raw payload
_ZSTD = pa.Codec("zstd", compression_level=1)
# zstd cannot beat this ratio: every block of at most 128 KiB of output
# takes at least 4 bytes of frame (an RLE block).
_ZSTD_MAX_RATIO = 32768

KIND_BLOOM = 1
KIND_HLL = 2
KIND_CMS = 3
KIND_KLL = 4
KIND_TDIGEST = 5

SKETCH_REGISTRY: dict[int, type] = {}
NAME_REGISTRY: dict[str, type] = {}

_MASK64 = (1 << 64) - 1


def canonical_seed(seed: int) -> int:
    """Wrap an arbitrary Python int seed to the signed 64-bit range —
    the same 2's-complement wrap hashing.hash64 applies to integer inputs.
    Sketches canonicalize their seed ONCE at construction so (a) the seed
    survives serde exactly (headers store it as little-endian int64) and
    (b) derived seeds like ``seed + 0x9E3779B9`` that overflow 64 bits
    can't raise struct.error inside an executor at to_bytes time."""
    s = int(seed) & _MASK64
    return s - (1 << 64) if s >= (1 << 63) else s


def register(kind: int, name: str):
    def deco(cls):
        cls.KIND = kind
        cls.NAME = name
        SKETCH_REGISTRY[kind] = cls
        NAME_REGISTRY[name] = cls
        return cls

    return deco


class Sketch(ABC):
    KIND: int = 0
    NAME: str = ""

    @abstractmethod
    def update(self, values) -> None:
        """Bulk update from a 1-D numpy array (vectorized; no per-row Python)."""

    @abstractmethod
    def merge(self, other: "Sketch") -> "Sketch":
        """In-place associative+commutative merge; returns self."""

    @abstractmethod
    def _payload_bytes(self) -> bytes: ...

    def max_state_bytes(self) -> int:
        """Upper bound on the IN-MEMORY footprint this sketch can reach when
        saturated — what a task-memory budget must provision per group
        (ops/build.py derives its group cap from this). The default — the
        current payload size — is exact for dense fixed-size states
        (Bloom/HLL/CMS allocate their full table at construction); sketches
        whose state GROWS with input (KMV's stored values, KLL's levels,
        t-digest's buffers) override with a saturated-state estimate."""
        return max(1, len(self._payload_bytes()))

    @classmethod
    @abstractmethod
    def _from_payload(cls, buf: memoryview) -> "Sketch": ...

    def to_bytes(self) -> bytes:
        payload = self._payload_bytes()
        if len(payload) >= _COMPRESS_MIN:
            packed = _ZSTD.compress(payload, asbytes=True)
            if len(packed) < len(payload) * 3 // 4:
                return (_HEAD.pack(MAGIC, VERSION, self.KIND, FLAG_ZSTD)
                        + _ZSTD_HEAD.pack(len(payload), zlib.crc32(payload))
                        + packed)
        return _HEAD.pack(MAGIC, VERSION, self.KIND, 0) + payload

    @classmethod
    def from_bytes(cls, data: bytes) -> "Sketch":
        sk = sketch_from_bytes(data)
        if not isinstance(sk, cls):
            raise TypeError(f"expected {cls.__name__}, payload is {type(sk).__name__}")
        return sk


def _sketch_class(data) -> tuple[type, int]:
    """Validate a state's header → (sketch class, flags)."""
    magic, version, kind, flags = _HEAD.unpack_from(data, 0)
    if magic != MAGIC:
        raise ValueError(f"bad sketch magic {magic!r}")
    if version != VERSION:
        raise ValueError(f"unsupported sketch version {version}")
    if flags not in (0, FLAG_ZLIB, FLAG_ZSTD):
        raise ValueError(f"unsupported sketch flags {flags:#06x}")
    try:
        return SKETCH_REGISTRY[kind], flags
    except KeyError:
        raise ValueError(f"unknown sketch kind {kind}") from None


def _decode(data) -> tuple[type, memoryview]:
    klass, flags = _sketch_class(data)
    payload = memoryview(data)[_HEAD.size:]
    if flags == FLAG_ZSTD:
        n, crc = _ZSTD_HEAD.unpack_from(payload, 0)
        packed = payload[_ZSTD_HEAD.size:]
        if n > _ZSTD_MAX_RATIO * len(packed):
            raise ValueError(f"corrupt sketch state: raw length {n} for "
                             f"{len(packed)} compressed bytes")
        try:
            payload = _ZSTD.decompress(packed, decompressed_size=n)
        except OSError as e:
            raise ValueError(f"corrupt sketch state: {e}") from None
        if zlib.crc32(payload) != crc:
            raise ValueError("corrupt sketch state: checksum mismatch")
        payload = memoryview(payload)
    elif flags == FLAG_ZLIB:
        try:
            payload = memoryview(zlib.decompress(payload))
        except zlib.error as e:
            raise ValueError(f"corrupt sketch state: {e}") from None
    return klass, payload


def payload_of(data: bytes) -> memoryview:
    """Raw (decompressed) payload of a serialized state — used by the
    vectorized _merge_many fast paths."""
    return _decode(data)[1]


def merge_many(states: list[bytes]) -> Sketch:
    """Merge serialized states efficiently. Dispatches on the first header's
    kind to the sketch class's ``_merge_many`` fast path when it has one
    (Bloom/HLL/CMS reduce over zero-copy buffer views — the hot path of the
    shuffle-merge stage), else falls back to pairwise deserialize+merge."""
    klass, _ = _sketch_class(states[0])
    fast = getattr(klass, "_merge_many", None)
    if fast is None or len(states) == 1:
        first = sketch_from_bytes(states[0])
        for b in states[1:]:
            first.merge(sketch_from_bytes(b))
        return first
    return fast(states)


def sketch_from_bytes(data: bytes) -> Sketch:
    klass, payload = _decode(data)
    return klass._from_payload(payload)
