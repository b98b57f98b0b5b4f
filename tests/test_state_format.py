"""Golden hashes and state bytes, and the state envelope (no Spark).

Sketch states are persisted (sketch_job checkpoints, bloomctl files) and
merged across executors, so a hash or payload byte that drifts silently
breaks every state written before it. The vectors below were computed
with the SipHash/splitmix64 hashing and payload layouts as first shipped;
the hashing fast paths must reproduce them exactly.
"""

import hashlib
import struct
import zlib

import numpy as np
import pytest

from fever_spark.hashing import double_hash64, hash64
from fever_spark.sketch import BloomFilter, CountMinSketch, HyperLogLog
from fever_spark.sketch.base import (
    FLAG_ZLIB, FLAG_ZSTD, merge_many, payload_of, sketch_from_bytes,
)

NULL_HASH = 2 ** 64 - 1


def golden_inputs():
    """n < 1024, repetitive n >= 1024, unique n >= 1024, int and float."""
    return {
        "str_small": np.array([f"s{(i * 37) % 101}-ключ" for i in range(300)],
                              dtype=object),
        "str_repetitive": np.array(
            [f"host{(i * 7919) % 211}.example" for i in range(5000)],
            dtype=object),
        "str_unique": np.array(
            [f"https://p{i}.example/{i * 31}" for i in range(3000)],
            dtype=object),
        "int64": np.arange(-500, 1500, dtype=np.int64) * 1000003,
        "float64": np.linspace(-1e6, 1e6, 2001),
    }


def digest(*arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()[:32]


GOLDEN_HASH64 = {
    "str_small/0": "bf67aff94157f1b182b23687a180b119",
    "str_small/7": "914466b28511244cd84633466b1bcff3",
    "str_small/-3": "526de26bd8dcd3596793512e7092e9eb",
    "str_repetitive/0": "2794759d833e02c80f520c8b10f15c13",
    "str_repetitive/7": "e984b0e4649a1e39ef3c04d1c8667d47",
    "str_repetitive/-3": "419c34d4238687c95b68c94e71a08b17",
    "str_unique/0": "6ad992ccc21545ce7743ea5459e7178c",
    "str_unique/7": "6542839d924a49a95269df3c9bd04b2a",
    "str_unique/-3": "2857e182626cf4b3065010e4e52cc910",
    "int64/0": "dba71e74be8aed48e17ab9786787628b",
    "int64/7": "532f0b2a5257f257e51230c6178d0944",
    "int64/-3": "4b9a2a7ef3e83da365bc340866005684",
    "float64/0": "478a6ce14e8fa3c07cca3fc3a7246dcb",
    "float64/7": "a9afc4cdc50cc25e1849bb5d089aaaaf",
    "float64/-3": "ad43480b75b978a557bd9595425b31d1",
}

GOLDEN_DOUBLE_HASH64 = {
    "str_small/0": "dce696d1a92a154b2986ec8e9b20e39d",
    "str_small/7": "74ccc7b860b9ad7f0041a5b539013218",
    "str_small/-3": "ab32382b09315bb7f028537aaf3d2cf4",
    "str_repetitive/0": "238edeaa24fd4520aa12d9819e2888e9",
    "str_repetitive/7": "eadaa48cd32d6ea8bfa39912cdaefc7b",
    "str_repetitive/-3": "5ab03f8217d089835ea1bf486fb0485b",
    "str_unique/0": "04fdbc3be1320cda24f29fccb898ef97",
    "str_unique/7": "a70fe05b5eca0a411fe38e629f525513",
    "str_unique/-3": "65a6078e8d21f5b9d995a151ae27194e",
    "int64/0": "19583c33103e995dd14467e244c87d52",
    "int64/7": "1101a637fda4328ae50ceb378a39e762",
    "int64/-3": "547dd8886396a448a1b7b706d25d0562",
    "float64/0": "53b3e36d7a842dd5a0a4bba6d6f0859d",
    "float64/7": "deb6eb6bbd1173f14dbf69e1aa53a6ae",
    "float64/-3": "c3225103b65f0b2d7bcfbce75bec9733",
}

GOLDEN_HEAD = {  # first three hash64(seed=0) values, readable on failure
    "str_small": [13722557308273912902, 12774232746134172244,
                  6109960459847416565],
    "str_repetitive": [4047727881379293525, 7744797018095438815,
                       16013106329859597034],
    "str_unique": [8623808981397603655, 12754756315230261016,
                   13005824104788178070],
    "int64": [6449340422990390480, 10503800365932002044,
              12978718009976025009],
    "float64": [18269171218948330273, 2885430685894136208,
                268058272165447714],
}

GOLDEN_STATES = {
    "bloom_positions": "86e7f18e5abfb7bc5d8c96bfe0bb175e",
    "bloom_payload": "021f177f1282f665a0e4c7da2a73508b",
    "bloom_merged_payload": "5987a4db11f96ce0bfbfd9c3b03f2116",
    "hll_payload": "407d2e5afee0b77c0cf9306008503585",
    "hll_merged_payload": "11e9a530fa37b37537dd1c6ccac14f28",
    "cms_payload": "337a4ab4c49f766f8252b4331e2affc4",
    "cms_merged_payload": "dfb4493f7ed9dea1979b93b5fdc68810",
}


@pytest.mark.parametrize("name", sorted(golden_inputs()))
@pytest.mark.parametrize("seed", [0, 7, -3])
def test_golden_hashes(name, seed):
    v = golden_inputs()[name]
    assert digest(hash64(v, seed=seed)) == GOLDEN_HASH64[f"{name}/{seed}"]
    h1, h2 = double_hash64(v, seed=seed)
    assert digest(h1, h2) == GOLDEN_DOUBLE_HASH64[f"{name}/{seed}"]
    if seed == 0:
        assert [int(x) for x in hash64(v)[:3]] == GOLDEN_HEAD[name]


def partials():
    """Two Bloom/HLL/CMS partials each over fixed string inputs."""
    v = golden_inputs()
    out = []
    for lo, hi in ((0, 2000), (2000, 5000)):
        b = BloomFilter(capacity=8000, fpp=1e-4, seed=5)
        b.update(v["str_unique"][lo // 2:hi // 2 + 500])
        h = HyperLogLog(p=12, seed=3)
        h.update(v["str_unique"][lo // 2:hi // 2 + 500])
        c = CountMinSketch(epsilon=0.01, delta=0.01, seed=9)
        c.update(v["str_repetitive"][lo:hi])
        out.append({"bloom": b, "hll": h, "cms": c})
    return out


def test_golden_bloom_positions():
    bf = BloomFilter(capacity=8000, fpp=1e-4, seed=5)
    got = digest(bf._positions(golden_inputs()["str_unique"]))
    assert got == GOLDEN_STATES["bloom_positions"]


@pytest.mark.parametrize("kind", ["bloom", "hll", "cms"])
def test_golden_payloads_and_merge(kind):
    a, b = (p[kind] for p in partials())
    sha = lambda buf: hashlib.sha256(buf).hexdigest()[:32]  # noqa: E731
    assert sha(a._payload_bytes()) == GOLDEN_STATES[f"{kind}_payload"]
    merged = merge_many([a.to_bytes(), b.to_bytes()])
    assert sha(merged._payload_bytes()) == GOLDEN_STATES[f"{kind}_merged_payload"]


# ------------------------------------------------------------------ nulls

@pytest.mark.parametrize("n,distinct", [(100, 10), (5000, 10), (5000, 5000)],
                         ids=["small", "repetitive", "unique"])
def test_null_hashes_to_one_value_on_every_branch(n, distinct):
    vals = np.array([f"v{i % distinct}" for i in range(n)], dtype=object)
    vals[::7] = None
    vals[3::7] = np.nan
    h = hash64(vals)
    assert (h[::7] == NULL_HASH).all() and (h[3::7] == NULL_HASH).all()
    assert hash64(np.array([None], dtype=object))[0] == NULL_HASH
    h1, h2 = double_hash64(vals, seed=11)
    assert (h1[::7] == NULL_HASH).all() and (h2[::7] == NULL_HASH).all()
    # non-null values hash as they do without the nulls around them
    keep = np.ones(n, dtype=bool)
    keep[::7] = keep[3::7] = False
    assert (h[keep] == hash64(vals[keep])).all()


def test_all_null_and_empty_object_arrays():
    assert (hash64(np.array([None] * 3000, dtype=object)) == NULL_HASH).all()
    assert len(hash64(np.array([], dtype=object))) == 0


# --------------------------------------------------------------- envelope

def zlib_state(sk) -> bytes:
    """A state as earlier builds wrote it: zlib-1 payload, flag bit 0."""
    return (struct.pack("<4sBBH", b"FVSK", 1, sk.KIND, FLAG_ZLIB)
            + zlib.compress(sk._payload_bytes(), 1))


def test_large_states_are_zstd_and_round_trip():
    sk = partials()[0]["hll"]  # 4 KB of registers, mostly zero
    data = sk.to_bytes()
    (flags,) = struct.unpack_from("<H", data, 6)
    assert flags == FLAG_ZSTD
    assert bytes(payload_of(data)) == sk._payload_bytes()
    assert sketch_from_bytes(data)._payload_bytes() == sk._payload_bytes()


@pytest.mark.parametrize("kind", ["bloom", "hll", "cms"])
def test_zlib_states_still_decode_and_merge(kind):
    a, b = (p[kind] for p in partials())
    old = zlib_state(a)
    assert struct.unpack_from("<H", old, 6)[0] == FLAG_ZLIB
    assert sketch_from_bytes(old)._payload_bytes() == a._payload_bytes()
    mixed = merge_many([old, b.to_bytes()])
    fresh = merge_many([a.to_bytes(), b.to_bytes()])
    assert mixed._payload_bytes() == fresh._payload_bytes()


def _forge(data: bytes, offset: int, fmt: str, value: int) -> bytes:
    out = bytearray(data)
    struct.pack_into(fmt, out, offset, value)
    return bytes(out)


@pytest.mark.parametrize("forge", [
    lambda d: _forge(d, 4, "<B", 2),                      # future version
    lambda d: _forge(d, 6, "<H", struct.unpack_from("<H", d, 6)[0] | 0x10),
    lambda d: _forge(d, 6, "<H", FLAG_ZLIB | FLAG_ZSTD),
], ids=["version", "unknown_flag_bit", "both_codecs"])
def test_unknown_envelopes_fail_loudly(forge):
    good = partials()[0]["bloom"].to_bytes()
    bad = forge(good)
    with pytest.raises(ValueError, match="unsupported sketch"):
        sketch_from_bytes(bad)
    with pytest.raises(ValueError, match="unsupported sketch"):
        payload_of(bad)
    for states in ([bad, good], [good, bad]):
        with pytest.raises(ValueError, match="unsupported sketch"):
            merge_many(states)


def _damage(data: bytes, offset: int) -> bytes:
    out = bytearray(data)
    out[offset] ^= 0xFF
    return bytes(out)


@pytest.mark.parametrize("forge", [
    lambda d: _forge(d, 8, "<Q", 2 ** 64 - 1),           # forged raw length
    lambda d: _forge(d, 8, "<Q", struct.unpack_from("<Q", d, 8)[0] + 1),
    lambda d: _forge(d, 16, "<I", struct.unpack_from("<I", d, 16)[0] ^ 1),
    lambda d: _damage(d, 20),                             # zstd frame magic
    lambda d: _damage(d, len(d) // 2),                    # frame body
], ids=["huge_length", "wrong_length", "checksum", "frame_magic", "body"])
def test_damaged_zstd_states_fail_loudly(forge):
    good = partials()[0]["bloom"].to_bytes()
    assert struct.unpack_from("<H", good, 6)[0] == FLAG_ZSTD
    bad = forge(good)
    with pytest.raises(ValueError, match="corrupt sketch state"):
        sketch_from_bytes(bad)
    with pytest.raises(ValueError, match="corrupt sketch state"):
        merge_many([good, bad])


def test_damaged_zlib_state_fails_loudly():
    old = zlib_state(partials()[0]["bloom"])
    with pytest.raises(ValueError, match="corrupt sketch state"):
        sketch_from_bytes(_damage(old, len(old) - 2))  # adler32 trailer
