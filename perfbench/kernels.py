"""Sketch-kernel layer timings with no Spark in the path: ``update``,
``merge``, ``to_bytes``/``from_bytes`` and Bloom ``contains`` on fixed
seeded arrays, in the runner process."""

from __future__ import annotations

import statistics
import time

import numpy as np

from fever_spark.sketch import (BloomFilter, CountMinSketch, HyperLogLog,
                                KLLSketch, TDigest)

N = 100_000
REPS = 5


def _kernels():
    return {
        "hll": lambda: HyperLogLog(p=14),
        "cms": lambda: CountMinSketch(epsilon=1e-3, delta=1e-3),
        "kll": lambda: KLLSketch(k=200),
        "tdigest": lambda: TDigest(delta=200.0),
        "bloom": lambda: BloomFilter(capacity=2 * N, fpp=1e-3),
    }


def _median_time(fn, reps: int = REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_metrics(seed: int) -> tuple[dict[str, float], list[str]]:
    """→ (metrics, failures). A failure is a serde round trip that does
    not reproduce the state bytes, or a Bloom false negative."""
    rng = np.random.default_rng(seed)
    ints = rng.integers(0, 1 << 62, size=N, dtype=np.int64)
    floats = rng.lognormal(6.0, 1.2, size=N)
    strings = np.array([f"https://h{i % 977}.example.org/p/{i}" for i in
                        rng.integers(0, 1 << 40, size=N)], dtype=object)
    inputs = {"hll": ints, "cms": ints, "kll": floats, "tdigest": floats,
              "bloom": strings}
    out, failures = {}, []
    for kind, make in _kernels().items():
        data = inputs[kind]
        half = len(data) // 2
        out[f"sketch.{kind}.update_ns"] = (
            _median_time(lambda: make().update(data)) / len(data) * 1e9)
        a, b = make(), make()
        a.update(data[:half])
        b.update(data[half:])
        pairs = [(type(a).from_bytes(a.to_bytes()), b) for _ in range(REPS)]
        times = []
        for x, y in pairs:
            t0 = time.perf_counter()
            x.merge(y)
            times.append(time.perf_counter() - t0)
        out[f"sketch.{kind}.merge_us"] = statistics.median(times) * 1e6
        state = pairs[0][0].to_bytes()
        out[f"sketch.{kind}.state_bytes"] = float(len(state))
        if type(a).from_bytes(state).to_bytes() != state:
            failures.append(f"sketch.{kind}: serde round trip changed state")
        if kind == "bloom":
            full = pairs[0][0]
            out["sketch.bloom.probe_ns"] = (
                _median_time(lambda: full.contains(data)) / len(data) * 1e9)
            if not full.contains(data).all():
                failures.append("sketch.bloom: false negative")
    return out, failures
