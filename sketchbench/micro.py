"""Spark-free micro-benchmark of the numpy sketch cores and the batch
hash kernels, with fixed seeds.

Per family: update throughput over batches the size of an Arrow batch,
the merge stage's fold of one serialized partial into a state (the way
``sketch_agg.sketch_merge`` folds: ``merge_bytes`` when the family has
it, else ``merge(from_bytes(...))``), serialisation both ways, and the
state size. Cuckoo filters are built per shard and never merged, so the
two cuckoo families report no merge time.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa

from probabilistic_rs_spark import sketches as S
from probabilistic_rs_spark.functions.hashing import murmur3_32_batch, pad_batch_arrow, xxh64_long
from probabilistic_rs_spark.sketches.countsketch import CountSketch
from probabilistic_rs_spark.sketches.mg import MisraGries
from probabilistic_rs_spark.sketches.theta import ThetaSketch

N_ITEMS = 131_072
BATCH = 65_536
REPEATS = 3
SEED = 20251017


def _strings(rng, n: int):
    """Distinct url-like keys."""
    ids = rng.integers(0, 1 << 40, size=n)
    return pa.array([f"https://site{i % 9973:06d}.example.com/a/b?id={i:012d}" for i in ids], pa.string())


def _hosts(rng, n: int):
    """Host-like keys with a Zipf skew, the heavy-hitter shape."""
    ranks = np.minimum(rng.zipf(1.2, size=n), 100_000)
    return pa.array([f"site{r:06d}.example.com" for r in ranks], pa.string())


_BLOOM_CFG = S.BloomConfig(capacity=2 * N_ITEMS, false_positive_rate=0.01)
_CAP = 2 * N_ITEMS

# name -> (factory, update(sketch, batch), input kind of ``_inputs``)
FAMILIES = {
    "bloom": (lambda: S.BloomSketch(_BLOOM_CFG), lambda s, b: s.update_padded(*b), "padded"),
    "native_bloom": (lambda: S.NativeBloomSketch(_BLOOM_CFG), lambda s, b: s.update_base_hashes(b), "base"),
    "hll": (lambda: S.HyperLogLog(p=14), lambda s, b: s.update_hashes(b), "hashes"),
    "cms": (lambda: S.CountMinSketch(eps=0.0001, delta=0.001), lambda s, b: s.update_hashes(b), "hashes"),
    "countsketch": (lambda: CountSketch(eps=0.01, delta=0.001), lambda s, b: s.update_base_hashes(b), "base"),
    "cuckoo": (lambda: S.CuckooFilter(_CAP), lambda s, b: s.insert_hashes(b), "unique"),
    "native_cuckoo": (lambda: S.NativeCuckooFilter(_CAP), lambda s, b: s.insert_hashes(b), "unique"),
    "quotient": (lambda: S.QuotientFilter(_CAP, 0.01), lambda s, b: s.update_hashes(b), "hashes"),
    "tdigest": (lambda: S.TDigest(delta=200.0), lambda s, b: s.update_values(b), "values"),
    "kll": (lambda: S.KLLSketch(k=200), lambda s, b: s.update_values(b), "values"),
    "mg": (lambda: MisraGries(k=1024), lambda s, b: s.update_padded(*b), "hosts"),
    "theta": (lambda: ThetaSketch(k=4096), lambda s, b: s.update_hashes(b), "hashes"),
}
STATS = ("update_mrows_per_s", "merge_ms", "to_bytes_ms", "from_bytes_ms", "state_kib")


def _mergeable(sketch) -> bool:
    return hasattr(sketch, "merge") or hasattr(sketch, "merge_bytes")


def _inputs(rng) -> dict[str, list]:
    """Input batches by kind, each batch the size of an Arrow batch."""
    hashes = rng.integers(0, 1 << 63, size=N_ITEMS, dtype=np.int64).view(np.uint64) * np.uint64(2) + np.uint64(1)
    base = np.stack(
        [(hashes >> np.uint64(2)).astype(np.int64), (hashes * np.uint64(0x9E3779B97F4A7C15) >> np.uint64(8)).astype(np.int64)],
        axis=1,
    )
    values = rng.lognormal(5.0, 1.0, size=N_ITEMS)
    strings = _strings(rng, N_ITEMS)
    hosts = _hosts(rng, N_ITEMS)

    def padded_chunks(arr):
        return [pad_batch_arrow(arr.slice(lo, BATCH)) for lo in range(0, N_ITEMS, BATCH)]

    def chunks(a):
        return [a[lo : lo + BATCH] for lo in range(0, len(a), BATCH)]

    return {
        "padded": padded_chunks(strings),
        "base": chunks(base),
        "hashes": chunks(hashes),
        "unique": [np.unique(c) for c in chunks(hashes)],
        "values": chunks(values),
        "hosts": padded_chunks(hosts),
    }


def _median_time(fn, repeats: int = REPEATS) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _build(factory, update, batches):
    sk = factory()
    for b in batches:
        update(sk, b)
    return sk


def family_metrics() -> dict[str, float]:
    rng = np.random.default_rng(SEED)
    out = {}
    inputs = _inputs(rng)
    for name, (factory, update, kind) in FAMILIES.items():
        batches = inputs[kind]
        n = sum(len(b[1]) if isinstance(b, tuple) else len(b) for b in batches)
        upd, ser = [], []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            sk = _build(factory, update, batches)
            t1 = time.perf_counter()
            blob = sk.to_bytes()  # timed on a fresh state: some families finalize lazily
            upd.append(t1 - t0)
            ser.append(time.perf_counter() - t1)
        cls = type(sk)
        half = len(batches) // 2
        left = _build(factory, update, batches[:half]).to_bytes()
        right = _build(factory, update, batches[half:]).to_bytes()
        p = f"sketches.{name}"
        out[f"{p}.update_mrows_per_s"] = n / statistics.median(upd) / 1e6
        if _mergeable(sk):
            folds = []
            for _ in range(REPEATS):
                acc = cls.from_bytes(left)
                t0 = time.perf_counter()
                fold = getattr(acc, "merge_bytes", None)
                if fold is not None:
                    fold(right)
                else:
                    acc.merge(cls.from_bytes(right))
                folds.append(time.perf_counter() - t0)
            out[f"{p}.merge_ms"] = statistics.median(folds) * 1e3
        out[f"{p}.to_bytes_ms"] = statistics.median(ser) * 1e3
        out[f"{p}.from_bytes_ms"] = _median_time(lambda: cls.from_bytes(blob)) * 1e3
        out[f"{p}.state_kib"] = len(blob) / 1024.0
    return out


def hashing_metrics() -> dict[str, float]:
    rng = np.random.default_rng(SEED + 1)
    strings = _strings(rng, BATCH)
    buf, lens = pad_batch_arrow(strings)
    longs = rng.integers(-(1 << 62), 1 << 62, size=BATCH)
    p = "functions.hashing"
    return {
        f"{p}.murmur3_32_batch_mrows_per_s": BATCH / _median_time(lambda: murmur3_32_batch(buf, lens)) / 1e6,
        f"{p}.pad_batch_arrow_mrows_per_s": BATCH / _median_time(lambda: pad_batch_arrow(strings)) / 1e6,
        f"{p}.xxh64_long_mrows_per_s": BATCH / _median_time(lambda: xxh64_long(longs)) / 1e6,
    }


def metric_names() -> list[str]:
    names = []
    for fam, (factory, _, _) in FAMILIES.items():
        mergeable = _mergeable(factory())
        names += [f"sketches.{fam}.{m}" for m in STATS if mergeable or m != "merge_ms"]
    names += [f"functions.hashing.{k}_mrows_per_s" for k in ("murmur3_32_batch", "pad_batch_arrow", "xxh64_long")]
    return names
