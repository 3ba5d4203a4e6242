"""probabilistic_rs_spark — a PySpark-native distributed sketch library.

A from-scratch re-expression of the capabilities of ``oiwn/probabilistic-rs``
(reference at /root/reference, Rust) as idiomatic Spark:

* Sketch states (Bloom, HyperLogLog, Count-Min, t-digest, KLL) are small
  **mergeable binary blobs** built per input partition with vectorized
  Arrow batch kernels (``mapInArrow``), shuffled by group key, and merged
  by one Arrow fold per batch of groups (``sketch_agg.fold_groups``) — the
  classic partial/final two-level reduce.
* Bloom hashing/sizing is **bit-parity-anchored** to the reference
  (murmur3-32 seed 0 + FNV-1a-64-truncated double hashing,
  ``reference src/hash.rs:33-77``); HLL/CMS/t-digest/KLL derive from the
  published papers the reference plans to implement
  (``reference specs/overview.md:20-24``).
* No per-row Python anywhere: every kernel consumes whole Arrow batches
  through numpy.
"""

from probabilistic_rs_spark.errors import (
    SketchConfigError,
    SketchError,
    SketchStateError,
)

__version__ = "0.1.0"

__all__ = [
    "SketchError",
    "SketchConfigError",
    "SketchStateError",
    "__version__",
]
