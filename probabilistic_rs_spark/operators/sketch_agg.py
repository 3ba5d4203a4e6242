"""Generic partial/merge sketch aggregation — the core distributed operator.

This is the Spark restatement of the reference's whole execution model
(SURVEY.md §3.1): the reference's ``insert_bulk`` (batch-hash, then one
lock — ``src/bloom/filter.rs:395-438``) becomes a ``mapInArrow`` kernel
that absorbs a whole Arrow batch per Python call; the merge step the
reference never ships (bitwise OR / register max / counter add /
compactor merge) becomes one Arrow fold per batch of groups
(:func:`fold_groups`) after a single shuffle of tiny binary states.

Plan shape (the only network boundary is the one partial-state shuffle):

    scan (column-pruned: group cols + value cols only)
      → [JVM] xxhash64 / cast / encode           (whole-stage codegen)
      → mapInArrow partial-build                 (1 row per key per partition)
      → exchange on group key                    (bytes ≪ input data)
      → [optional pre-merge by pid % fanin]      (tree reduce for huge fan-in)
      → [JVM] collect_list per key, then
        mapInArrow fold                          (1 row per key)

Scale notes (100 TB / 1000 executors):
* Shuffled volume is ``n_keys_per_partition × state_bytes`` — independent
  of row count. A 16 KB HLL over 100k input partitions shuffles ~1.6 GB
  total; with ``tree_fanin`` the final reducer sees ``fanin`` rows max.
* Partial build is map-side combine: one output row per (partition, key).
* Grouping follows Spark's key semantics in both stages: null is a key
  of its own, every NaN is one key, -0.0 equals 0.0, and struct keys
  compare field by field (array and map keys are rejected up front).
* Merge order inside a group is sorted by partition id, so results are
  bit-identical across runs, shuffle orders, and parallelism levels for
  Bloom/HLL/CMS (and deterministic for t-digest/KLL too at a fixed input
  partitioning).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    MapType,
    StructField,
    StructType,
)

from probabilistic_rs_spark.errors import SketchConfigError
from probabilistic_rs_spark.sketches.bloom import BloomConfig, BloomSketch
from probabilistic_rs_spark.sketches.cms import CountMinSketch
from probabilistic_rs_spark.sketches.hll import HyperLogLog
from probabilistic_rs_spark.sketches.kll import KLLSketch
from probabilistic_rs_spark.sketches.tdigest import TDigest

# value representation each sketch kind consumes
_VALUE_KIND = {
    "bloom": "bytes",   # raw bytes (reference-parity murmur3+fnv hashing in kernel)
    "nbloom": "hash2",  # JVM-side (h1, h2) xxhash64 pair → kernel derives KM positions + scatters
    "hll": "hash",      # JVM-side xxhash64 → kernel only does register max
    "cms": "hash",      # JVM-side xxhash64 → kernel only does counter scatter
    "quotient": "hash",  # JVM-side xxhash64 → kernel takes top p bits, sorts
    "theta": "hash",    # JVM-side xxhash64 → kernel keeps the k smallest (KMV)
    "mg": "bytes",      # raw keys (MG carries ACTUAL keys — no hashing at all)
    "cs": "hash2",      # KM base-hash pair → kernel derives buckets AND signs

    "tdigest": "float",
    "kll": "float",
}


@dataclass(frozen=True)
class SketchSpec:
    """One sketch over one input column.

    ``params`` are forwarded to the sketch constructor:
      bloom: capacity, false_positive_rate; hll: p, sparse_threshold;
      cms: eps, delta; tdigest: delta; kll: k.
    """

    name: str
    kind: str
    column: str
    params: dict = field(default_factory=dict)

    def __post_init__(self):
        if self.kind not in _VALUE_KIND:
            raise SketchConfigError(f"unknown sketch kind {self.kind!r}")
        # validate params driver-side, before any job launches (reference
        # idiom: config validation at construction, src/bloom/config.rs:31-44)
        self.make()

    def make(self):
        if self.kind == "bloom":
            return BloomSketch(BloomConfig(**self.params))
        if self.kind == "nbloom":
            from probabilistic_rs_spark.sketches.native_bloom import NativeBloomSketch

            return NativeBloomSketch(BloomConfig(**self.params))
        if self.kind == "hll":
            return HyperLogLog(**self.params)
        if self.kind == "cms":
            return CountMinSketch(**self.params)
        if self.kind == "quotient":
            from probabilistic_rs_spark.sketches.quotient import QuotientFilter

            return QuotientFilter(**self.params)
        if self.kind == "theta":
            from probabilistic_rs_spark.sketches.theta import ThetaSketch

            return ThetaSketch(**self.params)
        if self.kind == "mg":
            from probabilistic_rs_spark.sketches.mg import MisraGries

            return MisraGries(**self.params)
        if self.kind == "cs":
            from probabilistic_rs_spark.sketches.countsketch import CountSketch

            return CountSketch(**self.params)
        if self.kind == "tdigest":
            return TDigest(**self.params)
        return KLLSketch(**self.params)

    def make_builder(self):
        """Build-side accumulator: same wire format as :meth:`make`'s
        sketch, but Bloom partials use the dense-free index builder — a
        partition task never allocates the O(m) dense array just to emit a
        sparse partial (see sketches.bloom.BloomPartialBuilder)."""
        if self.kind == "bloom":
            from probabilistic_rs_spark.sketches.bloom import BloomPartialBuilder

            return BloomPartialBuilder(BloomConfig(**self.params))
        if self.kind == "nbloom":
            from probabilistic_rs_spark.sketches.native_bloom import (
                NativeBloomPartialBuilder,
            )

            return NativeBloomPartialBuilder(BloomConfig(**self.params))
        return self.make()

    @property
    def value_kind(self) -> str:
        return _VALUE_KIND[self.kind]

    @property
    def state_col(self) -> str:
        return f"{self.name}_state"


def native_bloom_base_hash_exprs(col: Column) -> tuple[Column, Column]:
    """The TWO base hashes of the native family's Kirsch–Mitzenmacher
    double-hashing scheme (the reference's own idiom, ``src/hash.rs:
    97-101`` — two hashes derive all k positions):

        h1 = xxhash64(item)          >> 2   (62 bits)
        h2 = xxhash64(lit(1), item)  >> 8   (56 bits)

    The unsigned right shifts bound ``h1 + i·h2`` below 2^63 for k ≤ 32,
    so the position arithmetic can never overflow int64 — load-bearing
    under ANSI mode (Spark 4 default), where a long overflow is a runtime
    error, and it keeps JVM signed-int64 arithmetic bit-equal to the
    kernel's uint64 numpy arithmetic. The shifts discard nothing that
    matters: positions are taken mod m < 2^32."""
    s = col.cast("string")
    h1 = F.shiftrightunsigned(F.xxhash64(s), 2)
    h2 = F.shiftrightunsigned(F.xxhash64(F.lit(1), s), 8)
    return h1, h2


def native_bloom_position_exprs(col: Column, m: int, k: int) -> list[Column]:
    """The native-hash Bloom position family — Kirsch–Mitzenmacher over
    two JVM xxhash64 evaluations:

        pos_i = pmod(h1 + i·h2, m)      i = 0..k-1

    (KM preserves the asymptotic FPR of k independent hashes — Kirsch &
    Mitzenmacher, ESA'06 — and is what the reference-parity family uses
    too, ``src/hash.rs:97-101``.) Build kernel and probe expressions both
    derive positions from the SAME (h1, h2) definitions, so zero false
    negatives hold by construction; vs k independent xxhash64 calls this
    runs 2 string hashes instead of k on both build and probe."""
    if k > 32:
        raise SketchConfigError(
            f"native Bloom double-hashing supports k <= 32 (got {k}); "
            "such a k implies an extreme FPR target — use the parity family"
        )
    h1, h2 = native_bloom_base_hash_exprs(col)
    return [
        F.pmod(h1 + F.lit(int(i)) * h2, F.lit(int(m))) for i in range(k)
    ]


def pushdown_barrier(col: Column, boolean: bool = False) -> Column:
    """Value-preserving pushdown barrier for the native (JVM-expression)
    probe family: ``col + monotonically_increasing_id()·0`` — numerically
    the identity, but the nondeterministic term stops the optimizer from
    substituting the probe expression into a downstream filter.

    Why this matters (measured, round 8): a caller's
    ``.where(est > 0)`` / ``.where(is_member)`` otherwise gets the probe
    expression INLINED into the broadcast join's condition, and join
    conditions are evaluated without whole-stage codegen's common-
    subexpression elimination — every shared subtree of the probe
    expression (the KM base hashes, the median network's wires) is
    re-evaluated per reference per row. With the barrier the expression
    is computed once in a ProjectExec (which does eliminate common
    subexpressions) and the filter reads the materialized column:
    4.1 s → 0.58 s for the count-sketch median probe over 10⁶ rows.

    ``monotonically_increasing_id`` (unlike ``rand``/``shuffle``) embeds
    no per-query seed, so the generated code is byte-stable across
    actions and the codegen cache keeps hitting. Trade-off: unrelated
    downstream predicates also stop pushing past the probe projection —
    apply only where the probe expression is the dominant per-row cost
    (guide §4.4 makes the same trade for expensive UDFs).

    ``boolean=True`` uses the boolean identity ``col AND (id·0 = 0)``
    (the arithmetic form would change the column type); both forms
    preserve the column's nullability."""
    zero = F.monotonically_increasing_id() * F.lit(0)
    if boolean:
        return col & (zero == F.lit(0))
    return col + zero


def _value_expr(spec: SketchSpec) -> Column:
    """JVM-side value preparation — stays inside whole-stage codegen."""
    col = F.col(spec.column)
    vk = spec.value_kind
    if vk == "hash":
        return F.xxhash64(col.cast("string")).alias(f"__v_{spec.name}")
    if vk == "float":
        return col.cast("double").alias(f"__v_{spec.name}")
    if vk == "hash2":
        # ship ONLY the two KM base hashes (16 B/row regardless of k);
        # the kernel derives all k positions with one vectorized
        # broadcast-multiply — vs shipping a k-element position array
        # this halves Arrow volume at k=7 and cuts JVM hashing from k
        # string hashes to 2
        h1, h2 = native_bloom_base_hash_exprs(col)
        return F.array(h1, h2).alias(f"__v_{spec.name}")
    # bytes: canonical encoding = UTF-8 of the string form
    return F.encode(col.cast("string"), "UTF-8").alias(f"__v_{spec.name}")


def _update_sketch(spec: SketchSpec, sketch, prepared, rows: np.ndarray) -> None:
    vk = spec.value_kind
    if vk == "hash":
        sketch.update_hashes(prepared[rows])
    elif vk == "float":
        sketch.update_values(prepared[rows])
    elif vk == "hash2":
        sketch.update_base_hashes(prepared[rows])
    else:
        buf, lens = prepared
        sketch.update_padded(buf[rows], lens[rows])


def _prepare_value(spec: SketchSpec, batch, colname: str):
    import pyarrow as pa

    from probabilistic_rs_spark.functions.hashing import pad_batch_arrow

    arr = batch.column(colname)
    vk = spec.value_kind
    if vk == "hash":
        a = arr.to_numpy(zero_copy_only=False)
        return a.astype(np.int64, copy=False).view(np.uint64)
    if vk == "float":
        return arr.to_numpy(zero_copy_only=False)  # nulls → NaN, dropped in kernel
    if vk == "hash2":
        # fixed-2 list<int64> → (n, 2) matrix; flatten() honors slicing
        # offsets, so this is safe on sliced batches
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        flat = arr.flatten().to_numpy(zero_copy_only=False)
        n = len(arr)
        return flat.reshape(n, -1) if n else flat.reshape(0, 2)
    # per-spec scratch slot: the padded matrix is reused across batches
    # and tasks on this worker; the slot name keeps two byte-kind specs
    # in one batch from aliasing
    return pad_batch_arrow(arr, scratch_key=f"sketch:{colname}")


def _grouping_leaves(arr) -> list:
    """The atomic leaves of one grouping column, rewritten so that plain
    value equality is Spark's key equality: a struct contributes its own
    validity and then its fields (with the struct's nulls applied), and a
    float becomes its bit pattern after -0.0 → 0.0 and every NaN → one
    NaN, nulls kept."""
    import pyarrow as pa

    if pa.types.is_struct(arr.type):
        leaves = [arr.is_valid()]
        for child in arr.flatten():
            leaves += _grouping_leaves(child)
        return leaves
    if pa.types.is_floating(arr.type):
        v = arr.cast(pa.float64()).fill_null(0.0).to_numpy(zero_copy_only=False)
        v = v + 0.0  # -0.0 → 0.0
        v[np.isnan(v)] = np.nan
        nulls = arr.is_null().to_numpy(zero_copy_only=False)
        return [pa.array(v.view(np.int64), mask=nulls)]
    return [arr]


def key_runs(keys: np.ndarray) -> list[tuple]:
    """``(key, rows)`` for each distinct value of an integer key array, in
    ascending key order: one stable sort, then one slice per key (rows
    ascending within a key) — never a scan of all rows per key."""
    if len(keys) == 0:
        return []
    order = np.argsort(keys, kind="stable")
    k = keys[order]
    bounds = np.r_[0, np.flatnonzero(k[1:] != k[:-1]) + 1, len(k)]
    return [(k[s], order[s:e]) for s, e in zip(bounds[:-1], bounds[1:])]


def batch_groups(batch, cols: list[str]) -> list[tuple]:
    """The rows of one non-empty Arrow batch grouped by ``cols`` with
    Spark's key semantics: ``(key, rows)`` per group, where ``key`` is a
    hashable tuple that is equal across batches exactly when Spark groups
    the rows together, and ``rows`` are ascending row indices. With no
    ``cols``, every row is in one group."""
    import pyarrow.compute as pc

    leaves = [leaf for c in cols for leaf in _grouping_leaves(batch.column(c))]
    code = np.zeros(batch.num_rows, dtype=np.int64)
    for leaf in leaves:
        ids = pc.dictionary_encode(leaf, null_encoding="encode").indices
        ids = ids.to_numpy(zero_copy_only=False).astype(np.int64)
        code = np.unique(code * (int(ids.max()) + 1) + ids, return_inverse=True)[1]
    runs = key_runs(code)
    first = [rows[0] for _, rows in runs]
    keys = zip(*(leaf.take(first).to_pylist() for leaf in leaves)) if leaves else [()]
    return [(key, rows) for key, (_, rows) in zip(keys, runs)]


def _check_group_types(schema: StructType, cols: list[str]) -> None:
    """Array and map keys (also inside a struct) have no Arrow hash
    grouping: refuse them on the driver, before any job launches."""

    def nested(t) -> bool:
        if isinstance(t, StructType):
            return any(nested(f.dataType) for f in t.fields)
        return isinstance(t, (ArrayType, MapType))

    for c in cols:
        if nested(schema[c].dataType):
            raise SketchConfigError(
                f"group column {c!r} has type {schema[c].dataType.simpleString()}; "
                "array and map keys are not supported — group by atomic or "
                "struct columns"
            )


def sketch_partials(
    df: DataFrame, group_cols: list[str], specs: list[SketchSpec]
) -> DataFrame:
    """Stage 1: per-partition partial sketch states, one row per
    (partition, group key). Output columns:
    ``group_cols…, __pid int, {name}_state binary…, n_updates long``.
    """
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    proj = [F.col(g) for g in group_cols] + [_value_expr(s) for s in specs]
    projected = df.select(*proj)

    in_schema = projected.schema
    _check_group_types(in_schema, group_cols)
    out_fields = [in_schema[g] for g in group_cols]
    out_fields.append(StructField("__pid", IntegerType(), False))
    out_fields += [StructField(s.state_col, BinaryType(), False) for s in specs]
    out_fields.append(StructField("n_updates", LongType(), False))
    out_schema = StructType(out_fields)
    arrow_schema = to_arrow_schema(out_schema)
    specs_local = list(specs)
    group_local = list(group_cols)

    def build(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        acc: dict[tuple, list] = {}
        counts: dict[tuple, int] = {}
        key_values: dict[tuple, list] = {}  # one-row key arrays per group
        for batch in batches:
            if batch.num_rows == 0:
                continue
            prepared = [
                _prepare_value(s, batch, f"__v_{s.name}") for s in specs_local
            ]
            for key, rows in batch_groups(batch, group_local):
                sketches = acc.get(key)
                if sketches is None:
                    sketches = [s.make_builder() for s in specs_local]
                    acc[key] = sketches
                    counts[key] = 0
                    key_values[key] = [
                        batch.column(g).take([rows[0]]) for g in group_local
                    ]
                counts[key] += len(rows)
                for spec, sk, prep in zip(specs_local, sketches, prepared):
                    _update_sketch(spec, sk, prep, rows)
        if not acc:
            return
        keys = list(acc.keys())
        arrays = [
            pa.concat_arrays([key_values[k][i] for k in keys]).cast(
                arrow_schema.field(i).type
            )
            for i in range(len(group_local))
        ]
        arrays.append(pa.array([pid] * len(keys), type=pa.int32()))
        for j, spec in enumerate(specs_local):
            arrays.append(
                pa.array([acc[k][j].to_bytes() for k in keys], type=pa.binary())
            )
        arrays.append(pa.array([counts[k] for k in keys], type=pa.int64()))
        yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return projected.mapInArrow(build, out_schema)


# list values per fold_groups output batch (32 MiB of int64 blocks): bounds
# the Python memory of a batch of many large groups
_FOLD_FLUSH_VALUES = 1 << 22


def fold_groups(
    df: DataFrame,
    keys: list[str],
    value_cols: list[str],
    fold,
    out_schema: StructType,
) -> DataFrame:
    """Group ``df`` by ``keys`` and fold each group's ``value_cols`` rows
    into one output row: ``keys…`` followed by ``out_schema``'s fields.

    The JVM does the grouping (``collect_list`` of a struct of the value
    columns per key), so keys follow Spark's own semantics for null,
    NaN/-0.0 and struct keys. One ``mapInArrow`` call then folds every
    group of an Arrow batch: ``fold(key, vals)`` gets the group's key
    tuple and a dict of value column → pyarrow array of the group's rows
    (in no fixed order), and returns the values of ``out_schema``'s
    fields. An ``array<bigint>`` value is returned as a numpy int64 array
    and written as one Arrow list column per batch — no pandas frame per
    group and no Python list per block. A group with no rows (the one
    row of a keyless aggregate over empty input) yields no output row.

    Python memory per task: one input batch (Spark's Arrow batch limits)
    plus at most ``_FOLD_FLUSH_VALUES`` list values of folded output."""
    from pyspark.sql.pandas.types import to_arrow_schema

    grouped = df.groupBy(*keys).agg(
        F.collect_list(F.struct(*value_cols)).alias("__vals")
    )
    schema = StructType([df.schema[k] for k in keys] + list(out_schema.fields))
    arrow_schema = to_arrow_schema(schema)
    nk = len(keys)

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        def emit(batch, kept: list, outs: list):
            arrays = [batch.column(i).take(kept) for i in range(nk)]
            for j, fld in enumerate(list(arrow_schema)[nk:]):
                col = [o[j] for o in outs]
                if pa.types.is_list(fld.type):
                    ends = np.cumsum([len(v) for v in col])
                    arrays.append(
                        pa.ListArray.from_arrays(
                            pa.array(np.r_[0, ends], type=pa.int32()),
                            pa.array(np.concatenate(col), type=fld.type.value_type),
                        )
                    )
                else:
                    arrays.append(pa.array(col, type=fld.type))
            return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

        for batch in batches:
            lists = batch.column(nk)
            bounds = lists.offsets.to_numpy()
            children = {c: lists.values.field(c) for c in value_cols}
            key_rows = list(zip(*(batch.column(i).to_pylist() for i in range(nk))))
            kept, outs, pending = [], [], 0
            for g in range(batch.num_rows):
                s, e = int(bounds[g]), int(bounds[g + 1])
                if s == e:
                    continue
                vals = {c: a.slice(s, e - s) for c, a in children.items()}
                out = fold(key_rows[g] if nk else (), vals)
                kept.append(g)
                outs.append(out)
                pending += sum(len(v) for v in out if isinstance(v, np.ndarray))
                if pending >= _FOLD_FLUSH_VALUES:
                    yield emit(batch, kept, outs)
                    kept, outs, pending = [], [], 0
            if kept:
                yield emit(batch, kept, outs)

    return grouped.mapInArrow(run, schema)


def sketch_merge(
    partials: DataFrame,
    group_cols: list[str],
    specs: list[SketchSpec],
    tree_fanin: int | None = None,
) -> DataFrame:
    """Stage 2: shuffle partials by group key and fold states.

    ``tree_fanin``: optional two-level reduce — partials are first merged
    within buckets of ``__pid % fanin`` so the final reducer per key sees at
    most ``fanin`` rows (treeAggregate analog; essential for global sketches
    over ~10⁵ input partitions).
    """
    state_cols = [s.state_col for s in specs]
    value_cols = ["__pid"] + state_cols + ["n_updates"]
    out_schema = StructType(
        [StructField("__pid", IntegerType(), False)]
        + [StructField(c, BinaryType(), False) for c in state_cols]
        + [StructField("n_updates", LongType(), False)]
    )
    classes = [type(s.make()) for s in specs]

    def merge(key: tuple, vals: dict) -> list:
        # deterministic merge order regardless of shuffle arrival
        pids = vals["__pid"].to_numpy()
        order = np.argsort(pids, kind="stable")
        out = [int(pids[order[0]])]
        for col, cls in zip(state_cols, classes):
            blobs = vals[col].to_pylist()
            merged = cls.from_bytes(blobs[order[0]])
            # merge_bytes folds serialized partials in place (one dense
            # allocation per reducer, not one per partial — Bloom/CMS)
            fold = getattr(merged, "merge_bytes", None)
            for i in order[1:]:
                if fold is not None:
                    fold(blobs[i])
                else:
                    merged.merge(cls.from_bytes(blobs[i]))
            out.append(merged.to_bytes())
        out.append(int(vals["n_updates"].to_numpy().sum()))
        return out

    cur = partials
    if tree_fanin and tree_fanin > 1:
        pre = cur.withColumn("__bucket", F.pmod(F.col("__pid"), F.lit(tree_fanin)))
        cur = fold_groups(
            pre, group_cols + ["__bucket"], value_cols, merge, out_schema
        ).drop("__bucket")
    merged = fold_groups(cur, group_cols, value_cols, merge, out_schema)
    return merged.drop("__pid")


def resolve_tree_fanin(
    df: DataFrame, tree_fanin: int | str | None, auto_fanin: int = 64
) -> int | None:
    """Resolve a ``tree_fanin`` argument to an effective value.

    * ``"auto"`` — enable a pre-merge level of ``auto_fanin`` only when the
      input has enough partitions for it to pay off (> 2×fanin); below
      that the pre-merge is a pure extra shuffle + re-serialization round.
      Only this branch inspects the partition count (an RDD conversion of
      the analyzed plan — skipped entirely for explicit values).
    * explicit int — always honored (a caller who deliberately requests a
      pre-merge level gets one).
    * ``None`` — disabled.
    """
    if tree_fanin != "auto":
        return tree_fanin  # explicit int or None: caller decision is final
    if df.rdd.getNumPartitions() <= 2 * auto_fanin:
        return None
    return auto_fanin


def sketch_aggregate(
    df: DataFrame,
    group_cols: list[str],
    specs: list[SketchSpec],
    tree_fanin: int | None = None,
) -> DataFrame:
    """End-to-end: partial build → shuffle → merge. Returns one row per
    group with ``{name}_state`` binary columns + ``n_updates``."""
    return sketch_merge(sketch_partials(df, group_cols, specs), group_cols, specs, tree_fanin)


def _global_strategy(
    df: DataFrame, spec: SketchSpec, tree_fanin, auto_fanin: int = 64
) -> int | None:
    """Physical-strategy pick for :func:`build_global_state`: returns the
    effective fanin (``None`` = driver fold, int = bucketed executor-side
    pre-merge).

    Partition count alone is the wrong proxy for sketch kinds whose
    PARTIAL states are O(rows) rather than bounded (quotient: every
    partition ships its full fingerprint run, so a driver fold over P
    partitions collects the whole dataset's fingerprints P-partials-deep
    through py4j even though the merged state is the same bytes). For
    those kinds the bucketed path is preferred at any non-trivial
    partition count — the final merge then happens executor-side and the
    driver only ever pulls the single merged blob (VERDICT r3 #4)."""
    if tree_fanin != "auto":
        return tree_fanin  # explicit int or None: caller decision is final
    unbounded = getattr(spec.make(), "PARTIALS_UNBOUNDED", False)
    nparts = df.rdd.getNumPartitions()
    if unbounded:
        return auto_fanin if nparts > 8 else None
    return auto_fanin if nparts > 2 * auto_fanin else None


def build_global_state(df: DataFrame, spec: SketchSpec, tree_fanin="auto") -> bytes:
    """GLOBAL (ungrouped) build of one sketch, returning the merged state
    bytes on the driver (where a global state always ends up — it is the
    thing callers broadcast).

    Two physical strategies, picked by :func:`_global_strategy` exactly
    like ``treeAggregate``: with a modest partition count (and bounded
    partial states) the per-partition partials are collected and folded
    driver-side (skipping a shuffle stage whose lone reducer's only
    consumer is the driver); with many partitions — or O(rows) partials
    (quotient) — a bucketed executor-side pre-merge bounds what the
    driver sees. Fold order is partition-id-sorted → bit-identical
    states under any scheduling."""
    fanin = _global_strategy(df, spec, tree_fanin)
    if fanin is None:
        partials = sketch_partials(df, [], [spec]).select("__pid", spec.state_col)
        # Arrow-native collect: partial blobs land as one Arrow buffer
        # instead of P py4j-pickled Row objects — the collect was the
        # dominant cost of driver-fold builds at wide parallelism
        # (~28 MB of Bloom partials over 128 partitions at bench scale)
        try:
            tbl = partials.toArrow()
            rows = sorted(
                zip(tbl.column("__pid").to_pylist(), tbl.column(spec.state_col).to_pylist())
            )
        except AttributeError:  # pre-4.0 fallback
            rows = sorted(
                (r["__pid"], bytes(r[spec.state_col])) for r in partials.collect()
            )
        if not rows:  # empty input -> empty sketch, not a crash
            return spec.make().to_bytes()
        sk = type(spec.make()).from_bytes(rows[0][1])
        fold = getattr(sk, "merge_bytes", None)
        for _, blob in rows[1:]:
            if fold is not None:
                fold(blob)
            else:
                sk.merge(type(sk).from_bytes(blob))
        return sk.to_bytes()
    merged = sketch_aggregate(df, [], [spec], tree_fanin=fanin)
    row = merged.select(spec.state_col).head()
    if row is None:
        return spec.make().to_bytes()
    return bytes(row[spec.state_col])


# ---------------------------------------------------------------------------
# Finishers (estimate columns from merged states)
# ---------------------------------------------------------------------------

def with_hll_estimate(df: DataFrame, state_col: str, out_col: str) -> DataFrame:
    """Adds a bigint estimate column from an HLL state column."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(LongType())
    def est(states: pd.Series) -> pd.Series:
        return states.map(
            lambda b: int(round(HyperLogLog.from_bytes(b).estimate()))
        ).astype("int64")

    return df.withColumn(out_col, est(F.col(state_col)))


def with_quantiles(
    df: DataFrame, state_col: str, kind: str, qs: list[float], out_col: str
) -> DataFrame:
    """Adds an array<double> column of quantile estimates from a
    t-digest/KLL state column."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    cls = TDigest if kind == "tdigest" else KLLSketch
    qs_local = list(qs)

    @pandas_udf(ArrayType(DoubleType()))
    def quant(states: pd.Series) -> pd.Series:
        return states.map(
            lambda b: [float(x) for x in cls.from_bytes(b).quantile(np.array(qs_local))]
        )

    return df.withColumn(out_col, quant(F.col(state_col)))
