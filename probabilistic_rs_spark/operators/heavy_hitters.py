"""Heavy hitters via Count-Min Sketch + partition-local candidate tracking.

North-star query 2 (SURVEY.md §2.9): heavy-hitter hostnames over a
Zipf-skewed key column. The classic Spark failure mode is
``groupBy(host).count()`` shuffling a hot key to one reducer. This
operator never shuffles by the key at all:

* per input partition (mapInArrow): one CMS absorbing every key occurrence
  (vectorized: ``np.unique`` + weighted counter scatter), plus a BOUNDED
  Misra–Gries candidate tracker (:class:`BoundedCandidateTracker`) — a
  salted pre-aggregation where the "salt" is the physical partition id.
  Candidate memory is O(candidates_per_partition) regardless of key
  cardinality: at 100 TB a partition can see 10⁸ distinct urls without
  the tracker growing past ``4 × candidates_per_partition`` entries.
* one shuffle of (CMS state + candidate list) rows — size independent of
  both row count and key skew.
* final merge: CMS matrix-add, candidate-union, estimate = min-over-rows
  for each candidate. Overestimate ≤ εN with prob ≥ 1−δ.

A true heavy hitter (count ≥ N·φ) is guaranteed to be a local top
candidate in at least one partition when C is sized generously, since its
global share implies a matching local share in some partition.

Also provided: ``exact_group_count`` (plain built-in — already skew-safe
for counts via Spark's map-side partial aggregation) and
``salted_apply_in_pandas_agg`` — the salted two-stage pattern where it is
genuinely load-bearing: custom ``applyInPandas`` states have no partial
aggregation, so a hot key must be split across reducers by salt.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from probabilistic_rs_spark.errors import SketchConfigError
from probabilistic_rs_spark.operators.sketch_agg import fold_groups, key_runs
from probabilistic_rs_spark.sketches.cms import CountMinSketch

_PARTIAL_SCHEMA = StructType(
    [
        StructField("__pid", IntegerType(), False),
        StructField("cms_state", BinaryType(), False),
        StructField("cand_keys", ArrayType(StringType()), False),
        StructField("cand_hashes", ArrayType(LongType()), False),
        StructField("n_updates", LongType(), False),
    ]
)

_FINAL_SCHEMA = StructType(
    [
        StructField("key", StringType(), False),
        StructField("est_count", LongType(), False),
    ]
)


class BoundedCandidateTracker:
    """Misra–Gries-style bounded heavy-hitter candidate tracker.

    Memory is O(prune_factor × capacity) keys at any input cardinality —
    the partition-local candidate set never grows with the number of
    distinct keys seen (the reference's bounded-state ethos,
    ``src/bloom/filter.rs`` word-packed state, applied to candidates).

    When the tracked set exceeds ``prune_factor × capacity``, every
    counter is decremented by the (capacity+1)-th largest count and
    non-positive entries are dropped — at most ``capacity`` survive.
    Standard MG guarantee: a key with true partition count
    > total/(capacity) can never be fully decremented away, so every
    genuine partition-local heavy hitter survives to the final merge.
    Counts are MG lower bounds used only for candidate *ranking*; the
    reported estimate always comes from the CMS.
    """

    __slots__ = ("capacity", "limit", "counts")

    def __init__(self, capacity: int, prune_factor: int = 4):
        self.capacity = int(capacity)
        self.limit = int(prune_factor) * self.capacity
        self.counts: dict = {}  # hash -> [count, key]

    def add_unique(self, hashes, counts, keys, first_idx) -> None:
        """Absorb one batch's np.unique output (unique hashes + their
        counts + the key string of each hash's first occurrence)."""
        c_ = self.counts
        for h, fi, c in zip(hashes.tolist(), first_idx.tolist(), counts.tolist()):
            ent = c_.get(h)
            if ent is None:
                c_[h] = [c, keys[fi]]
            else:
                ent[0] += c
        if len(c_) > self.limit:
            self._prune()

    def _prune(self) -> None:
        vals = np.fromiter(
            (e[0] for e in self.counts.values()), dtype=np.int64, count=len(self.counts)
        )
        # (capacity+1)-th largest count: at most `capacity` entries are
        # strictly greater, so the survivor set is bounded by construction
        delta = int(np.partition(vals, -self.capacity - 1)[-self.capacity - 1])
        self.counts = {
            h: [c - delta, k] for h, (c, k) in self.counts.items() if c > delta
        }

    def __len__(self) -> int:
        return len(self.counts)

    def top(self) -> list[tuple[int, list]]:
        """Top-``capacity`` candidates by (count desc, hash) — stable."""
        return sorted(self.counts.items(), key=lambda kv: (-kv[1][0], kv[0]))[
            : self.capacity
        ]


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    eps: float = 0.0001,
    delta: float = 0.001,
    candidates_per_partition: int = 1024,
    threshold: int | None = None,
    top_k: int | None = None,
    tree_fanin: int | None = None,
) -> DataFrame:
    """Returns (key, est_count) for candidate heavy hitters; filter with
    ``threshold`` (count ≥ threshold) and/or ``top_k``.

    ``tree_fanin``: pre-merge partials in ``pid % fanin`` buckets so the
    final reducer sees at most ``fanin`` rows — required when the input
    has ~10⁴+ partitions (otherwise one reducer deserializes every
    partition's CMS matrix)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    projected = df.select(
        F.col(key_col).cast("string").alias("__key"),
        F.xxhash64(F.col(key_col).cast("string")).alias("__h"),
    )
    arrow_schema = to_arrow_schema(_PARTIAL_SCHEMA)
    eps_, delta_, cpp = eps, delta, candidates_per_partition

    def build(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        cms = CountMinSketch(eps=eps_, delta=delta_)
        tracker = BoundedCandidateTracker(cpp)
        n = 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            keys = batch.column("__key").to_numpy(zero_copy_only=False)
            hashes = (
                batch.column("__h").to_numpy(zero_copy_only=False).view(np.uint64)
            )
            n += len(hashes)
            uh, first_idx, ucnt = np.unique(
                hashes, return_index=True, return_counts=True
            )
            cms.update_hashes(uh, ucnt)
            tracker.add_unique(uh, ucnt, keys, first_idx)
        if n == 0:
            return
        top = tracker.top()
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([pid], type=pa.int32()),
                pa.array([cms.to_bytes()], type=pa.binary()),
                pa.array([[str(kv[1][1]) for kv in top]], type=pa.list_(pa.string())),
                pa.array(
                    [[np.int64(np.uint64(kv[0]).astype(np.int64)) for kv in top]],
                    type=pa.list_(pa.int64()),
                ),
                pa.array([n], type=pa.int64()),
            ],
            schema=arrow_schema,
        )

    partials = projected.mapInArrow(build, _PARTIAL_SCHEMA)

    def premerge(pdf: pd.DataFrame) -> pd.DataFrame:
        """Bucket-level partial merge: CMS add + candidate union (deduped
        by hash). Output shape identical to a single partial row."""
        pdf = pdf.sort_values("__pid", kind="stable")
        blobs = pdf["cms_state"]
        cms = CountMinSketch.from_bytes(blobs.iloc[0])
        for b in blobs.iloc[1:]:
            cms.merge_bytes(b)
        key_by_hash: dict = {}
        for keys, hashes in zip(pdf["cand_keys"], pdf["cand_hashes"]):
            for k, h in zip(keys, hashes):
                key_by_hash.setdefault(int(h), k)
        hs = sorted(key_by_hash.keys())
        return pd.DataFrame(
            {
                "__pid": [int(pdf["__pid"].iloc[0])],
                "cms_state": [cms.to_bytes()],
                "cand_keys": [[key_by_hash[h] for h in hs]],
                "cand_hashes": [hs],
                "n_updates": [int(pdf["n_updates"].sum())],
            }
        )

    if tree_fanin and tree_fanin > 1:
        partials = (
            partials.withColumn("__bucket", F.pmod(F.col("__pid"), F.lit(tree_fanin)))
            .groupBy("__bucket")
            .applyInPandas(premerge, _PARTIAL_SCHEMA)
        )

    def finish(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__pid", kind="stable")
        blobs = pdf["cms_state"]
        cms = CountMinSketch.from_bytes(blobs.iloc[0])
        for b in blobs.iloc[1:]:
            cms.merge_bytes(b)
        key_by_hash: dict = {}
        for keys, hashes in zip(pdf["cand_keys"], pdf["cand_hashes"]):
            for k, h in zip(keys, hashes):
                key_by_hash.setdefault(int(h), k)
        if not key_by_hash:
            return pd.DataFrame({"key": [], "est_count": []})
        hs = np.array(sorted(key_by_hash.keys()), dtype=np.int64).view(np.uint64)
        ests = cms.estimate_hashes(hs)
        return pd.DataFrame(
            {
                "key": [key_by_hash[int(h)] for h in hs.view(np.int64)],
                "est_count": ests.astype(np.int64),
            }
        )

    merged = (
        partials.withColumn("__g", F.lit(1)).groupBy("__g").applyInPandas(finish, _FINAL_SCHEMA)
    )
    out = merged
    if threshold is not None:
        out = out.where(F.col("est_count") >= threshold)
    if top_k is not None:
        out = out.orderBy(F.desc("est_count"), "key").limit(top_k)
    return out


def build_cms_state(
    df: DataFrame,
    key_col: str,
    eps: float = 0.0001,
    delta: float = 0.001,
    tree_fanin: int | str | None = "auto",
) -> bytes:
    """Distributed CMS build over a key column; returns final state bytes
    on the driver (for broadcast probing with :func:`cms_probe`).

    ``tree_fanin="auto"`` (default) enables a pre-merge level only when
    the input partition count makes it pay off; pass an explicit int to
    force one (always honored), or ``None`` to disable."""
    from probabilistic_rs_spark.operators.sketch_agg import (
        SketchSpec,
        resolve_tree_fanin,
        sketch_aggregate,
    )

    spec = SketchSpec("cms", "cms", key_col, {"eps": eps, "delta": delta})
    merged = sketch_aggregate(df, [], [spec], tree_fanin=resolve_tree_fanin(df, tree_fanin))
    row = merged.select("cms_state").head()
    if row is None:  # empty input -> empty sketch, not a crash
        return spec.make().to_bytes()
    return bytes(row["cms_state"])


# driver-side broadcast reuse: repeated probes against the same state
# share one broadcast instead of leaking a new one per call
_PROBE_BROADCASTS: dict[tuple, object] = {}
# executor-side cache: deserialize a broadcast CMS once per worker, not
# once per Arrow batch (same pattern as membership._FILTER_CACHE)
_CMS_CACHE: dict[str, CountMinSketch] = {}


def _cms_broadcast(sc, state: bytes):
    import hashlib

    key = hashlib.sha1(state).hexdigest()
    memo_key = (sc.applicationId, key)
    bc = _PROBE_BROADCASTS.get(memo_key)
    if bc is None:
        from probabilistic_rs_spark.common import lru_evict

        bc = sc.broadcast(state)
        _PROBE_BROADCASTS[memo_key] = (key, bc)
        lru_evict(_PROBE_BROADCASTS, 32, lambda e: e[1].unpersist())
    return _PROBE_BROADCASTS[memo_key]


def cms_probe(
    probe_df: DataFrame,
    key_col: str,
    state: bytes,
    out_col: str = "est_count",
) -> DataFrame:
    """Adds a bigint point-estimate column: the CMS frequency estimate for
    each row's key (min over d rows; overestimate ≤ εN with prob ≥ 1−δ).
    The counting analog of the Bloom ``contains_bulk`` probe: broadcast the
    final state once, estimate whole Arrow batches map-side — zero
    exchanges in the probe plan. Keys are hashed JVM-side with the same
    ``xxhash64(cast string)`` the build path uses, so probe and build
    agree byte-for-byte. Repeated probes against the same state reuse one
    driver broadcast and a per-worker deserialized-CMS cache."""
    from pyspark.sql.functions import pandas_udf

    sc = probe_df.sparkSession.sparkContext
    key, bc = _cms_broadcast(sc, state)

    @pandas_udf(LongType())
    def est(hashes: pd.Series) -> pd.Series:
        from probabilistic_rs_spark.common import lru_evict

        cms = _CMS_CACHE.get(key)
        if cms is None:
            cms = CountMinSketch.from_bytes(bc.value)
            _CMS_CACHE[key] = cms
            lru_evict(_CMS_CACHE, 8)
        h = hashes.to_numpy(dtype="int64").view(np.uint64)
        return pd.Series(cms.estimate_hashes(h).astype(np.int64))

    return probe_df.withColumn(
        out_col, est(F.xxhash64(F.col(key_col).cast("string")))
    )


# driver-side cache of the one-row table relation per (session, state
# digest) — same idiom as membership._WORDS_DF_CACHE
_CMS_TABLE_DF_CACHE: dict[tuple[str, str], DataFrame] = {}


def _cms_table_df(spark, state: bytes, cms: CountMinSketch) -> DataFrame:
    from probabilistic_rs_spark.common import state_key

    app_id = spark.sparkContext.applicationId
    key = (app_id, state_key(state))
    df = _CMS_TABLE_DF_CACHE.get(key)
    if df is None:
        for old_key in [k for k in _CMS_TABLE_DF_CACHE if k[0] != app_id]:
            try:
                _CMS_TABLE_DF_CACHE.pop(old_key).unpersist()
            except Exception:
                pass
        df = spark.createDataFrame(
            [(cms.table.tolist(),)], "__cms_rows array<array<bigint>>"
        ).cache()
        _CMS_TABLE_DF_CACHE[key] = df
        from probabilistic_rs_spark.common import lru_evict

        lru_evict(_CMS_TABLE_DF_CACHE, 8, lambda d: d.unpersist())
    return df


def native_cms_probe(
    probe_df: DataFrame,
    key_col: str,
    state: bytes,
    out_col: str = "est_count",
) -> DataFrame:
    """``cms_probe`` with ZERO Python in the per-row path — the counting
    member of the native-probe family (native Bloom / native quotient).

    The CMS cell derivation is already Kirsch–Mitzenmacher over one
    xxhash64 (``sketches/cms.py:_cells``): ``h1 = h >> 32``,
    ``h2 = (h & 0xFFFFFFFF) | 1``, ``cell_j = (h1 + j·h2) & (w-1)`` —
    every step is an exact JVM long expression (h1 < 2^32, j·h2 < d·2^32
    ≪ 2^63, so ANSI arithmetic cannot overflow and signed math equals the
    kernel's uint64 math). The d×w count matrix rides a broadcast one-row
    ``array<array<bigint>>`` relation; the estimate is ``least`` over the
    d row lookups, evaluated inside whole-stage codegen. Identical
    estimates to :func:`cms_probe` by construction."""
    cms = CountMinSketch.from_bytes(state)
    tdf = _cms_table_df(probe_df.sparkSession, state, cms)
    h = F.xxhash64(F.col(key_col).cast("string"))
    h1 = F.call_function("shiftrightunsigned", h, F.lit(32))
    h2 = h.bitwiseAND(F.lit(0xFFFFFFFF)).bitwiseOR(F.lit(1))
    mask = F.lit(int(cms.w - 1))
    lookups = []
    for j in range(cms.d):
        cell = (h1 + F.lit(int(j)) * h2).bitwiseAND(mask)
        row = F.element_at(F.col("__cms_rows"), F.lit(int(j) + 1))
        lookups.append(F.element_at(row, cell.cast("int") + F.lit(1)))
    est = F.least(*lookups) if len(lookups) > 1 else lookups[0]
    from probabilistic_rs_spark.operators.sketch_agg import pushdown_barrier

    # pushdown_barrier (round 8): keeps a downstream filter on the
    # estimate from inlining the d lookups into the join condition (no
    # codegen CSE there — the shared xxhash64/h1/h2 chain re-evaluates
    # per lookup per row); the barriered ProjectExec computes them once
    est = pushdown_barrier(est)
    return (
        probe_df.crossJoin(F.broadcast(tdf))
        .withColumn(out_col, est)
        .drop("__cms_rows")
    )


def exact_group_count(df: DataFrame, key_col: str) -> DataFrame:
    """Exact per-key counts via the plain built-in aggregate. This is
    already skew-safe for counts: Spark's hash aggregate does map-side
    partial aggregation, so a hot key ships one partial row per map task —
    never its raw rows — to the reducer. No salt needed. Returns
    (key, cnt)."""
    return (
        df.select(F.col(key_col).cast("string").alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def salted_group_count(
    df: DataFrame, key_col: str, n_salts: int = 16
) -> DataFrame:
    """Exact counts (key, cnt), kept for API parity — delegates to
    :func:`exact_group_count`. A salted two-stage ``groupBy(key, salt) →
    groupBy(key)`` adds a second shuffle that built-in counts never need
    (partial aggregation already bounds per-reducer input); salting is
    load-bearing only for aggregations with NO partial-agg support, i.e.
    ``applyInPandas`` custom states — see :func:`salted_apply_in_pandas_agg`
    for that pattern."""
    return exact_group_count(df, key_col)


def salted_apply_in_pandas_agg(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n_salts: int = 16,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """The salted pattern where it IS load-bearing: ``applyInPandas`` has
    no map-side partial aggregation, so a hot key would funnel all its raw
    rows to one reducer task. Stage 1 groups by (key, salt) — a hot key's
    rows split across ``n_salts`` tasks, each folding its slice into a
    partial (here: sum + count); stage 2 re-aggregates the tiny partial
    rows by key. Returns (key, total double, cnt long). The same shape
    carries any mergeable custom state (a sketch, a reservoir).

    ``salt_cols``: extra columns mixed into the salt hash. The default
    salt hashes (key, value), which is retry-stable but DEGENERATE when a
    hot key's value is constant (the classic count workload where every
    row carries value=1): all its rows hash to ONE salt group and the
    skew this operator exists to break returns (ADVICE r3 #3). Pass any
    high-cardinality stable discriminator the rows carry — an event id, a
    timestamp, a source offset — to restore the split; such columns are
    retry-stable because they are row CONTENT, not generated ids."""
    out1 = StructType(
        [
            StructField("key", StringType(), False),
            StructField("total", DoubleType(), False),
            StructField("cnt", LongType(), False),
        ]
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "key": [pdf["key"].iloc[0]],
                "total": [float(pdf["val"].sum())],
                "cnt": [int(len(pdf))],
            }
        )

    # salt from STABLE row content (ADVICE r2): monotonically_increasing_id
    # is nondeterministic across task/stage retries — a recomputed upstream
    # stage could re-salt rows into different groups after partial shuffle
    # consumption and double-count/drop them (SPARK-23207 class). Hashing
    # (key, value [, salt_cols…]) is retry-stable; duplicate hash-input
    # rows sharing a salt only skews balance (fully so when a hot key's
    # value is constant — supply salt_cols then), never correctness.
    salt_inputs = [F.col(key_col).cast("string"), F.col(value_col)]
    salt_inputs += [F.col(c) for c in (salt_cols or [])]
    salted = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("val"),
        F.pmod(F.xxhash64(*salt_inputs), F.lit(n_salts)).alias("__salt"),
    )
    stage1 = salted.groupBy("key", "__salt").applyInPandas(fold, out1)
    return stage1.groupBy("key").agg(
        F.sum("total").alias("total"), F.sum("cnt").cast("long").alias("cnt")
    )


# ---------------------------------------------------------------------------
# Partitioned (non-broadcast) CMS — round 6
# ---------------------------------------------------------------------------
#
# The broadcast probes above ship the whole d×w matrix to every executor
# (~235 MB at eps 1e-6 / delta 1e-3). Past that budget the count family
# needs the same degradation the membership families got: the matrix
# lives as a DISTRIBUTED ``(row, block, cells)`` table (each matrix row
# range-sharded into column blocks), probe keys compute their d
# Kirsch–Mitzenmacher cells JVM-side, shuffle one lookup per (row,
# block), and ``min`` recombines per key. Per-task memory = one block +
# one key slice, independent of matrix size.


def _cms_geometry(eps: float, delta: float) -> tuple[int, int]:
    """(d, w) exactly as ``CountMinSketch.__init__`` derives them —
    arithmetic only, so an over-budget matrix is never allocated
    driver-side just to learn its shape."""
    import math

    if not (0.0 < eps < 1.0):
        raise SketchConfigError("CMS eps must be in (0,1)")
    if not (0.0 < delta < 1.0):
        raise SketchConfigError("CMS delta must be in (0,1)")
    d = max(1, math.ceil(math.log(1.0 / delta)))
    w = max(2, math.ceil(math.e / eps))
    return d, 1 << (w - 1).bit_length()


def _cms_cell_structs(h, d: int, w: int):
    """d ``struct(row, cell)`` expressions from one xxhash64 column — the
    same KM derivation ``sketches/cms.py:_cells`` and
    :func:`native_cms_probe` use (h1 < 2^32, j·h2 < d·2^32 ≪ 2^63: ANSI
    arithmetic cannot overflow; signed math equals the kernel's uint64)."""
    h1 = F.call_function("shiftrightunsigned", h, F.lit(32))
    h2 = h.bitwiseAND(F.lit(0xFFFFFFFF)).bitwiseOR(F.lit(1))
    mask = F.lit(int(w - 1))
    return [
        F.struct(
            F.lit(int(j)).alias("row"),
            (h1 + F.lit(int(j)) * h2).bitwiseAND(mask).alias("cell"),
        )
        for j in range(d)
    ]


def build_cms_blocks_df(
    df: DataFrame,
    key_col: str,
    eps: float = 0.0001,
    delta: float = 0.001,
    cells_per_block: int = 65536,
) -> DataFrame:
    """Build the distributed CMS blocks table WITHOUT ever materializing
    the d×w matrix anywhere: keys pre-aggregate to ``(hash, count)``
    (a plain hash aggregate — MAP-SIDE COMBINE, so the shuffle is
    bounded by distinct keys, not input rows; grouping by the hash is
    semantically identical to the CMS, whose cells derive from that same
    hash), explode to their d (row, cell) targets, shuffle to their
    (row, block), and each block sums its own cells in one numpy
    ``add.at`` pass. Returns ``(row, block, cells, d, w,
    cells_per_block)`` — blocks that received no counts are absent
    (probes read them as zero). One build's blocks per table — the same
    contract as every partitioned family."""
    cpb = int(cells_per_block)
    if cpb <= 0:
        raise SketchConfigError("cells_per_block must be positive")
    d, w = _cms_geometry(eps, delta)
    counts = df.groupBy(
        F.xxhash64(F.col(key_col).cast("string")).alias("__h")
    ).agg(F.count(F.lit(1)).alias("__c"))

    # Round 8 (guide §2.3, same packing as the windowed-bloom block
    # build): the former explode shipped one ~24 B UnsafeRow per (key,
    # row) cell target (d·distinct rows) into the scatter shuffle plus an
    # applyInPandas sort of all of them. The cell targets are now derived
    # in a mapInArrow stage over the aggregated (hash, count) rows —
    # identical KM arithmetic in uint64 — and each (partition, row,
    # block) emits ONE row with packed int32 offsets + int64 counts
    # (12 B/cell, no row overhead). The scatter, a fold_groups merge,
    # sums them per block with one np.add.at. Cell sums are order-free,
    # so the blocks table is bit-identical to the explode formulation's.
    mid_schema = StructType(
        [
            StructField("row", IntegerType(), False),
            StructField("block", IntegerType(), False),
            StructField("offs", BinaryType(), False),
            StructField("cnts", BinaryType(), False),
        ]
    )
    d_, w_u, cpb_ = int(d), np.uint64(w), np.uint64(cpb)

    def derive(batches):
        import pyarrow as pa

        acc: dict = {}  # (row, block) -> list[(offs int32[], cnts int64[])]
        for batch in batches:
            if batch.num_rows == 0:
                continue
            h = batch.column(0).to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            ).view(np.uint64)
            c = batch.column(1).to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            h1 = h >> np.uint64(32)
            h2 = (h & np.uint64(0xFFFFFFFF)) | np.uint64(1)
            mask = w_u - np.uint64(1)
            for j in range(d_):
                cells = (h1 + np.uint64(j) * h2) & mask
                blocks = cells // cpb_
                offs = (cells - blocks * cpb_).astype(np.int32)
                for b, sel in key_runs(blocks):
                    acc.setdefault((j, int(b)), []).append((offs[sel], c[sel]))
        if not acc:
            return
        rows, blks, offs_p, cnts_p = [], [], [], []
        for (j, b), chunks in acc.items():
            rows.append(j)
            blks.append(b)
            if len(chunks) == 1:
                o, cc = chunks[0]
            else:
                o = np.concatenate([x[0] for x in chunks])
                cc = np.concatenate([x[1] for x in chunks])
            offs_p.append(o.tobytes())
            cnts_p.append(cc.tobytes())
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(rows, type=pa.int32()),
                pa.array(blks, type=pa.int32()),
                pa.array(offs_p, type=pa.binary()),
                pa.array(cnts_p, type=pa.binary()),
            ],
            names=["row", "block", "offs", "cnts"],
        )

    mid = counts.mapInArrow(derive, mid_schema)
    schema = StructType(
        [
            StructField("cells", ArrayType(LongType()), False),
            StructField("d", IntegerType(), False),
            StructField("w", LongType(), False),
            StructField("cells_per_block", IntegerType(), False),
        ]
    )

    def add_cells(key: tuple, vals: dict) -> tuple:
        block = key[1]
        cells = np.zeros(min(cpb, w - block * cpb), dtype=np.int64)
        offs = np.frombuffer(b"".join(vals["offs"].to_pylist()), dtype=np.int32)
        cnts = np.frombuffer(b"".join(vals["cnts"].to_pylist()), dtype=np.int64)
        np.add.at(cells, offs, cnts)
        return cells, d, w, cpb

    return fold_groups(mid, ["row", "block"], ["offs", "cnts"], add_cells, schema)


def _cms_blocks_meta(blocks_df: DataFrame) -> tuple[int, int, int] | None:
    row = blocks_df.agg(
        F.max("d").alias("d_hi"), F.min("d").alias("d_lo"),
        F.max("w").alias("w_hi"), F.min("w").alias("w_lo"),
        F.max("cells_per_block").alias("c_hi"), F.min("cells_per_block").alias("c_lo"),
    ).head()
    if row is None or row["d_hi"] is None:
        return None
    if (row["d_hi"], row["w_hi"], row["c_hi"]) != (row["d_lo"], row["w_lo"], row["c_lo"]):
        raise SketchConfigError(
            "blocks_df mixes CMS geometries "
            f"(d {row['d_lo']}..{row['d_hi']}, w {row['w_lo']}..{row['w_hi']}, "
            f"cells_per_block {row['c_lo']}..{row['c_hi']}) — probe one "
            "build's blocks at a time"
        )
    return int(row["d_hi"]), int(row["w_hi"]), int(row["c_hi"])


def cms_partitioned_probe(
    probe_df: DataFrame,
    key_col: str,
    blocks_df: DataFrame,
    out_col: str = "est_count",
) -> DataFrame:
    """Point estimates against the DISTRIBUTED CMS blocks table — the
    non-broadcast sibling of :func:`cms_probe` / :func:`native_cms_probe`
    with identical estimates by construction (same hash, same KM cells,
    same min-combine):

    1. distinct probe keys compute their d (row, cell) targets in
       codegen and explode to d rows;
    2. a LEFT equi-join on (row, block) routes each lookup to the task
       holding that matrix slice (an absent block row is a zero cell —
       ``coalesce``);
    3. ``min`` over the d values per key, re-joined to the probe rows by
       the key's xxhash64 — never by key value: the matrix was BUILT by
       grouping on that same hash and every cell derives from it, so
       equal hashes get identical estimates by construction, and probe
       keys shuffle as 8 fixed bytes instead of arbitrary-width strings
       (the compact estimate relation is broadcast-eligible for the
       rejoin; the hash is non-null even for null keys, which the build
       counted under the same constant hash).

    Shuffle volume: d·20 B per distinct probe key + the blocks table —
    row-count-bounded, never matrix-size-bounded. The probe walks
    ``blocks_df`` twice (geometry check + lookup join), so the
    persist-before-probe contract is ENFORCED here (VERDICT r6 #3): an
    unpersisted table is persisted internally via
    ``common.ensure_persisted`` (LRU-bounded; already-persisted tables
    pass through untouched)."""
    from probabilistic_rs_spark.common import ensure_persisted

    blocks_df = ensure_persisted(blocks_df)
    meta = _cms_blocks_meta(blocks_df)
    if meta is None:
        return probe_df.withColumn(out_col, F.lit(0).cast("bigint"))
    d, w, cpb = meta
    pr = probe_df.withColumn(
        "__cmsph", F.xxhash64(F.col(key_col).cast("string"))
    )
    keys = pr.select("__cmsph").distinct()
    e = keys.select(
        "__cmsph",
        F.explode(F.array(*_cms_cell_structs(F.col("__cmsph"), d, w))).alias("__rc"),
    ).select(
        "__cmsph",
        F.col("__rc.row").alias("row"),
        F.expr(f"CAST(__rc.cell DIV {cpb} AS INT)").alias("block"),
        F.expr(f"CAST(__rc.cell % {cpb} AS INT)").alias("__off"),
    )
    joined = e.join(
        blocks_df.select("row", "block", "cells"), ["row", "block"], "left"
    )
    val = F.coalesce(
        F.element_at(F.col("cells"), F.col("__off") + F.lit(1)),
        F.lit(0).cast("bigint"),
    )
    ests = joined.groupBy("__cmsph").agg(F.min(val).alias("__cmsp_est"))
    out = pr.join(ests, ["__cmsph"], "left")
    return out.withColumn(
        out_col, F.coalesce(F.col("__cmsp_est"), F.lit(0).cast("bigint"))
    ).drop("__cmsph", "__cmsp_est")


# ---------------------------------------------------------------------------
# Misra–Gries summaries — deterministic mergeable top-k (round 7)
# ---------------------------------------------------------------------------

def mg_states(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    k: int = 1024,
    tree_fanin: int | None = None,
) -> DataFrame:
    """One merged Misra–Gries summary per group through the generic
    partial/merge pipeline (``sketches/mg.py``): ``group_cols…, mg_state
    binary, n_updates long``. Partial states are bounded at k entries +
    key bytes regardless of row count or key cardinality, so the shuffle
    is state-sized — the same scale contract as every other family."""
    from probabilistic_rs_spark.operators.sketch_agg import SketchSpec, sketch_aggregate

    group_cols = group_cols or []
    spec = SketchSpec("mg", "mg", col, {"k": k})
    return sketch_aggregate(df, group_cols, [spec], tree_fanin=tree_fanin)


def mg_topk(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    k: int = 1024,
    threshold: int = 1,
    tree_fanin: int | None = None,
) -> DataFrame:
    """Deterministic top-k / heavy hitters with EXACT keys and a
    self-certifying error bound — the complement of
    :func:`cms_heavy_hitters`:

    * no probe set needed (MG carries the keys; CMS needs candidates),
    * no hashing, no δ failure probability,
    * every row ships its guarantee: ``est_count <= true count <=
      est_count + max_undercount``, and any key whose true count exceeds
      ``max_undercount`` is guaranteed present (PODS'12 invariant). When
      the per-group key cardinality never exceeded k anywhere,
      ``max_undercount`` is 0 and every count is exact.

    Output: ``group_cols…, key string, est_count long, max_undercount
    double`` — retained keys with ``est_count >= threshold``, exploded
    from the merged per-group summaries (state-sized work; input data is
    scanned exactly once by the build)."""
    from pyspark.sql.types import (
        DoubleType as _D,
        LongType as _L,
        StringType as _S,
        StructField as _SF,
        StructType as _ST,
    )

    from probabilistic_rs_spark.sketches.mg import MisraGries

    group_cols = group_cols or []
    states = mg_states(df, col, group_cols, k=k, tree_fanin=tree_fanin)
    in_schema = states.schema
    out_schema = _ST(
        [in_schema[g] for g in group_cols]
        + [
            _SF("key", _S(), False),
            _SF("est_count", _L(), False),
            _SF("max_undercount", _D(), False),
        ]
    )
    thresh = int(threshold)

    def explode_states(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = []
            for _, r in pdf.iterrows():
                sk = MisraGries.from_bytes(bytes(r["mg_state"]))
                d = sk.max_undercount()
                base = {g: r[g] for g in group_cols}
                for key, est in sk.top(threshold=thresh):
                    rows.append(
                        {
                            **base,
                            "key": key.decode("utf-8"),
                            "est_count": int(est),
                            "max_undercount": float(d),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            ) if rows else pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in out_schema.fields}
            )

    return states.mapInPandas(explode_states, out_schema)
