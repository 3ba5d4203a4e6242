"""The Arrow-native group fold (``sketch_agg.fold_groups``) behind every
build-path merge:

* no build-path plan holds a ``FlatMapGroupsInPandas`` node;
* ``sketch_aggregate`` groups null, NaN/-0.0 and struct keys the way
  Spark does, checked against a ``pandas.groupby`` oracle over the same
  rows, also when partitions arrive as many small Arrow batches;
* an empty input gives zero rows, grouped or not;
* the block builds give the same blocks whatever the Arrow batch size;
* array keys fail on the driver.
"""

from __future__ import annotations

import math
from collections import Counter
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from probabilistic_rs_spark.errors import SketchConfigError
from probabilistic_rs_spark.operators.heavy_hitters import build_cms_blocks_df
from probabilistic_rs_spark.operators.sketch_agg import (
    SketchSpec,
    sketch_aggregate,
    sketch_partials,
)
from probabilistic_rs_spark.operators.windowed_bloom import (
    build_windowed_bloom_blocks_df,
)
from probabilistic_rs_spark.sketches.mg import MisraGries

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
# a NaN whose bit pattern differs from float("nan"): Spark groups it with
# every other NaN
OTHER_NAN = float(np.array([0x7FF8000000000123], dtype=np.uint64).view(np.float64)[0])
KEYS = [0.0, -0.0, float("nan"), None, 1.5, OTHER_NAN, -2.0]


@contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _canon_double(x):
    """Spark's grouping equality for a double key: null is its own key,
    every NaN is one key, -0.0 equals 0.0."""
    if x is None:
        return ("null",)
    if math.isnan(x):
        return ("nan",)
    return ("v", x + 0.0)


def _canon_struct(s):
    if s is None:
        return ("null",)
    return ("s", ("null",) if s["a"] is None else ("v", s["a"]), _canon_double(s["b"]))


def _rows(n=420):
    out = []
    for i in range(n):
        a = None if i % 5 == 0 else i % 3
        s = None if i % 11 == 0 else {"a": a, "b": KEYS[(i // 2) % len(KEYS)]}
        out.append((KEYS[i % len(KEYS)], s, f"v{i % 13}"))
    return out


@pytest.fixture(scope="module")
def keyed(spark):
    df = spark.createDataFrame(
        _rows(), "k double, s struct<a: bigint, b: double>, v string"
    ).repartition(4)
    return df.cache()


def _oracle(rows, idx, canon):
    """pandas.groupby over the canonical key: value counts per group."""
    pdf = pd.DataFrame({"k": [canon(r[idx]) for r in rows], "v": [r[2] for r in rows]})
    return {k: dict(Counter(g)) for k, g in pdf.groupby("k")["v"]}


def _spark_groups(df, col, canon, tree_fanin):
    spec = SketchSpec("mg", "mg", "v", {"k": 64})  # k > distinct values: exact
    rows = sketch_aggregate(df, [col], [spec], tree_fanin=tree_fanin).collect()
    got = {}
    for r in rows:
        key = r[col].asDict() if col == "s" and r[col] is not None else r[col]
        counts = MisraGries.from_bytes(bytes(r["mg_state"])).top()
        assert sum(c for _, c in counts) == r["n_updates"]
        got[canon(key)] = {k.decode(): int(c) for k, c in counts}
    assert len(got) == len(rows), "a key came back in more than one row"
    return got


class TestGroupingSemantics:
    @pytest.mark.parametrize("tree_fanin", [None, 2])
    @pytest.mark.parametrize("batch", ["10000", "7"])
    def test_double_keys_match_pandas_groupby(self, spark, keyed, tree_fanin, batch):
        with _conf(spark, BATCH_CONF, batch):
            got = _spark_groups(keyed, "k", _canon_double, tree_fanin)
        want = _oracle(_rows(), 0, _canon_double)
        assert got == want
        assert ("null",) in got and ("nan",) in got and ("v", 0.0) in got

    @pytest.mark.parametrize("batch", ["10000", "7"])
    def test_struct_keys_match_pandas_groupby(self, spark, keyed, batch):
        with _conf(spark, BATCH_CONF, batch):
            got = _spark_groups(keyed, "s", _canon_struct, None)
        assert got == _oracle(_rows(), 1, _canon_struct)

    def test_empty_input_gives_no_rows(self, spark, keyed):
        spec = SketchSpec("u", "hll", "v", {"p": 10})
        empty = keyed.limit(0)
        assert sketch_aggregate(empty, [], [spec]).count() == 0
        assert sketch_aggregate(empty, [], [spec], tree_fanin=2).count() == 0
        assert sketch_aggregate(empty, ["k"], [spec]).count() == 0

    def test_array_key_fails_on_driver(self, spark, keyed):
        spec = SketchSpec("u", "hll", "v", {"p": 10})
        arr = keyed.withColumn("arr", F.array("k"))
        with pytest.raises(SketchConfigError, match="array and map keys"):
            sketch_partials(arr, ["arr"], [spec])


def _cms_blocks(df):
    return build_cms_blocks_df(df, "user", eps=0.01, delta=0.01, cells_per_block=64)


def _windowed_blocks(df):
    return build_windowed_bloom_blocks_df(
        df, "level", "user", capacity_per_level=3000, target_fpr=1e-3,
        words_per_block=64,
    )


@pytest.fixture(scope="module")
def events(spark):
    df = spark.range(6000).select(
        (F.col("id") % 4).alias("level"),
        F.concat(F.lit("u"), (F.col("id") % 2500).cast("string")).alias("user"),
    ).repartition(3)
    return df.cache()


class TestBuildPlans:
    @pytest.mark.parametrize(
        "build",
        [
            lambda ev: sketch_aggregate(
                ev, ["level"], [SketchSpec("u", "hll", "user", {"p": 10})]
            ),
            lambda ev: sketch_aggregate(ev, [], [SketchSpec("u", "hll", "user", {"p": 10})]),
            lambda ev: sketch_aggregate(
                ev, ["level"], [SketchSpec("u", "hll", "user", {"p": 10})], tree_fanin=2
            ),
            _cms_blocks,
            _windowed_blocks,
        ],
        ids=["grouped", "ungrouped", "tree_fanin_2", "cms_blocks", "windowed_blocks"],
    )
    def test_no_flat_map_groups_in_pandas(self, events, build):
        out = build(events)
        assert out.count() > 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan, plan
        assert "MapInArrow" in plan, plan


class TestBatchSizeInvariance:
    @pytest.mark.parametrize("build", [_cms_blocks, _windowed_blocks], ids=["cms", "windowed"])
    def test_small_arrow_batches_give_the_same_blocks(self, spark, events, build):
        columns = build(events).columns
        keys = [c for c in ("row", "level", "block") if c in columns]
        val = "cells" if "cells" in columns else "words"

        def blocks():
            rows = build(events).collect()
            return sorted((tuple(r[c] for c in keys), tuple(r[val])) for r in rows)

        default = blocks()
        with _conf(spark, BATCH_CONF, "64"):
            small = blocks()
        assert small == default
        assert len(default) > 4

    @pytest.mark.parametrize("build", [_cms_blocks, _windowed_blocks], ids=["cms", "windowed"])
    def test_partial_flush_budget_gives_the_same_blocks(self, spark, events, build, monkeypatch):
        """With a byte budget of a few KiB the partial stages emit their
        buffered offsets many times per task, so some block gets more
        partial rows than in the default run, and the folded blocks stay
        bit-identical."""
        from probabilistic_rs_spark.operators import heavy_hitters, sketch_agg

        mids = []
        fold = sketch_agg.fold_groups

        def recording(df, keys, *args):
            mids.append((df, keys))
            return fold(df, keys, *args)

        monkeypatch.setattr(heavy_hitters, "fold_groups", recording)
        monkeypatch.setattr(sketch_agg, "fold_groups", recording)

        def run():
            mids.clear()
            out = build(events)
            mid, keys = mids[-1]
            partials = Counter(tuple(r) for r in mid.select(*keys).collect())
            val = "cells" if "cells" in out.columns else "words"
            blocks = sorted(
                (tuple(r[c] for c in keys), tuple(r[val])) for r in out.collect()
            )
            return partials, blocks

        with _conf(spark, BATCH_CONF, "64"):
            default_partials, default_blocks = run()
            monkeypatch.setattr(sketch_agg, "_PARTIAL_FLUSH_BYTES", 4096)
            small_partials, small_blocks = run()
        assert small_blocks == default_blocks
        assert sum(small_partials.values()) > sum(default_partials.values())
        assert any(small_partials[k] > n for k, n in default_partials.items())
