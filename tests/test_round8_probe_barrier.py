"""Round-8 probe-plan regression gates.

The native (JVM-expression) probes wrap their output column in
``pushdown_barrier`` so a downstream filter cannot inline the probe
expression into the broadcast join's condition — join conditions are
generated without whole-stage codegen's common-subexpression
elimination, and the inlined form re-evaluated the shared KM hash
chains per reference per row (measured 4.1 s vs 0.58 s over 10^6
count-sketch probes). These tests pin (a) the barrier's value identity
and (b) the plan shape: after a filter on the probe output, the join
carries NO condition — the expression lives in a Project and the
Filter reads the materialized column.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT as SF


def _final_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


class TestPushdownBarrier:
    def test_value_identity_long_and_boolean(self, spark):
        from probabilistic_rs_spark.operators.sketch_agg import pushdown_barrier

        df = spark.range(1000).select(
            F.col("id"), (F.col("id") % 7).alias("v"), (F.col("id") % 2 == 0).alias("b")
        )
        out = df.select(
            "id",
            pushdown_barrier(F.col("v") * 3 + 1).alias("lv"),
            pushdown_barrier(F.col("b"), boolean=True).alias("bv"),
        ).collect()
        for r in out:
            assert r["lv"] == (r["id"] % 7) * 3 + 1
            assert r["bv"] == (r["id"] % 2 == 0)

    def test_native_cs_probe_filter_not_inlined_into_join(self, spark):
        from probabilistic_rs_spark.operators.moments import (
            build_cs_state,
            native_cs_probe,
        )

        ev = spark.read.parquet(f"{SF}/events.parquet")
        state = build_cs_state(ev, "event_type", eps=0.05, delta=0.01)
        q = native_cs_probe(ev.select("event_type").distinct(), "event_type", state)
        plan = _final_plan(q.where(F.col("est_count") > 0))
        join_lines = [
            ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln
        ]
        assert join_lines, plan[:1500]
        # condition-free cross join: the median network must NOT appear
        # in the join line (it lives in a Project above, where codegen
        # CSE applies)
        assert not any("least(" in ln or "xxhash64" in ln for ln in join_lines), (
            join_lines
        )
        assert "Filter" in plan

    def test_native_bloom_semi_filter_join_carries_no_bit_tests(self, spark):
        from probabilistic_rs_spark.operators.membership import (
            build_native_bloom_state,
            native_bloom_semi_filter,
        )

        orders = spark.read.parquet(f"{SF}/orders.parquet")
        state = build_native_bloom_state(orders, "o_custkey", capacity=50_000)
        probes = orders.select(F.col("o_custkey").alias("k"))
        plan = _final_plan(native_bloom_semi_filter(probes, "k", state))
        join_lines = [
            ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln
        ]
        assert join_lines, plan[:1500]
        assert not any("shiftrightunsigned" in ln for ln in join_lines), join_lines


def _keys(spark, n=2000):
    return spark.range(n).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )


def _nbloom(df):
    from probabilistic_rs_spark.operators.membership import build_native_bloom_state

    return build_native_bloom_state(df, "k", capacity=4000)


def _cuckoo(df):
    from probabilistic_rs_spark.operators.cuckoo import build_cuckoo_shards

    return build_cuckoo_shards(df, "k", capacity=4000, n_shards=4, native=True)


def _quotient(df):
    from probabilistic_rs_spark.operators.quotient import build_quotient_state

    return build_quotient_state(df, "k", capacity=4000)


def _levels(df):
    from probabilistic_rs_spark.operators.windowed_bloom import windowed_bloom_states

    ts = F.timestamp_seconds(F.lit(1_700_000_000) + (F.col("v") % 3) * 3600)
    states = windowed_bloom_states(
        df.withColumn("ts", ts), "ts", "k", capacity_per_level=2000, engine="native"
    )
    return [
        (r["window_start"], r["window_end"], bytes(r["bloom_state"]))
        for r in states.collect()
    ]


def _probe_cases():
    """(id, build(df) -> state, probe(df, state) -> filtered df): every
    native probe and semi-filter, each followed by a filter on its output."""
    from probabilistic_rs_spark.operators import (
        cuckoo,
        heavy_hitters,
        membership,
        moments,
        quantiles,
        quotient,
        windowed_bloom,
    )

    member, est, cdf = "is_member", "est_count > 0", "cdf > 0.5"
    return [
        ("bloom", _nbloom, lambda df, s: membership.native_bloom_probe(df, "k", s).where(member)),
        ("bloom_semi", _nbloom, lambda df, s: membership.native_bloom_semi_filter(df, "k", s)),
        ("cms", lambda df: heavy_hitters.build_cms_state(df, "k", eps=0.01, delta=0.01),
         lambda df, s: heavy_hitters.native_cms_probe(df, "k", s).where(est)),
        ("count_sketch", lambda df: moments.build_cs_state(df, "k", eps=0.05, delta=0.01),
         lambda df, s: moments.native_cs_probe(df, "k", s).where(est)),
        ("quotient", _quotient, lambda df, s: quotient.native_quotient_probe(df, "k", s).where(member)),
        ("quotient_semi", _quotient, lambda df, s: quotient.native_quotient_semi_filter(df, "k", s)),
        ("cuckoo", _cuckoo, lambda df, s: cuckoo.native_cuckoo_probe(df, "k", s).where(member)),
        ("cuckoo_semi", _cuckoo, lambda df, s: cuckoo.native_cuckoo_semi_filter(df, "k", s)),
        ("tdigest_cdf", lambda df: quantiles.build_tdigest_state(df, "v"),
         lambda df, s: quantiles.native_tdigest_cdf_probe(df, "v", s).where(cdf)),
        ("kll_cdf", lambda df: quantiles.build_kll_state(df, "v"),
         lambda df, s: quantiles.native_kll_cdf_probe(df, "v", s).where(cdf)),
        ("windowed_levels", _levels,
         lambda df, s: windowed_bloom.native_probe_recent(df, "k", s).where(member)),
    ]


_CASES = _probe_cases()


class TestOneProbePath:
    """Every native probe goes through ``sketch_agg.broadcast_state_probe``:
    after a filter on its output, the BroadcastNestedLoopJoin carries no
    condition — no state column, hash or lookup appears on its line."""

    @pytest.mark.parametrize("build,probe", [c[1:] for c in _CASES], ids=[c[0] for c in _CASES])
    def test_filter_not_inlined_into_join(self, spark, build, probe):
        df = _keys(spark)
        q = probe(df, build(df))
        plan = _final_plan(q)
        join_lines = [
            ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln
        ]
        assert join_lines, plan[:2000]
        assert not any(
            mark in ln for ln in join_lines for mark in ("__", "xxhash64", "element_at")
        ), join_lines
        assert "Filter" in plan
        assert q.count() > 0
