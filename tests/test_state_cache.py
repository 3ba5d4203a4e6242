"""The keyed caches behind every broadcast probe (``common.KeyedCache``):

* the LRU keeps the newest entries, a hit refreshes recency, and evicted
  values are released;
* a session-scoped cache drops, without releasing, the entries of
  another application id;
* probing one state twice in a session makes one broadcast per
  pandas-kernel probe family.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from probabilistic_rs_spark.common import BROADCASTS, KeyedCache


class TestKeyedCache:
    def test_lru_keeps_newest_and_releases_evicted(self):
        released = []
        cache = KeyedCache(3, release=released.append)
        for i in range(5):
            assert cache.get((i,), lambda i=i: f"v{i}") == f"v{i}"
        assert list(cache.entries) == [(2,), (3,), (4,)]
        assert released == ["v0", "v1"]
        # a hit refreshes recency and does not rebuild
        assert cache.get((2,), lambda: "rebuilt") == "v2"
        cache.get((5,), lambda: "v5")
        assert list(cache.entries) == [(4,), (2,), (5,)]
        assert released == ["v0", "v1", "v3"]

    def test_new_application_drops_old_session(self):
        # the old session's context is stopped: its entries are dropped
        # without release (a stale Broadcast.unpersist would reach the
        # running context, whose broadcast ids restart at 0)
        released = []
        cache = KeyedCache(8, release=released.append, session_scoped=True)
        cache.get(("app-1", "a"), lambda: "a1")
        cache.get(("app-1", "b"), lambda: "b1")
        assert cache.get(("app-2", "a"), lambda: "a2") == "a2"
        assert list(cache.entries) == [("app-2", "a")]
        assert released == []


def _families():
    """(family, build(df) -> state, probe(df, state) -> df) for every
    probe that runs a pandas kernel against a broadcast state."""
    from probabilistic_rs_spark.operators import (
        cuckoo,
        heavy_hitters,
        membership,
        moments,
        quantiles,
        quotient,
        windowed_bloom,
    )

    def levels(df):
        states = windowed_bloom.windowed_bloom_states(
            df.withColumn("ts", F.timestamp_seconds(F.lit(1_700_000_000))),
            "ts", "k", capacity_per_level=2000,
        )
        return [
            (r["window_start"], r["window_end"], bytes(r["bloom_state"]))
            for r in states.collect()
        ]

    return [
        ("bloom", lambda df: membership.build_bloom_state(df, "k", capacity=2000),
         lambda df, s: membership.bloom_probe(df, "k", s)),
        ("cms", lambda df: heavy_hitters.build_cms_state(df, "k", eps=0.01, delta=0.01),
         lambda df, s: heavy_hitters.cms_probe(df, "k", s)),
        ("count_sketch", lambda df: moments.build_cs_state(df, "k", eps=0.05, delta=0.01),
         lambda df, s: moments.cs_probe(df, "k", s)),
        ("quotient", lambda df: quotient.build_quotient_state(df, "k", capacity=2000),
         lambda df, s: quotient.quotient_probe(df, "k", s)),
        ("cuckoo", lambda df: cuckoo.build_cuckoo_shards(df, "k", capacity=2000, n_shards=2),
         lambda df, s: cuckoo.cuckoo_probe(df, "k", s)),
        ("tdigest", lambda df: quantiles.build_tdigest_state(df, "v"),
         lambda df, s: quantiles.tdigest_cdf_probe(df, "v", s)),
        ("kll", lambda df: quantiles.build_kll_state(df, "v"),
         lambda df, s: quantiles.kll_cdf_probe(df, "v", s)),
        ("levels", levels, lambda df, s: windowed_bloom.probe_recent(df, "k", s)),
    ]


def test_one_broadcast_per_state_and_session(spark, monkeypatch):
    df = spark.range(500).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("k"),
        (F.col("id") % 31).cast("double").alias("v"),
    )
    sc = spark.sparkContext
    made = []
    real = sc.broadcast

    def counting(value):
        made.append(value)
        return real(value)

    BROADCASTS.clear()
    monkeypatch.setattr(sc, "broadcast", counting)
    try:
        for family, build, probe in _families():
            state = build(df)
            before = len(made)
            first = probe(df, state).collect()
            second = probe(df, state).collect()
            assert len(made) - before == 1, family
            assert first == second, family
    finally:
        BROADCASTS.clear()
