"""Round-6 partitioned (non-broadcast) windowed-Bloom family (VERDICT r5
"What's missing #1" / next-round #2):

* blocks exploded from built native level states probe identically to the
  broadcast ``native_probe_recent``;
* blocks built DIRECTLY from events (never materializing a level) are
  bit-identical to blocks exploded from built states;
* a null level is a level of its own in the direct build (bit-identical
  to the states explode); a struct level fails on the driver;
* per-level AND / cross-level OR semantics, level expiry via num_levels;
* mixed-geometry and wrong-engine inputs fail loudly;
* the probe plan needs no broadcast: with broadcast joins disabled it is
  still cartesian-free (shuffle equi-joins only).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from probabilistic_rs_spark.errors import SketchConfigError
from probabilistic_rs_spark.operators.sketch_agg import SketchSpec, sketch_aggregate
from probabilistic_rs_spark.operators.windowed_bloom import (
    build_windowed_bloom_blocks_df,
    native_probe_recent,
    windowed_bloom_partitioned_probe,
    windowed_states_to_blocks_df,
)

CAP, FPR = 5000, 1e-6


def _events(spark):
    # 3 buckets x 300 users; bucket b holds users [100*b, 100*b + 599)
    return (
        spark.range(3 * 600)
        .select(
            (F.col("id") % 3).alias("bucket"),
            F.concat(
                F.lit("u"), ((F.col("id") % 3) * 100 + F.col("id") / 3).cast("long")
            ).alias("user"),
        )
    )


@pytest.fixture(scope="module")
def built(spark):
    ev = _events(spark).cache()
    ev.count()
    spec = SketchSpec(
        "bloom", "nbloom", "user", {"capacity": CAP, "false_positive_rate": FPR}
    )
    states = sketch_aggregate(ev, ["bucket"], [spec]).withColumnRenamed(
        "bucket", "window_start"
    )
    states = states.cache()
    states.count()
    blocks = windowed_states_to_blocks_df(states, num_levels=3, words_per_block=64)
    blocks = blocks.cache()
    blocks.count()
    yield ev, states, blocks
    for df in (ev, states, blocks):
        df.unpersist()


class TestPartitionedProbe:
    def test_matches_native_broadcast_probe(self, spark, built):
        ev, states, blocks = built
        levels = [
            (r["window_start"], r["window_start"], bytes(r["bloom_state"]))
            for r in states.orderBy(F.desc("window_start")).limit(3).collect()
        ]
        probes = ev.select("user").union(
            spark.range(2000, 2500).select(F.concat(F.lit("absent"), "id").alias("user"))
        ).distinct()
        want = {
            r["user"]: r["is_member"]
            for r in native_probe_recent(probes, "user", levels).collect()
        }
        got = {
            r["user"]: r["is_member"]
            for r in windowed_bloom_partitioned_probe(probes, "user", blocks).collect()
        }
        assert got == want
        assert all(want[r["user"]] for r in ev.select("user").distinct().collect())

    def test_direct_build_bit_identical_to_states_explode(self, spark, built):
        ev, _, blocks = built
        direct = build_windowed_bloom_blocks_df(
            ev.withColumnRenamed("bucket", "level"), "level", "user",
            capacity_per_level=CAP, target_fpr=FPR, words_per_block=64,
        )
        a = sorted(
            (r["level"], r["block"], tuple(r["words"]), r["m"], r["k"])
            for r in direct.collect()
        )
        b = sorted(
            (r["level"], r["block"], tuple(r["words"]), r["m"], r["k"])
            for r in blocks.collect()
        )
        assert a == b

    def test_null_level_direct_build_bit_identical_to_states_explode(self, spark):
        # users ending in 7 lose their bucket: a null level is a level of
        # its own in both builds, and the probe still finds every user
        ev = _events(spark).withColumn(
            "bucket",
            F.when(F.col("user").endswith("7"), F.lit(None)).otherwise(F.col("bucket")),
        )
        spec = SketchSpec(
            "bloom", "nbloom", "user", {"capacity": CAP, "false_positive_rate": FPR}
        )
        states = sketch_aggregate(ev, ["bucket"], [spec]).withColumnRenamed(
            "bucket", "window_start"
        )
        exploded = windowed_states_to_blocks_df(states, num_levels=4, words_per_block=64)
        direct = build_windowed_bloom_blocks_df(
            ev.withColumnRenamed("bucket", "level"), "level", "user",
            capacity_per_level=CAP, target_fpr=FPR, words_per_block=64,
        )

        def rows(df):
            return sorted(
                (r["level"] is None, r["level"] or 0, r["block"], tuple(r["words"]), r["m"], r["k"])
                for r in df.collect()
            )

        a = rows(direct)
        assert a == rows(exploded)
        assert any(r[0] for r in a), "no blocks for the null level"
        probed = windowed_bloom_partitioned_probe(ev.select("user"), "user", direct)
        assert probed.where(~F.col("is_member")).count() == 0

    def test_struct_level_refused_on_driver(self, spark, built):
        ev, _, blocks = built
        sc = spark.sparkContext
        sc.setJobGroup("struct-level", "a refused level type runs no job")
        try:
            with pytest.raises(SketchConfigError, match="atomic level"):
                build_windowed_bloom_blocks_df(
                    ev.withColumn("bucket", F.struct("bucket")), "bucket", "user",
                    capacity_per_level=CAP, target_fpr=FPR, words_per_block=64,
                )
            with pytest.raises(SketchConfigError, match="atomic level"):
                windowed_bloom_partitioned_probe(
                    ev.select("user"), "user",
                    blocks.withColumn("level", F.struct("level")),
                )
            assert list(sc.statusTracker().getJobIdsForGroup("struct-level")) == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def test_level_expiry_and_cross_level_or(self, spark, built):
        ev, _, blocks = built
        # restricted to the 2 most recent buckets (1, 2): users exclusive
        # to bucket 0 (u0..u99) must expire; users in bucket 1 or 2 stay
        probes = ev.select("user").distinct()
        got = {
            r["user"]: r["is_member"]
            for r in windowed_bloom_partitioned_probe(
                probes, "user", blocks, num_levels=2
            ).collect()
        }
        only_b0 = {f"u{i}" for i in range(100)}
        assert all(not got[u] for u in only_b0)
        assert all(v for u, v in got.items() if u not in only_b0)

    def test_as_of_excludes_future_levels(self, spark, built):
        ev, _, blocks = built
        probes = ev.select("user").distinct()
        got = {
            r["user"]: r["is_member"]
            for r in windowed_bloom_partitioned_probe(
                probes, "user", blocks, num_levels=3, as_of=1
            ).collect()
        }
        # bucket 2 exclusive users (u799..) are invisible at as_of=1
        only_b2 = {
            r["user"]
            for r in _events(spark).where("bucket = 2").select("user").distinct().collect()
        } - {
            r["user"]
            for r in _events(spark).where("bucket < 2").select("user").distinct().collect()
        }
        assert only_b2 and all(not got[u] for u in only_b2)

    def test_empty_blocks_all_false(self, spark, built):
        ev, _, blocks = built
        out = windowed_bloom_partitioned_probe(
            ev.select("user").limit(5), "user", blocks.where("block < 0")
        )
        assert [r["is_member"] for r in out.collect()] == [False] * 5

    def test_mixed_geometry_raises(self, spark, built):
        _, _, blocks = built
        mixed = blocks.unionByName(blocks.withColumn("k", F.col("k") + 1))
        with pytest.raises(SketchConfigError, match="mixes geometries"):
            windowed_bloom_partitioned_probe(
                blocks.sparkSession.range(1).select(F.lit("u1").alias("user")),
                "user",
                mixed,
            )

    def test_parity_engine_states_rejected(self, spark):
        ev = _events(spark)
        spec = SketchSpec(
            "bloom", "bloom", "user", {"capacity": CAP, "false_positive_rate": 0.01}
        )
        states = sketch_aggregate(ev, ["bucket"], [spec]).withColumnRenamed(
            "bucket", "window_start"
        )
        with pytest.raises(Exception, match="type mismatch"):
            windowed_states_to_blocks_df(states, num_levels=3).collect()

    def test_prune_expired_blocks_retention(self, spark, built):
        from probabilistic_rs_spark.operators.windowed_bloom import (
            prune_expired_blocks,
        )

        ev, _, blocks = built
        kept = prune_expired_blocks(blocks, num_levels=2)
        assert {r["level"] for r in kept.select("level").distinct().collect()} == {1, 2}
        # probing the pruned table (no further restriction) == probing the
        # full table restricted to the same 2 levels
        probes = ev.select("user").distinct()
        a = {
            r["user"]: r["is_member"]
            for r in windowed_bloom_partitioned_probe(probes, "user", kept).collect()
        }
        b = {
            r["user"]: r["is_member"]
            for r in windowed_bloom_partitioned_probe(
                probes, "user", blocks, num_levels=2
            ).collect()
        }
        assert a == b

    def test_blocks_from_parquet_roundtripped_states(self, spark, built, tmp_path):
        # composition across persistence: states -> parquet -> load ->
        # blocks -> probe must equal probing the in-session states
        ev, states, blocks = built
        path = str(tmp_path / "wb_states")
        states.write.mode("overwrite").parquet(path)
        blocks2 = windowed_states_to_blocks_df(
            spark.read.parquet(path), num_levels=3, words_per_block=64
        )
        probes = ev.select("user").distinct()
        want = {
            r["user"]: r["is_member"]
            for r in windowed_bloom_partitioned_probe(probes, "user", blocks).collect()
        }
        got = {
            r["user"]: r["is_member"]
            for r in windowed_bloom_partitioned_probe(probes, "user", blocks2).collect()
        }
        assert got == want

    def test_probe_plan_needs_no_broadcast(self, spark, built):
        ev, _, blocks = built
        conf = spark.conf
        old_static = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
        old_aqe = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
        try:
            conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
            out = windowed_bloom_partitioned_probe(
                ev.select("user").distinct(), "user", blocks
            )
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" not in plan
            assert "BroadcastExchange" not in plan
            assert "BroadcastNestedLoopJoin" not in plan
            # and it still answers correctly on the shuffle-only plan
            assert out.where("is_member").count() == ev.select("user").distinct().count()
        finally:
            conf.set("spark.sql.autoBroadcastJoinThreshold", old_static)
            if old_aqe is None:
                conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
            else:
                conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)
