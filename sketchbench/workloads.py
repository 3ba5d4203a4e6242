"""The three workloads: fixed, ordered lists of ops, each one Spark action
through the package's public operators, with the check of its result.

* ``sketch_build`` — the write path: grouped multi-sketch aggregate with
  its finishers, the driver-folded global Bloom build, and the two
  block-scatter builds. Most partial-build, state-shuffle, merge and
  scatter work; no probes.
* ``state_probe`` — the read path: set-up builds every state once, then
  each op answers the seeded probe set (half inserted keys, half never
  inserted) through one broadcast or partitioned probe. No merge work.
* ``text_dedup`` — SimHash and MinHash over the seeded document sample:
  long text crossing the Arrow boundary, no sketch merge, no probes.
"""

from __future__ import annotations

import contextlib
import datetime
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
from pyspark.sql import functions as F

from probabilistic_rs_spark.datagen import LANGS
from probabilistic_rs_spark.operators.cuckoo import build_cuckoo_shards, native_cuckoo_semi_filter
from probabilistic_rs_spark.operators.dedup import minhash_signatures, with_simhash
from probabilistic_rs_spark.operators.heavy_hitters import (
    build_cms_blocks_df,
    build_cms_state,
    cms_partitioned_probe,
    native_cms_probe,
)
from probabilistic_rs_spark.operators.membership import (
    bloom_probe,
    build_bloom_state,
    build_native_bloom_state,
    native_bloom_semi_filter,
)
from probabilistic_rs_spark.operators.moments import build_cs_state, native_cs_probe
from probabilistic_rs_spark.operators.sketch_agg import (
    SketchSpec,
    sketch_aggregate,
    sketch_partials,
    with_hll_estimate,
    with_quantiles,
)
from probabilistic_rs_spark.operators.windowed_bloom import (
    build_windowed_bloom_blocks_df,
    windowed_bloom_partitioned_probe,
)
from probabilistic_rs_spark.sketches.cms import CountMinSketch
from probabilistic_rs_spark.sketches.countsketch import CountSketch
from probabilistic_rs_spark.sketches.cuckoo import NativeCuckooFilter
from probabilistic_rs_spark.sketches.native_bloom import NativeBloomSketch
from sketchbench import checks
from sketchbench.inputs import Inputs
from sketchbench.tracing import PlanCounters, SpanRecorder

QS = [0.01, 0.5, 0.99]
HLL_P = 14
# rank-error bounds of merged quantile states, as the repository's merge
# gates assert them (t-digest 0.015; KLL twice its rank_error_bound)
TD_DELTA, TD_RANK_BOUND = 200.0, 0.015
KLL_K = 200
KLL_RANK_BOUND = 2 * 2.0 / KLL_K
FPR = 0.01
CMS_EPS, CMS_DELTA = 0.0001, 0.001
GROUP_CMS_DELTA = 0.01
CS_EPS, CS_DELTA = 0.01, 0.001
WINDOW_LEVELS = 3
HOST = r"https://([^/]+)/"


@dataclass
class Ctx:
    spark: Any
    data: Inputs
    tracer: SpanRecorder
    counters: PlanCounters | None = None
    states: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)  # values measured inside traced ops
    # (trace id, section name, seconds, plan-counter bucket) per traced section
    records: list = field(default_factory=list)
    # exact answers and reference hashes derived from ``data``, computed
    # once and shared by the contexts of one run
    derived: dict = field(default_factory=dict)

    @contextlib.contextmanager
    def section(self, name: str):
        """A span around one call into the package and the action that
        runs it; when plan counters are on, also the counters of the Spark
        executions it ran. Reading the counters is tracing work and gets
        its own span."""
        if self.counters is None:
            with self.tracer.span(name):
                yield
            return
        with self.tracer.span("sketchbench.read_counters"):
            token = self.counters.open(name)
        try:
            with self.tracer.span(name) as sp:
                yield
        finally:
            with self.tracer.span("sketchbench.read_counters"):
                bucket = self.counters.close(token)
            self.records.append((sp.trace, name, sp.duration, bucket))

    def pages(self):
        return self.spark.read.parquet(self.data.pages_path)

    def probes(self):
        return self.spark.read.parquet(self.data.probes_path)

    def docs(self):
        return self.spark.read.parquet(self.data.docs_path)

    def groups(self) -> dict:
        """Exact per-(lang, day) answers."""
        if "groups" not in self.derived:
            t = self.data.truth
            gid = t["lang"] * 31 + t["day"]
            ids, inv = np.unique(gid, return_inverse=True)
            order = np.lexsort((t["text_len"], inv))
            bounds = np.searchsorted(inv[order], np.arange(len(ids) + 1))
            lens = t["text_len"][order].astype(np.float64)
            pairs = np.unique(np.stack([inv, t["uid"]]), axis=1)
            hosts, host_rows = np.unique(np.stack([inv, t["host_id"]]), axis=1, return_counts=True)
            self.derived["groups"] = {
                "gid": ids,
                "rows": np.bincount(inv),
                "distinct_urls": np.bincount(pairs[0], minlength=len(ids)),
                "sorted_len": [lens[bounds[i] : bounds[i + 1]] for i in range(len(ids))],
                # (host id, rows) of each group's hosts, group i at
                # host_bounds[i]:host_bounds[i + 1]
                "host_id": hosts[1],
                "host_rows": host_rows,
                "host_bounds": np.searchsorted(hosts[0], np.arange(len(ids) + 1)),
            }
        return self.derived["groups"]

    def host_hashes(self) -> np.ndarray:
        """The CMS spec's value hash (Spark's ``xxhash64``) of every
        distinct host, indexed by the truth's host id (hosts in sorted
        order); one Spark job per run, outside any timed round."""
        if "host_hashes" not in self.derived:
            tbl = _hosts(self).distinct().select("host", F.xxhash64("host").alias("h")).toArrow()
            order = np.argsort(np.array(tbl["host"].to_pylist(), dtype=str))
            self.derived["host_hashes"] = tbl["h"].to_numpy()[order].view(np.uint64)
        return self.derived["host_hashes"]


@dataclass
class Op:
    name: str  # <operators module>.<public function>: the layer it exercises
    rows: Callable[[Inputs], int]  # rows absorbed / keys answered / docs signed
    run: Callable[[Ctx], Any]
    check: Callable[[Ctx, Any], list[str]]


@dataclass
class Workload:
    name: str
    ops: list[Op]
    setup: Callable[[Ctx], None] = lambda ctx: None

    def rows_per_round(self, data: Inputs) -> int:
        return sum(op.rows(data) for op in self.ops)


# ---------------------------------------------------------------------------
# sketch_build
# ---------------------------------------------------------------------------


def _grouped_input(ctx: Ctx):
    return ctx.pages().select(
        "lang",
        F.to_date("warc_ts").alias("day"),
        "url",
        F.regexp_extract("url", HOST, 1).alias("host"),
        F.length("text").cast("double").alias("text_len"),
    )


def _grouped_specs(rows: int):
    return [
        SketchSpec("u", "hll", "url", {"p": HLL_P}),
        SketchSpec("h", "cms", "host", {"eps": 0.001, "delta": GROUP_CMS_DELTA}),
        SketchSpec("td", "tdigest", "text_len", {"delta": TD_DELTA}),
        SketchSpec("kll", "kll", "text_len", {"k": KLL_K}),
        SketchSpec("bf", "nbloom", "url", {"capacity": max(1000, rows // 50), "false_positive_rate": FPR}),
    ]


def run_grouped(ctx: Ctx):
    df = _grouped_input(ctx)
    specs = _grouped_specs(ctx.data.rows)
    if ctx.tracer.enabled:
        # traced run only: materialize the partial stage on its own so the
        # partial build and the shuffle + merge can be told apart
        with ctx.section("sketch_agg.sketch_partials"):
            parts = sketch_partials(df, ["lang", "day"], specs)
            n = parts.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
        ctx.layer["sketch_agg.partial_rows"] = float(n)
    with ctx.section("sketch_agg.sketch_aggregate"):
        agg = sketch_aggregate(df, ["lang", "day"], specs)
        agg = with_hll_estimate(agg, "u_state", "n_urls")
        agg = with_quantiles(agg, "td_state", "tdigest", QS, "td_q")
        agg = with_quantiles(agg, "kll_state", "kll", QS, "kll_q")
        return agg.select("lang", "day", "n_urls", "td_q", "kll_q", "h_state", "bf_state", "n_updates").toArrow()


def check_grouped(ctx: Ctx, tbl) -> list[str]:
    g = ctx.groups()
    lang = np.searchsorted(np.sort(LANGS), np.array(tbl["lang"].to_pylist(), dtype=str))
    base = datetime.date(2025, 6, 1)
    day = np.array([(d - base).days for d in tbl["day"].to_pylist()])
    gid = lang * 31 + day
    out = checks.one_row_per_id(gid, g["gid"], "grouped")
    if out:
        return out
    at = np.searchsorted(g["gid"], gid)
    sorted_len = [g["sorted_len"][i] for i in at]
    out += checks.exact_counts(tbl["n_updates"].to_numpy(), g["rows"][at], "n_updates group")
    out += checks.hll(tbl["n_urls"].to_numpy().astype(float), g["distinct_urls"][at], HLL_P)
    out += checks.quantiles(sorted_len, QS, tbl["td_q"].to_pylist(), TD_RANK_BOUND, "tdigest")
    out += checks.quantiles(sorted_len, QS, tbl["kll_q"].to_pylist(), KLL_RANK_BOUND, "kll")
    return out + _check_group_states(ctx, tbl, at)


def _check_group_states(ctx: Ctx, tbl, at: np.ndarray) -> list[str]:
    """Each group's merged CMS state estimates the group's host counts
    within [exact, exact + eps*N]; its native Bloom state has absorbed the
    group's rows and holds the bit fill its distinct urls imply.

    The CMS bound is one each key may miss with probability delta, so the
    misses are counted over the keys of all groups: a group of a few dozen
    hosts allows less than one, and two keys whose hashes agree modulo the
    table width share every cell and miss together."""
    g, hashes = ctx.groups(), ctx.host_hashes()
    if len(hashes) != len(ctx.data.truth["host_count"]):
        return [f"grouped cms: {len(hashes)} distinct hosts in Spark, {len(ctx.data.truth['host_count'])} exact"]
    out, est, exact, eps_n = [], [], [], []
    for row, i in enumerate(at):
        lo, hi = g["host_bounds"][i], g["host_bounds"][i + 1]
        cms = CountMinSketch.from_bytes(tbl["h_state"][row].as_py())
        est.append(cms.estimate_hashes(hashes[g["host_id"][lo:hi]]))
        exact.append(g["host_rows"][lo:hi])
        eps_n.append(np.full(hi - lo, cms.error_bound()))
        out += checks.exact_counts(np.array([cms.n_total]), g["rows"][i : i + 1], f"grouped cms updates group {i}")
        bf = NativeBloomSketch.from_bytes(tbl["bf_state"][row].as_py())
        out += checks.exact_counts(np.array([bf.n_updates]), g["rows"][i : i + 1], f"grouped bloom updates group {i}")
        set_bits = int(np.unpackbits(bf.bits).sum())
        out += checks.bloom_fill(set_bits, bf.m, bf.k, int(g["distinct_urls"][i]), FPR, f"grouped bloom group {i}")
    est, exact, eps_n = (np.concatenate(a) for a in (est, exact, eps_n))
    return out + [f"grouped {v}" for v in checks.cms(est, exact, eps_n, GROUP_CMS_DELTA)]


def run_global_bloom(ctx: Ctx):
    with ctx.section("membership.build_native_bloom_state"):
        return build_native_bloom_state(ctx.pages(), "url", capacity=2 * ctx.data.rows, false_positive_rate=FPR)


def _n_distinct_urls(data: Inputs) -> int:
    return len(np.unique(data.truth["uid"]))


def check_global_bloom(ctx: Ctx, state: bytes) -> list[str]:
    sk = NativeBloomSketch.from_bytes(state)
    out = checks.exact_counts(np.array([sk.n_updates]), np.array([ctx.data.rows]), "bloom updates")
    set_bits = int(np.unpackbits(sk.bits).sum())
    return out + checks.bloom_fill(set_bits, sk.m, sk.k, _n_distinct_urls(ctx.data), FPR, "native bloom")


def _hosts(ctx: Ctx):
    return ctx.pages().select(F.regexp_extract("url", HOST, 1).alias("host"))


def _cms_blocks(ctx: Ctx):
    return build_cms_blocks_df(_hosts(ctx), "host", eps=CMS_EPS, delta=CMS_DELTA, cells_per_block=4096)


def run_cms_blocks(ctx: Ctx):
    with ctx.section("heavy_hitters.build_cms_blocks_df"):
        return _cms_blocks(ctx).select("row", "cells").toArrow()


def check_cms_blocks(ctx: Ctx, tbl) -> list[str]:
    cells = tbl["cells"].combine_chunks()
    row = np.repeat(tbl["row"].to_numpy(), np.diff(cells.offsets.to_numpy()))
    sums = np.bincount(row, weights=cells.flatten().to_numpy().astype(np.float64))
    return checks.exact_counts(sums, np.full(len(sums), float(ctx.data.rows)), "cms row total")


def _windowed_blocks(ctx: Ctx):
    pages = ctx.pages().withColumn("week", F.weekofyear("warc_ts").cast("long"))
    return build_windowed_bloom_blocks_df(
        pages, "week", "url", capacity_per_level=2 * ctx.data.rows, target_fpr=FPR, words_per_block=16384
    )


def run_windowed_blocks(ctx: Ctx):
    with ctx.section("windowed_bloom.build_windowed_bloom_blocks_df"):
        return _windowed_blocks(ctx).select("level", "words", "m", "k").toArrow()


def check_windowed_blocks(ctx: Ctx, tbl) -> list[str]:
    t = ctx.data.truth
    words = tbl["words"].combine_chunks()
    level = np.repeat(tbl["level"].to_numpy(), np.diff(words.offsets.to_numpy()))
    bits = np.unpackbits(words.flatten().to_numpy().view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)
    weeks = np.unique(t["week"])
    out = checks.one_row_per_id(np.unique(level), weeks, "windowed levels")
    m, k = int(tbl["m"][0].as_py()), int(tbl["k"][0].as_py())
    for wk in weeks:
        n = len(np.unique(t["uid"][t["week"] == wk]))
        out += checks.bloom_fill(int(bits[level == wk].sum()), m, k, n, FPR, f"windowed level {wk}")
    return out


# ---------------------------------------------------------------------------
# state_probe
# ---------------------------------------------------------------------------


def setup_states(ctx: Ctx) -> None:
    """Build every state the probes read, once."""
    pages, cap, s = ctx.pages(), 2 * ctx.data.rows, ctx.states
    s["nbloom"] = build_native_bloom_state(pages, "url", capacity=cap, false_positive_rate=FPR)
    s["bloom"] = build_bloom_state(pages, "url", capacity=cap, false_positive_rate=FPR)
    s["cuckoo"] = build_cuckoo_shards(pages, "url", capacity=cap, n_shards=32, native=True)
    s["cms"] = build_cms_state(_hosts(ctx), "host", eps=CMS_EPS, delta=CMS_DELTA)
    s["cs"] = build_cs_state(_hosts(ctx), "host", eps=CS_EPS, delta=CS_DELTA)
    for name, build in (("cms_blocks", _cms_blocks), ("windowed_blocks", _windowed_blocks)):
        s[name] = build(ctx).persist()
        s[name].count()


def _answers(tbl, n: int, col: str | None = None) -> np.ndarray:
    """Per-probe answers from (kid[, col]); a semi-filter returns kept kids."""
    kid = tbl["kid"].to_numpy()
    if col is None:
        return checks.kept_mask(kid, n)
    out = np.zeros(n, dtype=tbl.schema.field(col).type.to_pandas_dtype())
    out[kid] = tbl[col].to_numpy()
    return out


def _probe_op(name: str, call: Callable[[Ctx], Any], check: Callable[[Ctx, Any], list[str]]) -> Op:
    def run(ctx: Ctx):
        with ctx.section(name):
            return call(ctx).toArrow()

    def checked(ctx: Ctx, tbl) -> list[str]:
        # a probe that returns an answer column answers every key once; a
        # semi-filter returns the kept keys only
        out = []
        if tbl.num_columns > 1:
            out = checks.one_row_per_id(tbl["kid"].to_numpy(), ctx.data.truth["probe_kid"], name)
        return out + check(ctx, tbl)

    return Op(name, lambda d: d.n_probes, run, checked)


def _membership_check(label: str, layer_key: str | None, col: str | None, fpr_of=None, window=False):
    def check(ctx: Ctx, tbl) -> list[str]:
        t = ctx.data.truth
        member = t["probe_member"]
        if window:
            active = np.sort(np.unique(t["week"]))[-WINDOW_LEVELS:]
            member = member & np.isin(t["probe_week"], active)
        target = fpr_of(ctx) if fpr_of else FPR
        out, fpr = checks.membership(_answers(tbl, ctx.data.n_probes, col), member, target, label)
        if layer_key:
            ctx.layer[layer_key] = fpr
        return out

    return check


def _cuckoo_fpr(ctx: Ctx) -> float:
    return max(NativeCuckooFilter.from_bytes(b).false_positive_rate() for b in ctx.states["cuckoo"])


def _cms_check(bound_of: Callable[[Ctx], float]):
    def check(ctx: Ctx, tbl) -> list[str]:
        est = _answers(tbl, ctx.data.n_probes, "est_count")
        return checks.cms(est, ctx.data.truth["probe_count"], bound_of(ctx), CMS_DELTA)

    return check


def _cms_state_bound(ctx: Ctx) -> float:
    return CountMinSketch.from_bytes(ctx.states["cms"]).error_bound()


def check_cs(ctx: Ctx, tbl) -> list[str]:
    bound = CountSketch.from_bytes(ctx.states["cs"]).point_error_bound()
    est = _answers(tbl, ctx.data.n_probes, "est_count")
    return checks.count_sketch(est, ctx.data.truth["probe_count"], bound, CS_DELTA)


def _native_bloom_semi(ctx):
    return native_bloom_semi_filter(ctx.probes(), "url", ctx.states["nbloom"]).select("kid")


def _bloom_probe(ctx):
    return bloom_probe(ctx.probes(), "url", ctx.states["bloom"]).select("kid", "is_member")


def _cuckoo_semi(ctx):
    return native_cuckoo_semi_filter(ctx.probes(), "url", ctx.states["cuckoo"]).select("kid")


def _native_cms(ctx):
    return native_cms_probe(ctx.probes(), "host", ctx.states["cms"]).select("kid", "est_count")


def _native_cs(ctx):
    return native_cs_probe(ctx.probes(), "host", ctx.states["cs"]).select("kid", "est_count")


def _cms_partitioned(ctx):
    return cms_partitioned_probe(ctx.probes(), "host", ctx.states["cms_blocks"]).select("kid", "est_count")


def _windowed_partitioned(ctx):
    return windowed_bloom_partitioned_probe(
        ctx.probes(), "url", ctx.states["windowed_blocks"], num_levels=WINDOW_LEVELS
    ).select("kid", "is_member")


# ---------------------------------------------------------------------------
# text_dedup
# ---------------------------------------------------------------------------


def run_simhash(ctx: Ctx):
    with ctx.section("dedup.with_simhash"):
        return with_simhash(ctx.docs(), "doc_id", "text", hash_fn="xxhash64").toArrow()


def check_simhash(ctx: Ctx, tbl) -> list[str]:
    t = ctx.data.truth
    ids = tbl["doc_id"].to_numpy()
    out = checks.one_row_per_id(ids, t["doc_id"], "simhash docs")
    uid = t["doc_uid"][np.searchsorted(t["doc_id"], ids)]
    return out + checks.identical_within_groups(uid, tbl["simhash"].to_numpy(), "simhash")


def run_minhash(ctx: Ctx):
    with ctx.section("dedup.minhash_signatures"):
        sigs = minhash_signatures(ctx.docs(), "doc_id", "text", n=2, num_perm=128)
        # a digest per signature keeps the collect small; equal
        # signatures give equal digests
        return sigs.select("doc_id", F.xxhash64("sig").alias("h"), F.size("sig").alias("n")).toArrow()


def check_minhash(ctx: Ctx, tbl) -> list[str]:
    t = ctx.data.truth
    ids = tbl["doc_id"].to_numpy()
    out = checks.one_row_per_id(ids, t["doc_id"], "minhash docs")
    out += checks.exact_counts(tbl["n"].to_numpy(), np.full(len(ids), 128), "minhash length doc")
    uid = t["doc_uid"][np.searchsorted(t["doc_id"], ids)]
    return out + checks.identical_within_groups(uid, tbl["h"].to_numpy(), "minhash")


def _all_rows(d: Inputs) -> int:
    return d.rows


WORKLOADS = {
    "sketch_build": Workload(
        "sketch_build",
        [
            Op("sketch_agg.sketch_aggregate", _all_rows, run_grouped, check_grouped),
            Op("membership.build_native_bloom_state", _all_rows, run_global_bloom, check_global_bloom),
            Op("heavy_hitters.build_cms_blocks_df", _all_rows, run_cms_blocks, check_cms_blocks),
            Op("windowed_bloom.build_windowed_bloom_blocks_df", _all_rows, run_windowed_blocks, check_windowed_blocks),
        ],
    ),
    "state_probe": Workload(
        "state_probe",
        [
            _probe_op("membership.native_bloom_semi_filter", _native_bloom_semi,
                      _membership_check("native bloom", "membership.native_bloom_fpr", None)),
            _probe_op("membership.bloom_probe", _bloom_probe,
                      _membership_check("parity bloom", None, "is_member")),
            _probe_op("cuckoo.native_cuckoo_semi_filter", _cuckoo_semi,
                      _membership_check("native cuckoo", "cuckoo.fpr", None, fpr_of=_cuckoo_fpr)),
            _probe_op("heavy_hitters.native_cms_probe", _native_cms, _cms_check(_cms_state_bound)),
            _probe_op("moments.native_cs_probe", _native_cs, check_cs),
            _probe_op("heavy_hitters.cms_partitioned_probe", _cms_partitioned,
                      _cms_check(lambda ctx: CMS_EPS * ctx.data.rows)),
            _probe_op("windowed_bloom.windowed_bloom_partitioned_probe", _windowed_partitioned,
                      _membership_check("windowed bloom", None, "is_member", window=True)),
        ],
        setup=setup_states,
    ),
    "text_dedup": Workload(
        "text_dedup",
        [
            Op("dedup.with_simhash", lambda d: d.n_docs, run_simhash, check_simhash),
            Op("dedup.minhash_signatures", lambda d: d.n_docs, run_minhash, check_minhash),
        ],
    ),
}
