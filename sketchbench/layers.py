"""Per-layer metrics of a traced run, derived from its section records
(span time plus the Spark plan counters of each call into the package)
and its spans.

Which end-to-end metric each layer should move:

* ``spark.*`` (the traced workload's plan counters and job counts, summed
  per round) move ``round_s_p50`` on every workload; arrow and python
  counters matter most on ``text_dedup`` and ``sketch_build``, job counts
  on ``state_probe``.
* ``sketch_agg.*`` moves ``sketch_build`` only.
* ``heavy_hitters.*`` and ``windowed_bloom.*`` builds move
  ``sketch_build`` (``rows_per_s`` and ``py_worker_peak_rss_mib``); their
  probes move ``state_probe``.
* ``membership.*``, ``cuckoo.*`` and ``moments.*`` move ``state_probe``.
* ``dedup.*`` moves ``text_dedup``.
* ``sketches.*`` (core micro-benchmark): update rate moves
  ``sketch_build`` through the partial build, merge and serialisation
  time through the merge, and ``state_kib`` the shuffle and broadcast
  sizes.
* ``functions.hashing.*`` moves the parity ``bloom_probe`` in
  ``state_probe``.
"""

from __future__ import annotations

import statistics

from sketchbench.micro import metric_names as micro_names
from sketchbench.tracing import PLAN_COUNTERS, Span, self_times

MIB = float(1 << 20)

# sections that exist only in the traced run (extra work done to split a
# layer); they are left out of the per-round Spark counter sums
TRACE_ONLY = {"sketch_agg.sketch_partials"}

SPARK_UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.scan_s": "s", "spark.scan_mib": "MiB", "spark.codegen_s": "s",
    "spark.arrow_sent_mib": "MiB", "spark.arrow_received_mib": "MiB",
    "spark.python_s": "s", "spark.python_init_s": "s",
    "spark.shuffle_mib": "MiB", "spark.broadcast_mib": "MiB",
}

_AGG = "sketch_agg.sketch_aggregate"
_PARTIALS = "sketch_agg.sketch_partials"
_CMS_BUILD = "heavy_hitters.build_cms_blocks_df"
_CMS_PROBE = "heavy_hitters.cms_partitioned_probe"
_WB_BUILD = "windowed_bloom.build_windowed_bloom_blocks_df"
_WB_PROBE = "windowed_bloom.windowed_bloom_partitioned_probe"
_DEDUP = ("dedup.with_simhash", "dedup.minhash_signatures")


def _node(bucket: dict, node: str, metric: str) -> float:
    return bucket["by_node"].get(node, {}).get(metric, 0.0)


def _sec(name):
    return name, lambda r, d: r[name][0]


def _counter(name, key):
    return name, lambda r, d: r[name][1][key]


# metric -> (section that must be in the round, value from the round)
ROUND_METRICS = {
    "sketch_agg.partials_s": _sec(_PARTIALS),
    "sketch_agg.merge_s": (_PARTIALS, lambda r, d: r[_AGG][0] - r[_PARTIALS][0]),
    "sketch_agg.finalize_s": (_AGG, lambda r, d: _node(r[_AGG][1], "ArrowEvalPython", "pythonTotalTime")),
    "sketch_agg.global_build_s": _sec("membership.build_native_bloom_state"),
    "sketch_agg.state_shuffle_mib": _counter(_AGG, "shuffle_mib"),
    "heavy_hitters.cms_blocks_build_s": _sec(_CMS_BUILD),
    "heavy_hitters.cms_blocks_python_s": _counter(_CMS_BUILD, "python_s"),
    "heavy_hitters.cms_blocks_shuffle_mib": _counter(_CMS_BUILD, "shuffle_mib"),
    "heavy_hitters.cms_partitioned_probe_s": _sec(_CMS_PROBE),
    "heavy_hitters.cms_partitioned_probe_shuffle_mib": _counter(_CMS_PROBE, "shuffle_mib"),
    "heavy_hitters.native_cms_probe_s": _sec("heavy_hitters.native_cms_probe"),
    "windowed_bloom.blocks_build_s": _sec(_WB_BUILD),
    "windowed_bloom.blocks_python_s": _counter(_WB_BUILD, "python_s"),
    "windowed_bloom.blocks_shuffle_mib": _counter(_WB_BUILD, "shuffle_mib"),
    "windowed_bloom.partitioned_probe_s": _sec(_WB_PROBE),
    "windowed_bloom.partitioned_probe_shuffle_mib": _counter(_WB_PROBE, "shuffle_mib"),
    # bit-test rows the probe generates (and shuffles) per probe key
    "windowed_bloom.probe_rows_per_key": (
        _WB_PROBE, lambda r, d: _node(r[_WB_PROBE][1], "Generate", "numOutputRows") / d.n_probes
    ),
    "membership.native_bloom_semi_filter_s": _sec("membership.native_bloom_semi_filter"),
    "membership.bloom_probe_s": _sec("membership.bloom_probe"),
    "cuckoo.native_semi_filter_s": _sec("cuckoo.native_cuckoo_semi_filter"),
    "moments.native_cs_probe_s": _sec("moments.native_cs_probe"),
    "dedup.with_simhash_s": _sec(_DEDUP[0]),
    "dedup.minhash_signatures_s": _sec(_DEDUP[1]),
    "dedup.arrow_sent_bytes_per_doc": (
        _DEDUP[1], lambda r, d: sum(r[n][1]["arrow_sent_mib"] for n in _DEDUP) * MIB / (len(_DEDUP) * d.n_docs)
    ),
    "dedup.python_s": (_DEDUP[1], lambda r, d: sum(r[n][1]["python_s"] for n in _DEDUP)),
}
# values measured by the ops themselves while traced
OP_METRICS = ("sketch_agg.partial_rows", "membership.native_bloom_fpr", "cuckoo.fpr")

PER_LAYER_UNITS = dict(SPARK_UNITS)
for _name in list(ROUND_METRICS) + list(OP_METRICS):
    PER_LAYER_UNITS[_name] = (
        "MiB" if _name.endswith("_mib") else "s" if _name.endswith("_s")
        else "bytes" if _name.endswith("per_doc") else "ratio" if _name.endswith("fpr")
        else "count"
    )
for _name in micro_names():
    PER_LAYER_UNITS[_name] = (
        "Mrows/s" if _name.endswith("per_s") else "ms" if _name.endswith("_ms") else "KiB"
    )


def _rounds(records) -> list[dict]:
    by: dict[int, dict] = {}
    for trace, name, seconds, bucket in records:
        by.setdefault(trace, {})[name] = (seconds, bucket)
    return [by[k] for k in sorted(by)]


def spark_counters(records) -> dict[str, float]:
    """The traced workload's Spark counters, summed per round, median
    over rounds."""
    sums = []
    for r in _rounds(records):
        tot = dict.fromkeys(list(PLAN_COUNTERS) + ["jobs", "stages", "tasks"], 0.0)
        for name, (_, bucket) in r.items():
            if name in TRACE_ONLY:
                continue
            for k in tot:
                tot[k] += bucket[k]
        sums.append(tot)
    return {f"spark.{k}": statistics.median(s[k] for s in sums) for k in sums[0]}


def per_layer(records, main_records, op_values: dict, data) -> dict[str, float]:
    out = spark_counters(main_records)
    rounds = _rounds(records)
    for metric, (needs, fn) in ROUND_METRICS.items():
        vals = [fn(r, data) for r in rounds if needs in r]
        out[metric] = statistics.median(vals)
    for metric in OP_METRICS:
        out[metric] = op_values[metric]
    return out


def merge_python_cross_check(records) -> float:
    """Python time of the merge stage (FlatMapGroupsInPandas), median
    per round: the plan-side view of ``sketch_agg.merge_s``."""
    vals = [
        _node(r[_AGG][1], "FlatMapGroupsInPandas", "pythonTotalTime")
        for r in _rounds(records)
        if _AGG in r
    ]
    return statistics.median(vals)


def _is_layer(name: str) -> bool:
    return name != "round" and not name.startswith("sketchbench.")


def coverage(spans: list[Span]) -> dict[str, float]:
    """Share of each round's wall time attributed to named layers (self
    time of the spans around calls into the package), with the time the
    tracer itself spent reading counters taken out of the round. Minimum
    and median over rounds."""
    selfs = self_times(spans)
    shares, tracing = [], []
    for rnd in (s for s in spans if s.name == "round"):
        inside = [s for s in spans if s.trace == rnd.trace and s is not rnd]
        own = sum(s.duration for s in inside if s.name.startswith("sketchbench."))
        named = sum(selfs[s.id] for s in inside if _is_layer(s.name))
        shares.append(named / (rnd.duration - own))
        tracing.append(own / rnd.duration)
    return {
        "min": min(shares),
        "median": statistics.median(shares),
        "tracer_share_of_round": statistics.median(tracing),
    }


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    """Mean self time per round of each named span."""
    selfs = self_times(spans)
    n_rounds = max(1, sum(1 for s in spans if s.name == "round"))
    tot: dict[str, float] = {}
    for s in spans:
        if _is_layer(s.name):
            tot[s.name] = tot.get(s.name, 0.0) + selfs[s.id]
    return {k: round(v / n_rounds, 4) for k, v in sorted(tot.items(), key=lambda kv: -kv[1])}
