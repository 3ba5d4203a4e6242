"""Approximate distinct counting (HLL) — north-star query 1.

``approx_distinct(df, 'url', ['lang', 'day'])`` ≙ the reference-mandated
"distinct URLs per (lang, day)" plan (SURVEY.md §2.9.1):
column-pruned scan → JVM xxhash64 → mapInArrow partial HLLs →
shuffle-by-key of register states → Arrow group-fold register-max merge
(``sketch_agg.fold_groups``) → estimate column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from probabilistic_rs_spark.operators.sketch_agg import (
    SketchSpec,
    sketch_aggregate,
    with_hll_estimate,
)


def approx_distinct(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    p: int = 14,
    sparse_threshold: int | None = None,
    out_col: str = "approx_distinct",
    tree_fanin: int | None = None,
) -> DataFrame:
    group_cols = group_cols or []
    params: dict = {"p": p}
    if sparse_threshold is not None:
        params["sparse_threshold"] = sparse_threshold
    spec = SketchSpec("hll", "hll", col, params)
    merged = sketch_aggregate(df, group_cols, [spec], tree_fanin=tree_fanin)
    return with_hll_estimate(merged, spec.state_col, out_col).select(
        *group_cols, out_col, "n_updates"
    )
