"""Hex-grid analytics over indexed tables: multi-resolution compaction
and spatial (k-ring) smoothing — the "window functions" of the H3 grid.

These operate on the OUTPUT of the index/resolve pipeline (tables keyed
by an ``h3_index`` cell column), extending the reference's surface: the
reference stops at per-cell aggregates (h3_resolver.py:45-98); these
add the cross-cell operations a cell-keyed 100 TB table needs —
shrinking storage by collapsing uniform regions to coarser cells, and
neighborhood statistics without a geometry join.

Both are pure DataFrame compositions over the repo's own H3 kernels:
compaction is Catalyst bit-ops + iterative shrinking aggregates (no
Python in the loop), smoothing is one Arrow neighbor-expansion hop +
one aggregation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from h3_indexer_spark.functions.h3.sql import (
    h3_long_to_string,
    h3_string_to_long,
    resolution_expr,
)
from h3_indexer_spark.functions.h3.tables import PENTAGON_BASE_CELLS

_PENT_BASES = sorted(PENTAGON_BASE_CELLS)


# Res-15 descendant ("leaf") counts per resolution, hexagon vs
# pentagon subtrees. A pentagon has 6 children (the center child is
# again a pentagon, the other 5 are hexagons), so
# leaves_p(r) = leaves_p(r+1) + 5·7^(14−r) = 1 + 5·(7^(15−r) − 1)/6.
_HEX_LEAVES = [7 ** (15 - r) for r in range(16)]
_PENT_LEAVES = [1 + 5 * (7 ** (15 - r) - 1) // 6 for r in range(16)]
_DIGITS_MASK = (1 << 45) - 1  # 15 3-bit resolution digits
_RES_CLEAR = ~(0xF << 52)  # clear the resolution nibble


def _leaves_expr(c_col: str, r_sql: str) -> F.Column:
    """Res-15 descendant count of cell ``c_col`` at resolution
    ``r_sql`` (a SQL int expression) — native bit ops + two literal
    lookup arrays. Pentagon test with a COLUMN resolution: pentagonal
    base cell and all digits above the padding zero, where the 7s
    padding for res r is digits_mask >> 3r."""
    c = F.col(c_col)
    pad = F.expr(f"shiftright({_DIGITS_MASK}L, 3 * ({r_sql}))")
    is_pent = F.shiftright(c, 45).bitwiseAND(F.lit(0x7F)).isin(
        _PENT_BASES
    ) & (c.bitwiseAND(F.lit(_DIGITS_MASK)) == pad)
    idx = F.expr(f"({r_sql}) + 1")
    return F.when(
        is_pent,
        F.element_at(F.array(*[F.lit(v) for v in _PENT_LEAVES]), idx),
    ).otherwise(
        F.element_at(F.array(*[F.lit(v) for v in _HEX_LEAVES]), idx)
    )


def _ancestor_expr(c_col: str, q_col: str) -> F.Column:
    """Ancestor id of ``c_col`` at COLUMN resolution ``q_col``: set
    the res nibble to q and fill the finer digits with 7s (the
    parent_long_expr bit recipe, with the resolution as a column)."""
    return F.expr(
        f"(({c_col} & {_RES_CLEAR}L) | shiftleft(cast({q_col} as "
        f"bigint), 52)) | shiftright({_DIGITS_MASK}L, 3 * {q_col})"
    )


def compact_cells_df(
    df: DataFrame,
    cell_col: str = "h3_index",
) -> DataFrame:
    """H3 cell-set compaction: wherever ALL children of a parent cell
    are present (7 for hexagon parents, 6 for pentagon parents),
    replace them with the parent, repeatedly — a uniform region
    collapses to the coarsest cells that exactly cover it. Returns the
    distinct compacted set as (h3_index). The inverse of polyfill's
    uniform-resolution covering; coverage is EXACTLY preserved
    (uncompacting the result reproduces the input set — locked in
    tests against the scalar kernel).

    Scale shape (ONE pass, no per-resolution loop): an ancestor cell
    ends up in the compacted output iff its whole subtree is exactly
    covered by the input — and for a valid (overlap-free) cell set
    that holds iff the res-15 leaf counts of its input descendants
    sum to the ancestor's own leaf count (pentagon-aware closed-form
    weights, exact BIGINTs). Induction on depth shows this equals the
    level-by-level family promotion: if an ancestor's subtree is
    exactly covered, each child's subtree is too (no input cell
    straddles children), so promotion reaches every child and then
    the parent. So: explode each input cell to its ≤15 ancestors
    (one row per (ancestor, level) with the cell's leaf weight), ONE
    groupBy sums the weights, and ancestors whose sum equals their
    own leaf count are "full". Each covered input cell collapses to
    its COARSEST full ancestor (which is maximal by construction —
    a full strict ancestor of a full cell would be a coarser full
    ancestor of the same inputs); uncovered cells pass through.

    vs the former per-resolution loop: ≤15 shrinking shuffle rounds
    with ~3× lineage fan-out per round (static plans measured at 300+
    exchanges) become one explode + one aggregation + two bounded
    joins (~8 exchanges), all native Catalyst bit ops — no driver
    max-res probe, fully lazy. The ×15 ancestor expansion shuffles
    only (cell id, level, weight) triples, partial-aggregated
    map-side; equality with the loop is locked in tests against the
    scalar reference kernel."""
    cells = df.select(
        h3_string_to_long(F.col(cell_col)).alias("_c"),
        resolution_expr(F.col(cell_col)).alias("_r"),
    ).distinct()
    # every (ancestor, level) of every input cell, weighted by the
    # cell's leaf count; res-0 cells have no ancestors (guard: Spark's
    # sequence(0, -1) would step backwards, not return empty)
    anc = (
        cells.where(F.col("_r") > 0)
        .select(
            "_c",
            _leaves_expr("_c", "_r").alias("_w"),
            F.explode(
                F.sequence(F.lit(0), F.col("_r") - F.lit(1))
            ).alias("_q"),
        )
        .select("_c", "_q", "_w", _ancestor_expr("_c", "_q").alias("_p"))
    )
    full = (
        anc.groupBy("_p", "_q")
        .agg(F.sum("_w").alias("_s"))
        .where(F.col("_s") == _leaves_expr("_p", "_q"))
        .select("_p", "_q")
    )
    # input cells with a full ancestor collapse to the coarsest one
    marked = anc.join(full, ["_p", "_q"], "semi")
    promoted = (
        marked.groupBy("_c")
        .agg(F.min_by("_p", "_q").alias("_cp"))
        .select(F.col("_cp").alias("_c"))
        .distinct()
    )
    uncovered = cells.join(
        marked.select("_c"), "_c", "left_anti"
    ).select("_c")
    return promoted.unionByName(uncovered).select(
        h3_long_to_string(F.col("_c")).alias(cell_col)
    )


def uncompact_cells_df(
    df: DataFrame,
    res: int,
    cell_col: str = "h3_index",
) -> DataFrame:
    """Expand a (possibly mixed-resolution) cell set to a uniform
    covering at ``res`` — the inverse of :func:`compact_cells_df`.
    One Arrow hop: children enumeration per cell via the scalar
    kernel, batch-amortized; output size is bounded by 7^(res−r) per
    input cell, so expansion work is proportional to the OUTPUT —
    exactly the explode-shaped growth Spark parallelizes by split."""
    from h3_indexer_spark.functions.h3 import core

    def expand(batches):
        for pdf in batches:
            rows = []
            for s in pdf[cell_col]:
                h = core.string_to_h3(s)
                for c in core.cell_to_children(h, res):
                    rows.append(core.h3_to_string(c))
            yield pd.DataFrame({cell_col: rows})

    return df.select(cell_col).mapInPandas(
        expand, schema=f"{cell_col} string"
    )


def hex_smooth(
    df: DataFrame,
    value_col: str,
    cell_col: str = "h3_index",
    include_self: bool = True,
) -> DataFrame:
    """K-ring spatial smoothing: each cell's value replaced by the mean
    over its immediate hex neighborhood (the 6 grid neighbors, plus
    itself by default) — the hex-grid convolution behind hotspot
    de-noising and spatial gradient features. Cells on the data's edge
    average over their PRESENT neighbors only (no zero-padding bias).
    Output: (cell, n_contributors, smoothed value).

    One Arrow hop expands each cell to its neighbor list (the same
    exact-IJK batched neighbor kernel the coverage engine uses), then
    one aggregation keyed on the receiving cell — contributions
    partial-sum map-side, so the shuffle carries at most 7 rows per
    input cell collapsing to one row per distinct cell. DECIMAL-exact
    sums keep the mean bit-deterministic."""
    from h3_indexer_spark.functions.h3 import core
    from h3_indexer_spark.functions.h3.coverage import cell_neighbors_batch

    import numpy as np

    blob = core.export_derived_blob()

    def fan_out(batches):
        core.seed_derived_blob(blob)
        for pdf in batches:
            cells = np.asarray(
                [int(s, 16) for s in pdf[cell_col]], dtype=np.int64
            )
            neigh = cell_neighbors_batch(cells)  # (n, 6), 0-padded
            src_vals = pdf[value_col].to_numpy()
            dst: list[str] = []
            vals: list[float] = []
            for i in range(len(cells)):
                if include_self:
                    dst.append(pdf[cell_col].iloc[i])
                    vals.append(float(src_vals[i]))
                for nb in neigh[i]:
                    if nb:
                        dst.append(format(int(nb), "x"))
                        vals.append(float(src_vals[i]))
            yield pd.DataFrame({cell_col: dst, "_v": vals})

    contributions = df.select(cell_col, value_col).mapInPandas(
        fan_out, schema=f"{cell_col} string, _v double"
    )
    # only cells present in the input receive a smoothed value
    present = df.select(cell_col).distinct()
    return (
        contributions.join(present, cell_col, "semi")
        .groupBy(cell_col)
        .agg(
            F.count(F.lit(1)).alias("n_contributors"),
            (
                F.sum(F.col("_v").cast("decimal(19,4)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias(f"{value_col}_smooth"),
        )
    )
