"""Per-row JVM reference folds for the Arrow bucket and cell decisions.

The engine decides SRP buckets (``srp_buckets_arrow``) and IVF cells
(``ivf_cells_arrow``) with one numpy matmul per Arrow batch. These
column expressions compute the same decisions one row at a time with
flat ``zip_with`` + ``aggregate`` folds — one products array and one
running sum per plane or centroid, in ascending index order from 0.0 —
and the tests pin the Arrow paths against them.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def const_double_array(values) -> F.Column:
    """array<double> literal built with one py4j round trip: ``repr``
    of a Python float is its shortest round-trip form, so
    ``Double.parseDouble`` reconstructs bit-identical doubles."""
    return F.expr(
        "array(" + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in values) + ")"
    )


def _fold_dot(vec_col, values) -> F.Column:
    return F.aggregate(
        F.zip_with(vec_col, const_double_array(values), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def srp_bucket(vec_col, planes: list[list[float]]) -> F.Column:
    """Sign-random-projection bucket id: bit i is set when the
    projection on plane i is positive."""
    bits = len(planes)
    # 2^i stays exact and the bit sum inside int64 for bits <= 62
    if bits > 62:
        raise ValueError(f"srp_bucket supports at most 62 bits, got {bits}")
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        bucket = bucket + F.when(
            _fold_dot(vec_col, plane) > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return bucket


def ivf_cell(vec_col, centroids: list[list[float]]) -> F.Column:
    """array of the k centroid dot-product scores. Materialize it in its
    own projection before taking an argmax (Catalyst does not CSE across
    higher-order functions)."""
    return F.array(*[_fold_dot(vec_col, c) for c in centroids])


def ivf_first_max_cell(scores_col) -> F.Column:
    """Index of the first maximum of an ``ivf_cell`` scores array — the
    corpus assignment rule (ties to the lower cell)."""
    return F.array_position(scores_col, F.array_max(scores_col)) - 1


def ivf_probe_cells(scores_col, nprobe: int) -> F.Column:
    """The ``nprobe`` best cells of an ``ivf_cell`` scores array: the
    (score, cell) structs sorted ascending, reversed and sliced — the
    query probe rule (score desc, ties to the HIGHER cell first)."""
    ranked = F.reverse(
        F.array_sort(
            F.zip_with(
                scores_col,
                F.sequence(F.lit(0), F.size(scores_col) - 1),
                lambda s, i: F.struct(s.alias("s"), i.alias("i")),
            )
        )
    )
    return F.transform(F.slice(ranked, 1, nprobe), lambda p: p["i"].cast("long"))
