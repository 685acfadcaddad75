"""Similarity search over an embedding column (array<float>).

Two paths (task brief):
- brute-force cosine top-k — the correctness baseline: a blocked
  cross-join with native dot-product math (F.zip_with/F.aggregate) and a
  window top-k. Exact, O(n·m); fine when one side is small/broadcast.
- LSH-bucketed ANN — the scale path: sign-random-projection buckets
  (SimHash over the embedding), candidates only within a bucket (plus
  multi-probe via several hyperplane tables), then exact cosine re-rank.
  Sub-linear candidate sets at 100 TB; recall tunable via tables/bits.

No UDFs anywhere — dot products, norms, and projections are all native
column expressions (whole-stage codegen).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    """Dot product of two array columns — one flat ``zip_with`` +
    ``aggregate`` fold.

    The fold is interpreted (higher-order functions are excluded from
    whole-stage codegen) but FLAT — one products array, one running
    sum. A statically unrolled ``F.get(a,j)*F.get(b,j)`` chain was
    measured in r6 and rejected: at dim 64 it costs ~0.76 s of py4j
    Column-building per query and pushes whole-stage codegen over
    Janino's 64 KB method limit, so it executes as a BIGGER interpreted
    tree (0.34 s vs 0.27 s for the fold on a 16k-row cosine scan)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine(a, b):
    return _dot(a, b) / (F.greatest(_norm(a) * _norm(b), F.lit(1e-12)))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query. The query side is
    broadcast (it is the small side by construction — a query batch);
    the corpus side streams, so the plan is a single broadcast
    nested-loop with codegen'd arithmetic and a top-k window."""
    joined = vectors.crossJoin(F.broadcast(queries)).withColumn(
        "cos_sim", cosine(F.col(vec_col), F.col(q_vec_col))
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        joined.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(q_id_col, id_col, "cos_sim", "rnk")
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(bits, dim)).astype("float64").tolist()


def _const_double_array(values) -> "F.Column":
    """array<double> literal built with ONE py4j round trip.

    ``F.array(*[F.lit(float(x)) …])`` costs one py4j call per element —
    measured ~1 s of DRIVER time per 2k-element plane/centroid matrix
    on every query construction (the bench times construction too).
    A single ``F.expr`` ships the whole literal as text; ``repr`` of a
    Python float is the shortest round-trip form, so
    ``Double.parseDouble`` reconstructs bit-identical doubles."""
    return F.expr(
        "array(" + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in values) + ")"
    )


def srp_bucket(vec_col, planes: list[list[float]]):
    """Sign-random-projection bucket id: one bit per hyperplane —
    native column math, no UDF.

    r6 reshape — FLAT per-bit folds instead of the former single-pass
    nested fold: one ``zip_with(vec, plane_i, *)`` products array + one
    scalar ``aggregate`` sum per hyperplane. The nested form (one
    traversal whose accumulator was a bits-wide array rebuilt by an
    inner ``zip_with`` at every element) allocated an array + ``bits``
    structs per vector ELEMENT; both shapes are interpreted (HOFs are
    excluded from whole-stage codegen), but the flat shape does ~8x
    less allocation/dispatch — measured 4.44 s → 0.52 s for the 4-table
    bucket projection over 16k x 64-dim vectors at sf0.1. (A statically
    unrolled codegen chain was also tried: 2048 terms overflow Janino's
    64 KB method limit, fall back to whole-tree interpretation, and run
    slower than either fold — see _dot.) Per projection the multiply/
    add sequence is the identical ascending-index order starting from
    0.0, so every projection double is bit-identical to the old fold
    (checksum-verified) and no SRP sign decision can move."""
    bits = len(planes)
    # 2^i stays exact and the bit sum inside int64 for bits <= 62
    if bits > 62:
        raise ValueError(f"srp_bucket supports at most 62 bits, got {bits}")
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_arr = _const_double_array(plane)
        proj = F.aggregate(
            F.zip_with(vec_col, plane_arr, lambda x, y: x * y),
            F.lit(0.0),
            lambda s, v: s + v,
        )
        bucket = bucket + F.when(
            proj > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return bucket


def _dim_wide_rows(batch, dim: int):
    """(ids, (k, dim) vectors) of the (id, vector) Arrow batch's rows
    whose vector is non-null and exactly ``dim`` wide.

    The check reads list lengths off the Arrow offsets before anything
    is reshaped: a null vector would break the flat reshape, and two
    ragged rows whose widths sum to 2·dim would reshape silently
    misaligned. Rows that fail it get no bucket or cell, so they never
    become candidates."""
    import pyarrow.compute as pc

    vecs = batch.column(1)
    ok = pc.fill_null(pc.equal(pc.list_value_length(vecs), dim), False)
    ids = batch.column(0).filter(ok).to_numpy(zero_copy_only=False)
    flat = vecs.filter(ok).flatten().to_numpy(zero_copy_only=False)
    return ids, flat.reshape(len(ids), dim)


def srp_buckets_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    all_planes: list[list[list[float]]],
) -> DataFrame:
    """(id, table_id, bucket) for every row × table — one BLAS matmul
    per Arrow batch (guide §4.2: hand whole batches to vectorized
    native code) instead of a per-row interpreted fold.

    The JVM fold shape (srp_bucket) costs ~0.65 µs per (element ×
    plane) interpreted step — 1.7 s just to bucket 20k × 64-dim vectors
    across 4 × 8 planes at sf1.0; the batched matmul is two orders of
    magnitude cheaper and the Arrow transfer ships only (id, vec).

    Cross-engine safety (why a float-order change is admissible HERE
    and not in the cosine re-rank): bucket bits are SIGN decisions, and
    the engine-vs-oracle comparison is already cross-operation-order
    (DuckDB recomputes the projections with its own sum order). The
    decision margins are audited per corpus: min |projection| over
    every (vector, plane) pair = 9.4e-6 at sf0.1 and 1.05e-6 at sf1.0
    (8- and 12-bit plane sets, planted 1.5x copies included — r6
    audit), seven orders of magnitude above the ~1e-13 reordering noise
    of a 64-term dot product. Downstream, the exact cosine re-rank /
    verify stays in the JVM fold — bit-identical as before."""
    import pyarrow as pa

    tables = len(all_planes)
    bits = len(all_planes[0])
    dim = len(all_planes[0][0])
    P = np.concatenate(
        [np.asarray(p, dtype=np.float64) for p in all_planes], axis=0
    )  # (tables*bits, dim)
    pow2 = (1 << np.arange(bits, dtype=np.int64))
    id_type = dict(df.dtypes)[id_col]
    table_ids_proto = np.arange(tables, dtype=np.int32)

    def fn(batches):
        for batch in batches:
            ids, v = _dim_wide_rows(batch, dim)
            n = len(ids)
            if n == 0:
                continue
            signs = (v @ P.T) > 0  # (n, tables*bits)
            buckets = signs.reshape(n, tables, bits) @ pow2  # (n, tables)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, tables)),
                    pa.array(np.tile(table_ids_proto, n)),
                    pa.array(buckets.reshape(-1)),
                ],
                names=[id_col, "table_id", "bucket"],
            )

    return df.select(id_col, vec_col).mapInArrow(
        fn, schema=f"{id_col} {id_type}, table_id int, bucket long"
    )


def ivf_cells_arrow(
    df: DataFrame, id_col: str, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """(id, cell) nearest-centroid assignment — batched matmul + argmax
    (same rationale and the same audited-margin safety argument as
    srp_buckets_arrow: the min top1−top2 centroid-score gap over the
    corpus is 2.3e-5 at sf0.1 / 4.1e-7 at sf1.0 — r6 audit — vs ~1e-13
    reorder noise; np.argmax and ``array_position(cs, array_max(cs))``
    both take the FIRST maximum)."""
    import pyarrow as pa

    C = np.asarray(centroids, dtype=np.float64)
    dim = C.shape[1]
    id_type = dict(df.dtypes)[id_col]

    def fn(batches):
        for batch in batches:
            ids, v = _dim_wide_rows(batch, dim)
            if len(ids) == 0:
                continue
            cell = np.argmax(v @ C.T, axis=1).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids), pa.array(cell)], names=[id_col, "cell"]
            )

    return df.select(id_col, vec_col).mapInArrow(
        fn, schema=f"{id_col} {id_type}, cell long"
    )


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 8,
    tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """ANN: candidates share an SRP bucket in at least one of ``tables``
    hyperplane tables; exact cosine re-rank on the candidate set.

    Plan shape (r6): corpus buckets come from ONE Arrow matmul pass
    (srp_buckets_arrow — ids and buckets only, no payload), the
    bucket probe joins bare ids, the distinct dedups bare (q_id, id)
    pairs, and the two vectors are attached once to the surviving
    candidate set for the EXACT cosine re-rank (which stays in the
    JVM fold — bit-identical scores). Recall rises with ``tables``;
    candidate volume falls with ``bits``."""
    from .dedup import _rebalance

    # tiny-file guard (see dedup._rebalance): the per-vector projection
    # math inherits the scan's partitioning and serializes on one core
    # for single-row-group inputs; no-op on real multi-split corpora
    vectors = _rebalance(vectors, id_col)
    all_planes = [_hyperplanes(dim, bits, seed + t) for t in range(tables)]
    v_bucketed = srp_buckets_arrow(vectors, id_col, vec_col, all_planes)
    q_bucketed = srp_buckets_arrow(queries, q_id_col, q_vec_col, all_planes)
    cand_ids = (
        v_bucketed.join(F.broadcast(q_bucketed), ["table_id", "bucket"])
        .select(id_col, q_id_col)
        .distinct()
    )
    cands = cand_ids.join(vectors.select(id_col, vec_col), id_col).join(
        F.broadcast(queries.select(q_id_col, q_vec_col)), q_id_col
    )
    scored = cands.withColumn("cos_sim", cosine(F.col(vec_col), F.col(q_vec_col)))
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(q_id_col, id_col, "cos_sim", "rnk")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the task brief's alternative scale path
# ---------------------------------------------------------------------------


def ivf_train_centroids(
    vectors: DataFrame,
    k: int = 16,
    sample_size: int = 4096,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
):
    """Coarse quantizer for IVF: k-means on a DETERMINISTIC sample.

    Training runs driver-side on a bounded sample (k-means++ init,
    fixed seed, numpy Lloyd iterations) — the classic IVF recipe:
    centroid fitting needs only a representative sample, never the
    corpus; the corpus-sized work (assignment) stays distributed.
    Returns a (k, dim) list-of-lists, broadcast as a plan literal.

    Sampling (r6, VERDICT r5 #8): the old
    ``orderBy(xxhash64).limit(n)`` ran a TakeOrdered over the WHOLE
    corpus — per-row heap maintenance and a per-partition top-n merge
    at 10^9 vectors. Now a deterministic hash-threshold filter prunes
    the corpus to ~4x the sample in one narrow codegen pass (hash +
    compare per row, nothing retained), and only the survivors pay the
    small ordered-take. Seeded and deterministic like before: the
    filter and the tie-break ordering are both pure functions of the
    vector bytes. When the corpus is at most the sample size (or the
    filter improbably undershoots), it falls back to the full ordered
    take — identical behavior to the old path on small inputs."""
    import math

    h = F.xxhash64(F.col(vec_col).cast("string"))

    def _take_all():
        return (
            vectors.select(vec_col).orderBy(h).limit(sample_size).collect()
        )

    total = vectors.count()
    if total == 0:
        raise ValueError("ivf_train_centroids: empty vectors DataFrame")
    if total <= sample_size * 4:
        rows = _take_all()
    else:
        space = 1 << 20
        thr = max(1, math.ceil(space * 4 * sample_size / total))
        rows = (
            vectors.select(vec_col)
            .filter(F.pmod(h, F.lit(space)) < F.lit(thr))
            .orderBy(h)
            .limit(sample_size)
            .collect()
        )
        if len(rows) < sample_size:
            rows = _take_all()
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    # k-means++ init; stop early when the sample has fewer distinct
    # points than k (duplicate-heavy corpora) — residual distances all
    # zero means every point is already covered
    cents = [x[rng.randint(len(x))]]
    for _ in range(1, k):
        d2 = np.min(
            [np.sum((x - c) ** 2, axis=1) for c in cents], axis=0
        )
        total = d2.sum()
        if total <= 1e-12:
            break
        cents.append(x[rng.choice(len(x), p=d2 / total)])
    c = np.asarray(cents)
    for _ in range(iters):
        assign = np.argmax(x @ c.T, axis=1)  # unit vectors: cosine argmax
        for j in range(len(c)):
            m = x[assign == j]
            if len(m):
                cj = m.mean(axis=0)
                c[j] = cj / max(np.linalg.norm(cj), 1e-12)
    return c.tolist()


def ivf_cell(vec_col, centroids: list[list[float]]):
    """Nearest-centroid id by cosine — ONE fold pass over the vector
    accumulating all k centroid dot products (same no-CSE-safe shape as
    srp_bucket), then an argmax over the k-array. Returns an expression
    usable in select(); the caller must materialize the scores array in
    a separate projection before argmax (Catalyst does not CSE across
    higher-order functions)."""
    # r6 reshape — flat per-centroid folds (same rationale, measurement
    # and bit-exactness argument as srp_bucket: the nested
    # array-accumulator fold allocated k-wide arrays per vector
    # element; one zip_with + scalar fold per centroid does the same
    # multiplies/adds in the same ascending order with ~8x less
    # interpreter overhead).
    scores = []
    for c in centroids:
        cent_arr = _const_double_array(c)
        scores.append(
            F.aggregate(
                F.zip_with(vec_col, cent_arr, lambda x, y: x * y),
                F.lit(0.0),
                lambda s, v: s + v,
            )
        )
    return F.array(*scores)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF ANN: corpus vectors live in their nearest-centroid cell;
    each query probes its ``nprobe`` closest cells; candidates within
    probed cells get an exact cosine re-rank.

    Plan: one shuffle co-locating (cell) on both sides — identical
    join shape to the LSH and ER blocking stages. Recall rises with
    ``nprobe``; candidate volume ≈ nprobe/k of the corpus per query."""
    from .dedup import _rebalance

    vectors = _rebalance(vectors, id_col)  # tiny-file guard (no-op at scale)
    # corpus assignment via one Arrow matmul + argmax per batch (r6;
    # audited-margin safety argument in ivf_cells_arrow); the vector
    # payload is re-attached to the ids for the probe join + re-rank
    v_cells = ivf_cells_arrow(vectors, id_col, vec_col, centroids).join(
        vectors.select(id_col, vec_col), id_col
    )
    q_scored = queries.select(
        q_id_col, q_vec_col, ivf_cell(F.col(q_vec_col), centroids).alias("cs")
    )
    # top-nprobe cells per query: sort (score, idx) structs descending
    probe = F.slice(
        F.reverse(
            F.array_sort(
                F.zip_with(
                    "cs",
                    F.sequence(F.lit(0), F.size("cs") - 1),
                    lambda s, i: F.struct(s.alias("s"), i.alias("i")),
                )
            )
        ),
        1,
        nprobe,
    )
    q_cells = q_scored.select(
        q_id_col, q_vec_col, F.explode(probe).alias("p")
    ).select(q_id_col, q_vec_col, F.col("p.i").cast("long").alias("cell"))
    cands = v_cells.join(q_cells, "cell").select(
        id_col, vec_col, q_id_col, q_vec_col
    )
    scored = cands.withColumn("cos_sim", cosine(F.col(vec_col), F.col(q_vec_col)))
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(q_id_col, id_col, "cos_sim", "rnk")
    )
