"""Similarity search: brute-force cosine exactness + LSH recall."""

import math

import pytest
from pyspark.sql import functions as F

from t_res_spark.operators import similarity_search as ss


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.normal(size=(20, 8))
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    # vec 19 = near-copy of vec 0
    rows[19] = (19, [float(x + 0.01) for x in base[0]])
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_self_top1(vectors):
    queries = vectors.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    ).filter(F.col("q_id").isin(0, 5))
    out = ss.brute_force_topk(vectors, queries, k=3)
    top1 = {r["q_id"]: r["vec_id"] for r in out.filter(F.col("rnk") == 1).collect()}
    assert top1 == {0: 0, 5: 5}  # self is nearest
    near = {r["q_id"]: r["vec_id"] for r in out.filter(F.col("rnk") == 2).collect()}
    assert near[0] == 19  # planted near-copy


def test_lsh_finds_planted_neighbor(vectors):
    queries = vectors.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    ).filter(F.col("q_id") == 0)
    out = ss.lsh_topk(vectors, queries, dim=8, k=5, bits=6, tables=6)
    ids = [r["vec_id"] for r in out.collect()]
    assert 0 in ids and 19 in ids  # self + near-copy recalled


def test_lsh_planted_neighbor_recall_floor(spark):
    """VERDICT r03 #8: ann_lsh is rows-only in the gate ('approximate
    by design') — this pins a quantified floor on the REAL gate corpus:
    plant a perturbed near-copy (cosine ≈ 0.995 — deliberately NOT a
    scaled copy, so recall is probabilistic, not structural) of every
    7th testdata embedding, and require the LSH path (gate params:
    bits=8, tables=4, seed=42) to find ≥ 0.95 of the planted partners
    in its top-10. Expected miss probability per pair at cos 0.995 is
    (1-(1-θ/π)^8)^4 ≈ 0.3 %; a bucketing/plan regression that breaks
    co-location fails this loudly. (Arbitrary top-10 of a random
    corpus — weak cos≈0.3 neighbors — is NOT recallable by design;
    the floor is therefore defined over genuinely-similar pairs.)"""
    import numpy as np
    import pandas as pd

    pdf = pd.read_parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = {int(r.vec_id): np.asarray(list(r.embedding), dtype=float)
            for r in pdf.itertuples()}
    rng = np.random.RandomState(0)
    rows = [(i, v.tolist()) for i, v in base.items()]
    planted = []
    for i, v in base.items():
        if i % 7 == 0:
            noise = rng.normal(size=v.shape)
            noise *= 0.1 * np.linalg.norm(v) / max(np.linalg.norm(noise), 1e-12)
            planted.append((-i - 1, (v + noise).tolist()))
    emb = spark.createDataFrame(
        rows + planted, "vec_id long, embedding array<double>"
    )
    dim = len(next(iter(base.values())))
    queries = emb.filter((F.col("vec_id") >= 0) & (F.col("vec_id") % 7 == 0)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = ss.lsh_topk(emb, queries, dim=dim, k=10)
    hits = {
        r["q_id"]
        for r in got.filter(F.col("vec_id") == -F.col("q_id") - 1).collect()
    }
    n_q = len(planted)
    recall = len(hits) / n_q
    assert recall >= 0.95, f"planted-neighbor recall@10 = {recall:.3f} over {n_q}"


def test_srp_bucket_rejects_overflow_bits(spark, vectors):
    """bits > 62 would overflow the int64 bucket-id accumulation (numpy's
    ``1 << i`` is 0 past bit 63, so the planes beyond it would be
    silently ignored) — the Arrow path lsh_topk runs must fail loudly,
    like its JVM reference fold (ADVICE r02)."""
    from jvm_folds import srp_bucket

    from t_res_spark.operators.similarity_search import _hyperplanes

    queries = vectors.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    with pytest.raises(ValueError, match="62 bits"):
        ss.lsh_topk(vectors, queries, dim=8, bits=64)
    planes_63 = [_hyperplanes(8, 63, seed=1)]
    with pytest.raises(ValueError, match="62 bits"):
        ss.srp_buckets_arrow(vectors, "vec_id", "embedding", planes_63)
    with pytest.raises(ValueError, match="62 bits"):
        srp_bucket(F.col("embedding"), planes_63[0])
    # 62 bits is still accepted
    ss.srp_buckets_arrow(vectors, "vec_id", "embedding", [_hyperplanes(8, 62, seed=1)])


def test_cosine_matches_numpy(spark, vectors):
    import numpy as np

    rows = {r["vec_id"]: r["embedding"] for r in vectors.collect()}
    got = (
        vectors.filter(F.col("vec_id").isin(0, 1))
        .crossJoin(
            vectors.filter(F.col("vec_id") == 2).select(
                F.col("embedding").alias("other")
            )
        )
        .select("vec_id", ss.cosine(F.col("embedding"), F.col("other")).alias("c"))
        .collect()
    )
    for r in got:
        a, b = np.array(rows[r["vec_id"]]), np.array(rows[2])
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert math.isclose(r["c"], want, rel_tol=1e-9)


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF with generous nprobe must recover the brute-force top-k
    (clustered data: cells are meaningful); determinism across calls."""
    import numpy as np

    from t_res_spark.operators.similarity_search import (
        brute_force_topk,
        ivf_topk,
        ivf_train_centroids,
    )

    rng = np.random.RandomState(5)
    # 4 well-separated clusters of unit vectors
    centers = rng.normal(size=(4, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(200):
        c = centers[i % 4]
        v = c + rng.normal(scale=0.05, size=16)
        rows.append((i, [float(x) for x in v]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = vecs.filter("vec_id < 3").selectExpr(
        "vec_id AS q_id", "embedding AS q_vec"
    )
    cents = ivf_train_centroids(vecs, k=4, sample_size=200, seed=7)
    assert cents == ivf_train_centroids(vecs, k=4, sample_size=200, seed=7)

    got = ivf_topk(vecs, queries, cents, k=5, nprobe=2)
    want = brute_force_topk(vecs, queries, k=5)
    g = {(r["q_id"], r["rnk"]): r["vec_id"] for r in got.collect()}
    w = {(r["q_id"], r["rnk"]): r["vec_id"] for r in want.collect()}
    assert g == w


def test_ivf_candidate_volume_bounded(spark):
    """nprobe=1 probes ~1/k of the corpus per query (the scale
    contract: candidate volume shrinks with k)."""
    import numpy as np

    from t_res_spark.operators.similarity_search import (
        ivf_cells_arrow,
        ivf_train_centroids,
    )

    rng = np.random.RandomState(9)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(400)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_train_centroids(vecs, k=8, sample_size=400, seed=1)
    cells = ivf_cells_arrow(vecs, "vec_id", "embedding", cents)
    sizes = [r["n"] for r in cells.groupBy("cell").agg(F.count("*").alias("n")).collect()]
    assert sum(sizes) == 400         # one cell per vector
    assert len(sizes) >= 4           # centroids actually used
    assert max(sizes) < 400 * 0.6    # no degenerate single cell


def test_ivf_tie_rules_duplicated_centroid(spark):
    """An exact score tie from a duplicated centroid (cells 1 and 2):
    the corpus assignment takes the first maximum (the LOWER cell,
    ``cell ASC``), the query probes list the HIGHER cell first
    (``s DESC, cell DESC``) — the two rules _ann_ivf_oracle_sql states.
    Through ivf_topk, a query tied between the empty cell 2 and the
    populated cell 1 therefore probes cell 2 first: at nprobe=1 it finds
    nothing, and a query whose second-best score is the tie probes
    cells 0 and 2, never reaching cell 1."""
    from t_res_spark.operators.similarity_search import ivf_cells_arrow, ivf_topk

    e0, e1 = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    cents = [e0, e1, e1]
    near0 = [(i, [1.0, 0.1 * i, 0.05, 0.02 * i]) for i in range(4)]
    near1 = [(10 + i, [0.05, 1.0, 0.1 * i, 0.02 * i]) for i in range(4)]
    schema = "vec_id long, embedding array<double>"
    vecs = spark.createDataFrame(near0 + near1, schema)
    queries = spark.createDataFrame(
        [(100, [1.0, 0.2, 0.0, 0.1]), (101, [0.1, 1.0, 0.3, 0.0])],
        "q_id long, q_vec array<double>",
    )

    cells = ivf_cells_arrow(vecs, "vec_id", "embedding", cents).collect()
    cells = {r["vec_id"]: r["cell"] for r in cells}
    assert cells == {**{i: 0 for i in range(4)}, **{10 + i: 1 for i in range(4)}}
    probes = ivf_cells_arrow(queries, "q_id", "q_vec", cents, n=2)
    assert sorted((r["q_id"], r["cell"]) for r in probes.collect()) == [
        (100, 0), (100, 2), (101, 1), (101, 2)
    ]
    first = ivf_cells_arrow(queries, "q_id", "q_vec", cents, n=1)
    assert {r["q_id"]: r["cell"] for r in first.collect()} == {100: 0, 101: 2}

    got = ivf_topk(vecs, queries, cents, k=10, nprobe=2).collect()
    assert {(r["q_id"], r["vec_id"]) for r in got} == {
        *((100, i) for i in range(4)), *((101, 10 + i) for i in range(4))
    }
    got = ivf_topk(vecs, queries, cents, k=10, nprobe=1).collect()
    assert {(r["q_id"], r["vec_id"]) for r in got} == {(100, i) for i in range(4)}


def test_null_and_ragged_vectors_never_in_topk(spark):
    """brute_force_topk, lsh_topk and ivf_topk on one frame with a NULL
    and a 5-wide corpus vector beside 4-wide ones, and a NULL and a
    2-wide query beside a 4-wide one: no row has a NULL cos_sim, the bad
    queries get no rows, the bad vectors are nobody's neighbour, and the
    good query's rows equal those of the same search without the bad
    rows."""
    import numpy as np

    from t_res_spark.operators.similarity_search import _hyperplanes

    rng = np.random.RandomState(4)
    good = [(i, [float(x) for x in rng.normal(size=4)]) for i in range(6)]
    bad = [(10, None), (11, [float(x) for x in rng.normal(size=5)])]
    vschema = "vec_id long, embedding array<double>"
    qschema = "q_id long, q_vec array<double>"
    clean_v = spark.createDataFrame(good, vschema)
    dirty_v = spark.createDataFrame(good[:3] + bad + good[3:], vschema)
    q_good = [(0, [float(x) for x in rng.normal(size=4)])]
    clean_q = spark.createDataFrame(q_good, qschema)
    dirty_q = spark.createDataFrame(q_good + [(1, None), (2, [1.0, 2.0])], qschema)
    cents = _hyperplanes(4, 3, seed=2)

    searches = {
        "brute": lambda v, q: ss.brute_force_topk(v, q, k=10),
        "lsh": lambda v, q: ss.lsh_topk(v, q, dim=4, k=10, bits=2, tables=4),
        "ivf": lambda v, q: ss.ivf_topk(v, q, cents, k=10, nprobe=3),
    }
    for name, search in searches.items():
        rows = search(dirty_v, dirty_q).collect()
        assert all(r["cos_sim"] is not None for r in rows), name
        assert {r["q_id"] for r in rows} == {0}, name
        assert not {r["vec_id"] for r in rows} & {10, 11}, name
        want = sorted(tuple(r) for r in search(clean_v, clean_q).collect())
        assert sorted(tuple(r) for r in rows) == want, name
        if name != "lsh":  # every cell probed / every pair: all 6 ranked
            assert len(rows) == 6, name


def test_ivf_train_degenerate_sample(spark):
    """Duplicate-heavy samples (fewer distinct points than k) must not
    crash k-means++ — centroids stop early at the distinct count."""
    from t_res_spark.operators.similarity_search import ivf_train_centroids

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(50)]
    rows += [(100 + i, [0.0, 1.0, 0.0, 0.0]) for i in range(50)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_train_centroids(vecs, k=16, sample_size=100, seed=3)
    assert 1 <= len(cents) <= 2
