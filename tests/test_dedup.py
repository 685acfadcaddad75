"""Dedup operators: exact groups, MinHash/LSH recall on planted
near-dups, SimHash Hamming, Jaccard verify."""

import pytest
from pyspark.sql import functions as F

from t_res_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while rain falls "
        "softly on the quiet village roofs and markets open slowly"
    )
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("quick", "swift")),  # near dup of 0
        (3, "completely different text about spark shuffles and "
            "partition pruning in columnar engines at scale"),
        (4, base.replace("rain", "snow").replace("dog", "cat")),  # near dup
        (5, "another unrelated document mentioning window functions "
            "broadcast joins and adaptive query execution plans"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    out = {r["doc_id"]: r for r in dedup.exact_duplicates(docs).collect()}
    assert out[1]["dup_group"] == 0 and not out[1]["is_canonical"]
    assert out[0]["is_canonical"]
    assert out[2]["dup_group"] == 2  # near dup is NOT an exact dup


def test_minhash_near_dup_clusters(docs):
    out = {
        r["doc_id"]: r["dup_cluster"]
        # bands=32 (2 rows/band): collision prob at jaccard 0.6 is
        # 1-(1-0.36)^32 ≈ 1 — the test asserts recall, not band luck
        for r in dedup.near_duplicate_clusters(
            docs, threshold=0.5, shingle_n=3, bands=32
        ).collect()
    }
    assert out["0"] == out["1"] == out["2"] == out["4"]  # one family
    assert out["3"] != out["0"] and out["5"] != out["0"]
    assert out["3"] != out["5"]


def test_jaccard_verify_bounds(spark, docs):
    pairs = spark.createDataFrame([(0, 1), (0, 3)], "a long, b long")
    got = {(r["a"], r["b"]): r["jaccard"]
           for r in dedup.jaccard_verify(docs, pairs, threshold=0.0).collect()}
    assert got[(0, 1)] == 1.0
    assert got.get((0, 3), 0.0) < 0.2


def test_embedding_near_duplicates(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    base = rng.normal(size=(10, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(10)]
    rows[9] = (9, [float(x * 1.001) for x in base[0]])  # near-copy of 0
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["doc_id"]: r["dup_cluster"]
           for r in dedup.embedding_near_duplicates(vecs, threshold=0.99).collect()}
    assert out["0"] == out["9"]  # planted near-copy clustered
    assert len({out[str(i)] for i in range(1, 9)}) == 8  # others singleton


def test_simhash_hamming(docs):
    fps = dedup.simhash(docs)
    # max_hamming ≤ bands-1 (3 here): the pigeonhole recall guarantee
    # only holds inside that bound — this test encodes the actual
    # recall contract, not a looser parameter that reads as guaranteed
    pairs = dedup.simhash_near_pairs(fps, max_hamming=3)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (0, 1) in got  # identical text → hamming 0
    fp = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    assert fp[0] == fp[1]
    assert fp[0] != fp[3]


def test_simhash_pigeonhole_recall(spark):
    """Every pair within Hamming ≤ 3 of the base MUST be proposed: with
    4 disjoint 16-bit bands, ≤3 differing bits leave ≥1 band identical
    (pigeonhole) — including flips in the top (sign) band."""
    import random

    rng = random.Random(7)
    base = 0x5A5A_C3C3_0F0F_AAAA - (1 << 63)  # sign bit set
    rows = [(0, base)]
    doc = 1
    positions = list(range(64))
    for k in (1, 2, 3):
        for _ in range(12):
            flip = rng.sample(positions, k)
            fp = base
            for p in flip:
                fp ^= (1 << p) if p < 63 else -(1 << 63)
            rows.append((doc, fp))
            doc += 1
    fps = spark.createDataFrame(rows, "doc_id long, simhash long")
    pairs = dedup.simhash_near_pairs(fps, max_hamming=3, bucket_cap=1000)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    for d in range(1, doc):
        assert (0, d) in got, f"missed planted pair (0, {d})"


def test_simhash_bucket_cap_skips_huge_buckets(spark):
    """A bucket above bucket_cap emits only its k-1 star pairs
    (min id, x) — linear, never the quadratic expansion (the rule
    shared with minhash_lsh_pairs); at or under the cap, every pair."""
    rows = [(i, 0) for i in range(40)]  # 40 identical fingerprints
    fps = spark.createDataFrame(rows, "doc_id long, simhash long")
    capped = {(r["a"], r["b"]) for r in dedup.simhash_near_pairs(fps, bucket_cap=10).collect()}
    assert capped == {(0, x) for x in range(1, 40)}  # exactly 39 pairs
    assert dedup.simhash_near_pairs(fps, bucket_cap=50).count() == 40 * 39 // 2


def test_exact_family_over_bucket_cap_is_one_cluster(spark):
    """60 identical documents fill every MinHash band bucket past the
    cap of 50; the star pairs still join them into one dup_cluster, and
    the unrelated documents stay singletons."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, text) for i in range(60)]
    rows += [(1000 + j, " ".join(f"u{j}w{w}" for w in range(10))) for j in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["dup_cluster"] for r in dedup.near_duplicate_clusters(docs).collect()}
    assert len(out) == 80
    assert {out[str(i)] for i in range(60)} == {"0"}
    assert all(out[str(1000 + j)] == str(1000 + j) for j in range(20))


def test_bucket_pairs_sizes_orientation_and_dedup(spark):
    """Buckets of 1, 2, cap and cap+1 members: pairs are oriented a < b,
    a pair two buckets share is emitted once, under-cap buckets expand
    fully, and an over-cap bucket adds at most its k-1 star pairs."""
    cap = 4
    members = {
        (0, 1): [7],
        (0, 2): [5, 3],
        (1, 2): [3, 5],  # the same pair again, from another band
        (0, 3): [9, 4, 6, 3],  # exactly cap
        (0, 4): [24, 21, 20, 23, 22],  # cap + 1
    }
    banded = spark.createDataFrame(
        [(band, bucket, d) for (band, bucket), ids in members.items() for d in ids],
        "band int, bucket long, doc_id long",
    )
    got = [(r["a"], r["b"]) for r in dedup._bucket_pairs(banded, ["band", "bucket"], cap).collect()]
    assert len(got) == len(set(got))
    assert all(a < b for a, b in got)
    small = {p for p in got if p[0] < 20}
    assert small == {(3, 5), (3, 4), (3, 6), (3, 9), (4, 6), (4, 9), (6, 9)}
    over = {p for p in got if p[0] >= 20}
    assert over <= {(20, x) for x in (21, 22, 23, 24)}


def test_minhash_lsh_pairs_matches_python_banding(spark):
    """minhash_lsh_pairs against a pure-Python recomputation over the
    collected signatures: band buckets keyed by (band, signature slice),
    all pairs of a bucket of at most ``cap`` members (star pairs above),
    then the estimate filter est >= t - 2/sqrt(num_hashes)."""
    import math
    import random

    rng = random.Random(5)
    vocab = [f"v{i}" for i in range(400)]
    rows, doc = [], 0
    for _ in range(6):  # families of graded overlap with their base
        base = rng.sample(vocab, 30)
        for k in (0, 2, 5, 9, 14):
            words = list(base)
            for j in rng.sample(range(30), k):
                words[j] = rng.choice(vocab)
            rows.append((doc, " ".join(words)))
            doc += 1
    rows += [(100 + i, "one family of exact copies that fills its buckets") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bands, r, cap, t = 32, 2, 8, 0.9
    sigs = dedup.minhash_signatures(docs, shingle_n=3).cache()
    got = {
        (p["a"], p["b"])
        for p in dedup.minhash_lsh_pairs(sigs, bands, r, cap, estimate_threshold=t).collect()
    }
    sig = {row["doc_id"]: row["sig"] for row in sigs.collect()}
    sigs.unpersist()

    buckets: dict = {}
    for d, s in sig.items():
        for b in range(bands):
            buckets.setdefault((b, tuple(s[b * r:(b + 1) * r])), []).append(d)
    cands = set()
    for ids in buckets.values():
        ids = sorted(ids)
        if len(ids) <= cap:
            cands |= {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]}
        else:
            cands |= {(ids[0], b) for b in ids[1:]}
    n = len(next(iter(sig.values())))
    floor = t - 2.0 / math.sqrt(n)
    want = {
        (a, b) for a, b in cands
        if sum(u == v for u, v in zip(sig[a], sig[b])) / n >= floor
    }
    assert max(len(ids) for ids in buckets.values()) == cap  # cap boundary hit
    assert 0 < len(want) < len(cands)  # the estimate filter keeps and drops
    assert got == want


def test_rebalance_narrow_scan_only(spark, tmp_path):
    """The tiny-file guard fires only on a narrow chain over a small
    scan: a derived frame (join/agg upstream) whose width an exchange
    already chose must NOT be re-shuffled just because its leaf scan
    is small — ``inputFiles`` reports leaf files through any number
    of shuffles (the r5 review finding)."""
    p = str(tmp_path / "tiny")
    spark.range(100).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text"
    ).coalesce(1).write.mode("overwrite").parquet(p)
    scan = spark.read.parquet(p)

    def n_shuffles(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("RepartitionByExpression")

    # bare scan (1 file < cores): guard fires
    assert n_shuffles(dedup._rebalance(scan)) == 1
    # aggregated frame over the same scan: width already chosen by the
    # agg's exchange — guard must leave the plan alone
    agg = scan.groupBy("doc_id").count()
    assert n_shuffles(dedup._rebalance(agg, "doc_id")) == 0
    # joined frame: same rule
    joined = scan.join(scan.select("doc_id"), "doc_id")
    assert n_shuffles(dedup._rebalance(joined, "doc_id")) == 0
    # in-memory local relation (zero files): untouched
    local = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    assert n_shuffles(dedup._rebalance(local)) == 0
