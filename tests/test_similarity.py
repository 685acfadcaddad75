"""Golden-scalar tests for the similarity kernels — constants lifted
from the reference suite where semantics carry over
(/root/reference/tests/test_ranking.py, tests/test_linking.py)."""

import math
import random

import pandas as pd

from t_res_spark.functions.similarity import (
    damlev_sim_batch,
    damlev_similarity,
    dl_distance,
    dl_sim_batch,
    dl_similarity,
    fuzz_ratio_batch,
    jaro_winkler_batch,
    jaro_winkler_similarity,
    osa_distance,
    osa_distance_batch,
)


def test_damlev_golden():
    # /root/reference/tests/test_ranking.py:55-57 (float32-rounded there)
    assert abs(damlev_similarity("Lvndon", "London") - 5 / 6) < 1e-9
    assert damlev_similarity("apple", "apple") == 1.0
    # reference docstring example ranking.py:355-357: 1 - 5/6
    assert abs(damlev_similarity("apple", "orange") - (1 - 5 / 6)) < 1e-9


def test_batch_kernels_null_in_null_out(spark):
    """A NULL on either side scores NULL (no match). Read as the string
    'None', NULL would score 1.0 against 'None' and against NULL."""
    a = pd.Series([None, None, "None", "London"])
    b = pd.Series(["None", None, None, "Lvndon"])
    for batch in (damlev_sim_batch, dl_sim_batch, jaro_winkler_batch,
                  fuzz_ratio_batch):
        got = batch(a, b)
        assert got.iloc[:3].isna().all(), batch.__name__
        assert not math.isnan(got.iloc[3]), batch.__name__
    # ... and NULL through the pandas UDF, not NaN
    from t_res_spark.operators.ranking import damlev_sim_udf

    df = spark.createDataFrame([(None, "None"), ("London", "Lvndon")], "a string, b string")
    got = [r["s"] for r in df.select(damlev_sim_udf("a", "b").alias("s")).collect()]
    assert got[0] is None
    assert abs(got[1] - 5 / 6) < 1e-12


_ALPHABET = "abcAB" + "éß" + "İ" + "\u0301" + "\0" + "北" + "\U0001F600"


def _rand_str(rng, lo, hi):
    return "".join(rng.choice(_ALPHABET) for _ in range(rng.randint(lo, hi)))


def _mutate(rng, s):
    """A few random edits, adjacent transpositions included."""
    s = list(s)
    for _ in range(rng.randint(0, 3)):
        op = rng.randrange(4)
        i = rng.randrange(len(s) + 1)
        if op == 0 and i + 1 < len(s):
            s[i], s[i + 1] = s[i + 1], s[i]
        elif op == 1:
            s.insert(i, rng.choice(_ALPHABET))
        elif op == 2 and i < len(s):
            del s[i]
        elif i < len(s):
            s[i] = rng.choice(_ALPHABET)
    return "".join(s)


def _differential_pairs(seed=20031):
    rng = random.Random(seed)
    pairs = []
    for _ in range(60_000):  # independent short strings, empty included
        pairs.append((_rand_str(rng, 0, 14), _rand_str(rng, 0, 14)))
    for _ in range(40_000):  # near pairs: transpositions and edits
        a = _rand_str(rng, 0, 16)
        pairs.append((a, _mutate(rng, a)))
    for n in (63, 64, 65):  # the word boundary, near and far pairs
        for _ in range(150):
            a = _rand_str(rng, n, n)
            pairs.append((a, _mutate(rng, a)))
            pairs.append((a, _rand_str(rng, 60, 66)))
    for _ in range(150):  # one side over the word, the other short or empty
        pairs.append((_rand_str(rng, 65, 90), _rand_str(rng, 0, 20)))
        pairs.append((_rand_str(rng, 0, 64), _rand_str(rng, 65, 80)))
    rng.shuffle(pairs)  # fallback rows mixed into kernel batches
    return pairs


def test_osa_batch_matches_dp():
    """The bit-parallel kernel against the DP on 10^5+ seeded pairs:
    Unicode (İ lowercases to two code points, a combining mark, an
    astral character), empty strings, embedded and trailing NULs,
    lengths 63/64/65 and one or both sides over the 64-bit word."""
    pairs = _differential_pairs()
    assert len(pairs) >= 100_000
    xs, ys = [p[0] for p in pairs], [p[1] for p in pairs]
    got = osa_distance_batch(xs, ys)
    want = [osa_distance(x, y) for x, y in pairs]
    bad = [(p, g, w) for p, g, w in zip(pairs, got.tolist(), want) if g != w]
    assert not bad, bad[:5]
    # both orientations agree (the kernel picks the pattern side per row)
    assert (osa_distance_batch(ys[:5000], xs[:5000]) == got[:5000]).all()


def test_damlev_batch_float_equal_to_scalar():
    """Integer distances over the same max length: the batch floats are
    bit-identical to ``damlev_similarity``, including after lowercasing
    changes a length (İ → i̇) and for empty vs empty."""
    pairs = _differential_pairs(seed=7)[:8_000]
    pairs += [("", ""), ("İ", "i"), ("İSTANBUL", "istanbul"), ("Lvndon", "London")]
    got = damlev_sim_batch(pd.Series([p[0] for p in pairs]), pd.Series([p[1] for p in pairs]))
    assert got.tolist() == [damlev_similarity(x, y) for x, y in pairs]
    assert got.iloc[-1] == damlev_similarity("Lvndon", "London")
    assert abs(got.iloc[-1] - 0.8333333333333334) < 1e-15


def test_osa_transposition():
    assert osa_distance("ab", "ba") == 1
    assert osa_distance("ca", "abc") == 3  # OSA restriction
    assert dl_distance("ca", "abc") == 2  # unrestricted DL


def test_dl_similarity_case_insensitive():
    assert dl_similarity("LONDON", "london") == 1.0
    assert dl_similarity("", "") == 1.0


def test_jaro_winkler_basics():
    assert jaro_winkler_similarity("london", "london") == 1.0
    assert jaro_winkler_similarity("", "x") == 0.0
    # prefix boost applies above 0.7 threshold
    jw = jaro_winkler_similarity("sheffield", "shefiield")
    assert 0.9 < jw < 1.0
    assert math.isclose(
        jaro_winkler_similarity("dixon", "dicksonx"),
        0.8133333333333332,
        rel_tol=1e-9,
    )


def test_fuzz_ratio_goldens():
    """F4 — Indel-normalized ratio, rapidfuzz semantics (exact rational,
    no rounding): 100 * 2*LCS / (len1+len2)."""
    from t_res_spark.functions.similarity import fuzz_ratio

    assert fuzz_ratio("", "") == 100.0
    assert fuzz_ratio("abc", "abc") == 100.0
    assert fuzz_ratio("abc", "") == 0.0
    # thefuzz/rapidfuzz canonical example: LCS=14, lens 14+15
    assert abs(fuzz_ratio("this is a test", "this is a test!") - 2800 / 29) < 1e-12
    # one substitution in the middle: LCS=5, lens 6+6
    assert fuzz_ratio("london", "lvndon") == 1000 / 12


def test_lr_confidence_golden(spark):
    """ML6 — sigmoid(a*x+b) closed form (entity_disambiguation.py:473-494)."""
    import math

    from pyspark.sql import functions as F

    from t_res_spark.operators.linking import lr_confidence

    df = spark.createDataFrame([(0.5,), (1.0,), (0.0,)], "s double")
    got = {r["s"]: r["c"] for r in df.select("s", lr_confidence(F.col("s")).alias("c")).collect()}
    assert abs(got[0.5] - 0.5) < 1e-12
    assert abs(got[1.0] - 1 / (1 + math.exp(-3.0))) < 1e-12
    assert abs(got[0.0] - 1 / (1 + math.exp(3.0))) < 1e-12


def test_xxh64_matches_spark(spark):
    """The from-spec python XXH64 (functions/xxh64.py — used to author
    the d3/d3b golden oracles) is bit-exact vs Spark's builtin
    xxhash64 (seed 42) across every length branch (empty, <4, <8,
    tail bytes, 4-byte word, 8-byte word, >=32 stripe) and unicode."""
    from pyspark.sql import functions as F

    from t_res_spark.functions.xxh64 import xxh64_str

    cases = [
        "", "a", "ab", "abc", "abcd", "hello", "hello world",
        "x" * 7, "y" * 8, "z" * 15, "w" * 16, "q" * 31, "m" * 32,
        "n" * 33, "long text " * 10, "Łódź İstanbul 北京", "nation_5",
    ]
    got = {
        r["s"]: r["h"]
        for r in spark.createDataFrame([(c,) for c in cases], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    }
    for c in cases:
        assert xxh64_str(c) == got[c], repr(c)
