"""Candidate-ranking parity tests — semantics lifted from
/root/reference/tests/test_ranking.py."""

import pytest
from pyspark.sql import functions as F

from t_res_spark.functions.similarity import containment_score
from t_res_spark.operators import ranking


@pytest.fixture(scope="module")
def kb(spark):
    rows = [
        ("London", "Q84", 0.875, 43000000.0),
        ("London", "Q2477346", 0.125, 620000.0),
        ("Lancaster", "Q211583", 0.75, 300000.0),
        ("New York City", "Q60", 0.875, 9000000.0),
        ("New York", "Q60", 0.5, 5000000.0),
        ("Sheffield", "Q42448", 0.875, 4000000.0),
        ("Shefneld", "Q42448", 0.125, 1000.0),
        # noisy aliases dropped at load (ranking.py:221-227)
        ("London, Greater London", "Q84", 0.5, 100.0),
        ("London (fictional)", "Q84", 0.5, 100.0),
    ]
    return spark.createDataFrame(rows, "alias string, qid string, relv double, abs_relv double")


def _queries(spark, *surfaces):
    return spark.createDataFrame([(s,) for s in surfaces], "mention string")


def test_clean_aliases_filter_pushdown(kb):
    cleaned = ranking.clean_aliases(kb)
    got = {r["alias"] for r in cleaned.select("alias").distinct().collect()}
    assert "London, Greater London" not in got
    assert "London (fictional)" not in got
    assert "London" in got


def test_perfect_match(spark, kb):
    """ranking.py:286-325 — exact match score 1.0, misses absent."""
    out = ranking.perfect_match(
        _queries(spark, "London", "Lvndon"), ranking.clean_aliases(kb)
    ).collect()
    assert {(r["mention"], r["variation"], r["score"]) for r in out} == {
        ("London", "London", 1.0)
    }


def test_partial_match_containment_golden(spark, kb):
    """tests/test_ranking.py:77-80 — containment('New York',
    'New York City') == 8/13; keep-all-ties top-1."""
    out = ranking.match_surfaces(
        _queries(spark, "York New"),  # not an exact match; contains nothing
        ranking.clean_aliases(kb),
        ranking.pairwise(containment_score),
        use_blocking=False,
    ).collect()
    assert out == []  # no containment either direction

    out = ranking.match_surfaces(
        _queries(spark, "ork Cit"),
        ranking.clean_aliases(kb),
        ranking.pairwise(containment_score),
        use_blocking=False,
    ).collect()
    # 'ork Cit' ⊂ 'New York City' → 7/13
    assert len(out) == 1
    assert out[0]["variation"] == "New York City"
    assert abs(out[0]["score"] - 7 / 13) < 1e-12


def test_partial_match_damlev_golden(spark, kb):
    """tests/test_ranking.py:55-57 — damlev('Lvndon','London') == 5/6,
    and it is the unique top-1 distinct score."""
    out = ranking.match_surfaces(
        _queries(spark, "Lvndon"),
        ranking.clean_aliases(kb),
        ranking.pairwise(ranking.damlev_sim_udf),
        use_blocking=False,
    ).collect()
    best = {r["variation"]: r["score"] for r in out}
    assert set(best) == {"London"}
    assert abs(best["London"] - 5 / 6) < 1e-9


def test_fuzzy_blocked_finds_ocr_variant(spark, kb):
    """The 'Shefiield' → Sheffield golden path
    (tests/test_ranking.py:240-247 analog) through real blocking."""
    cands = ranking.find_candidates(
        _queries(spark, "Shefiield", "London"),
        kb,
        method="fuzzy",
        threshold=0.7,
        top_k=3,
    )
    rows = cands.collect()
    got = {(r["mention"], r["qid"]) for r in rows}
    assert ("Shefiield", "Q42448") in got
    assert ("London", "Q84") in got and ("London", "Q2477346") in got
    # exact match short-circuits at 1.0
    assert {r["score"] for r in rows if r["mention"] == "London"} == {1.0}


def test_embedding_match(spark, kb):
    from t_res_spark.datagen import hashed_ngram_embedding

    kb_clean = ranking.clean_aliases(kb)
    emb_rows = [
        (a, hashed_ngram_embedding(a).tolist())
        for a in [r["alias"] for r in kb_clean.select("alias").distinct().collect()]
    ]
    emb = spark.createDataFrame(emb_rows, "key string, emb array<float>")
    out = ranking.match_surfaces(
        _queries(spark, "Shefiield"), kb_clean, ranking.embedding_cosine(emb),
        keep=(0.5, 3),
    ).collect()
    assert any(r["variation"] == "Sheffield" for r in out)


# find_candidates rows per method over the ``kb`` fixture, derived by
# hand: (mention, variation) → score, resolved to every QID of the
# variation. Exact hits skip fuzzy scoring; 'SHEFFIELD' misses the
# case-sensitive exact match but scores 1.0 lowercased; 'Lvndon' shares
# no block key with 'London' ('llvndn' vs 'llndn'), so no blocked method
# pairs them; 'Lndn' does share 'p:llndn' and scores DL 1 - 2/6 (under
# the 0.7 threshold), JW 8/9 + 0.1·1/9 = 9/10.
_QIDS = {
    "London": ["Q84", "Q2477346"],
    "New York": ["Q60"],
    "Sheffield": ["Q42448"],
    "Lancaster": ["Q211583"],
}
_EXACT = {("London", "London"): 1.0, ("New York", "New York"): 1.0}
_UPPER = {("SHEFFIELD", "Sheffield"): 1.0}
_DL = {
    **_EXACT, **_UPPER,
    ("Sheffield.", "Sheffield"): 9 / 10,   # one deletion over 10
    ("Shefiield", "Sheffield"): 8 / 9,     # one substitution over 9
    ("Lancastor", "Lancaster"): 8 / 9,
}
_COSINE = None  # score = cosine of the two hashed n-gram embeddings
_EXPECTED = {
    "perfectmatch": _EXACT,
    # containment: len(shorter) / len(longer), ties of the best
    "partialmatch": {**_EXACT, **_UPPER, ("Sheffield.", "Sheffield"): 9 / 10},
    # ties of the best, no threshold: 'Lndn' keeps its 2/3
    "levenshtein": {**_DL, ("Lndn", "London"): 4 / 6},
    "fuzzy": _DL,
    # Jaro 25/27 (8 of 9 matched, no transpositions) + 4-char prefix
    # boost 0.4 · 2/27 = 43/45; 'sheffield.' Jaro 29/30 → 49/50
    "jarowinkler": {
        **_EXACT, **_UPPER,
        ("Sheffield.", "Sheffield"): 49 / 50,
        ("Shefiield", "Sheffield"): 43 / 45,
        ("Lancastor", "Lancaster"): 43 / 45,
        ("Lndn", "London"): 9 / 10,
    },
    "embcosine": {
        **_EXACT,
        ("SHEFFIELD", "Sheffield"): _COSINE,
        ("Sheffield.", "Sheffield"): _COSINE,
        ("Lancastor", "Lancaster"): _COSINE,
    },
}


@pytest.mark.parametrize("method", sorted(_EXPECTED))
def test_find_candidates_methods_table(spark, kb, method):
    """All six methods through find_candidates (threshold 0.7, top-3)."""
    import numpy as np

    from t_res_spark.datagen import hashed_ngram_embedding

    clean = ranking.clean_aliases(kb)
    emb = spark.createDataFrame(
        [(a, hashed_ngram_embedding(a).tolist())
         for a in sorted({r["alias"] for r in clean.collect()})],
        "key string, emb array<float>",
    )
    queries = _queries(
        spark, "London", "New York", "SHEFFIELD", "Sheffield.", "Shefiield",
        "Lancastor", "Lndn", "Lvndon",
    )
    out = ranking.find_candidates(
        queries, kb, embeddings_kb=emb, method=method, threshold=0.7, top_k=3
    ).collect()
    got = {(r["mention"], r["variation"], r["qid"]): r["score"] for r in out}
    assert len(got) == len(out)
    want = {
        (m, v, q): score
        for (m, v), score in _EXPECTED[method].items()
        for q in _QIDS[v]
    }
    assert set(got) == set(want)
    for key, score in want.items():
        if score is _COSINE:
            m, v, _ = key
            score = float(np.dot(hashed_ngram_embedding(m).astype(np.float64),
                                 hashed_ngram_embedding(v).astype(np.float64)))
        assert got[key] == pytest.approx(score, abs=1e-6), key
    # resolution carries the alias row's relevance
    relv = {(k["alias"], k["qid"]): (k["relv"], k["abs_relv"]) for k in kb.collect()}
    for r in out:
        assert (r["relv"], r["abs_relv"]) == relv[(r["variation"], r["qid"])]


def test_salting_preserves_results(spark, kb):
    q = _queries(spark, "Lvndon", "Shefiield", "Lancastor")
    a = ranking.find_candidates(q, kb, method="fuzzy", salt_factor=1)
    b = ranking.find_candidates(q, kb, method="fuzzy", salt_factor=8)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def _plan_nodes(plan):
    """Every node of an executed (adaptive, final) physical plan,
    including the plans inside its query stages."""
    yield plan
    if plan.getClass().getSimpleName().endswith("QueryStageExec"):
        yield from _plan_nodes(plan.plan())
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


@pytest.mark.parametrize("method", ["fuzzy", "levenshtein"])
def test_fuzzy_scoring_runs_once_on_every_partition(spark, kb, method):
    """Plan shape of the scoring stage (threshold + top-k, and the ties
    keep rule): the pair set goes through one fixed-width exchange on
    mention, AQE cannot coalesce it, and the score UDF is evaluated once
    per pair above it — the keep rule's filter is not pushed below the
    pair distinct, where it would score every pair a second time."""
    from t_res_spark.functions.shuffle import shuffle_width

    queries = _queries(spark, "Shefiield", "London", "Lancastor", "Lndn")
    df = ranking.find_candidates(queries, kb, method=method)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("ArrowEvalPython") == 1, optimized
    assert df.collect()
    final = df._jdf.queryExecution().executedPlan().executedPlan()
    scoring = [n for n in _plan_nodes(final)
               if n.getClass().getSimpleName() == "ArrowEvalPythonExec"]
    assert len(scoring) == 1, final.toString()
    assert scoring[0].execute().getNumPartitions() == shuffle_width(df) > 1


def test_no_forced_broadcast_on_unbounded_sides(spark, kb):
    """Scale guard: neither the alias-surface side of perfect_match nor
    the query-embedding side of the embcosine score step may carry a broadcast
    hint — both grow with the KB / corpus (10M+ aliases; most surfaces
    miss exact match on OCR-noisy text). AQE is free to promote small
    sides at runtime; what we assert is that the plan doesn't FORCE it."""
    from t_res_spark.datagen import EMB_DIM, hashed_ngram_embedding

    aliases = ranking.clean_aliases(kb)
    queries = _queries(spark, "London", "Lvndon")
    emb_kb = spark.createDataFrame(
        [(r["alias"], hashed_ngram_embedding(r["alias"], EMB_DIM).tolist())
         for r in kb.collect()],
        "key string, emb array<float>",
    )
    for df in (
        ranking.perfect_match(queries, aliases),
        ranking.match_surfaces(
            queries, aliases, ranking.embedding_cosine(emb_kb), keep=(0.75, 3)
        ),
    ):
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed, analyzed
        assert "UnresolvedHint" not in analyzed, analyzed


def test_jarowinkler_method_golden(spark, kb):
    """method='jarowinkler' in find_candidates: exact surfaces
    short-circuit at 1.0; the OCR variant scores its JW value
    (jaro_winkler_similarity('shefneld','sheffield') with the 0.7
    boost) and resolves through the alias map."""
    from t_res_spark.functions.similarity import jaro_winkler_similarity

    out = ranking.find_candidates(
        _queries(spark, "Sheffield", "Sheffeild"), kb, method="jarowinkler",
        threshold=0.8,
    )
    rows = {(r["mention"], r["variation"]): r["score"] for r in out.collect()}
    assert rows[("Sheffield", "Sheffield")] == 1.0
    # 'Sheffeild' is NOT a KB alias (no exact short-circuit) but shares
    # the phonetic block with 'Sheffield'
    expected = jaro_winkler_similarity("sheffeild", "sheffield")
    assert abs(rows[("Sheffeild", "Sheffield")] - expected) < 1e-12


def test_classify_ocr_variants(spark):
    """F4 — half-split fuzz.ratio gate (deezy_processing.py:52-85)."""
    pairs = spark.createDataFrame(
        [
            ("sheffield", "shetfield", False),   # OCR variant -> positive
            ("sheffield", "stratford", True),    # dissimilar English -> negative
            ("sheffield", "sheffield", True),    # identical English -> neutral
        ],
        "word string, nn_word string, nn_is_english boolean",
    )
    got = {r["nn_word"]: r["label"] for r in ranking.classify_ocr_variants(pairs).collect()}
    assert got["shetfield"] == "positive"
    assert got["stratford"] == "negative"
    assert got["sheffield"] == "neutral"


def test_classify_ocr_variants_containment_guard(spark):
    """deezy_processing.py:52 — containment pairs are skipped outright,
    never labelled positive/negative."""
    pairs = spark.createDataFrame(
        [("care", "carex", False), ("blackpool", "pool", True)],
        "word string, nn_word string, nn_is_english boolean",
    )
    got = {r["nn_word"]: r["label"] for r in ranking.classify_ocr_variants(pairs).collect()}
    assert got == {"carex": "neutral", "pool": "neutral"}
