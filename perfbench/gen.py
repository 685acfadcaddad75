"""Seeded, vectorised input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical inputs, and the work is linear in the number of rows it
emits (numpy draws plus one pass of string assembly). None of them calls
``t_res_spark.datagen.generate``, whose name loop stops terminating once
its ~2,800 base names are used up.

- ``er_fuzzy``: injective place names grouped into phonetic blocks whose
  members differ only in their vowels, a Zipf-skewed choice of entity
  per turn, one hot alias shared by many entities, and a set share of
  OCR-style corruptions that are absent from the KB but stay in their
  phonetic block.
- ``dedup``: a document corpus with planted near-duplicate groups (one of
  them hot) and a vector corpus with planted near-duplicate groups plus
  clustered neighbours for the ANN queries.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

# consonants whose run-collapsed skeleton is the engine's phonetic block
# key ('y' and the vowels are stripped by it, so they never appear here)
CONSONANTS = np.array(list("bcdfghjklmnprstvwz"))
VOWELS = np.array(list("aeiou"))
TURNS_PER_CONV = 20
HOT_ENTITIES = 50  # entities sharing the hot alias
DOC_WORDS = 60  # words per dedup document
# Gaussian clusters the ANN vectors and queries come from: many small
# ones, so that recall averages over many cluster shapes and varies little
# from seed to seed.
N_CLUSTERS = 256
# Spread of a cluster around its N(0, 1) centre: wide enough that no two
# unplanted vectors reach embedding_near_duplicates' 0.95 cosine (the
# closest such pair stays under 0.93 over 30 seeds at 3,000 vectors),
# tight enough that a query's ten nearest neighbours share its cluster.
CLUSTER_NOISE = 0.55
FILLER_WORDS = np.array(
    (
        "batch part spark line column order small sort fast value scan hash "
        "slow group agg filter query big key window row table stream merge "
        "data join vector customer the a report river market field road "
        "evening rain trade goods office light quiet street bell town"
    ).split()
)


def _words(rng: np.random.Generator, n_rows: int, n_words: int) -> np.ndarray:
    """n_rows strings of n_words lowercase filler words each."""
    idx = rng.integers(0, len(FILLER_WORDS), size=(n_rows, n_words))
    cols = FILLER_WORDS[idx]
    out = cols[:, 0].astype(object)
    for j in range(1, n_words):
        out = out + " " + cols[:, j]
    return out


def _transcripts(conv: np.ndarray, t: np.ndarray, text: np.ndarray) -> pd.DataFrame:
    roles = np.array(["user", "assistant", "tool"], dtype=object)
    return pd.DataFrame(
        {
            "conv_id": np.char.add("conv", conv.astype(str)).astype(object),
            "turn_idx": t.astype("int32"),
            "role": roles[t % 3],
            "text": text,
            "tool": np.where(t % 3 == 2, "search", None).astype(object),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(conv * 1000 + t, unit="s"),
        }
    )


# --------------------------------------------------------------------------
# er_fuzzy
# --------------------------------------------------------------------------


def _skeletons(idx: np.ndarray, length: int) -> np.ndarray:
    """Mixed-radix decode: index → consonant skeleton of ``length`` with no
    two adjacent consonants equal (so the run collapse of the phonetic key
    keeps every consonant). Injective over [0, 18 * 17**(length-1))."""
    k = len(CONSONANTS)
    out = np.empty((len(idx), length), dtype=np.int64)
    rest = idx.copy()
    out[:, 0] = rest % k
    rest //= k
    for j in range(1, length):
        step = rest % (k - 1) + 1  # never 0 → never equal to the previous
        rest //= k - 1
        out[:, j] = (out[:, j - 1] + step) % k
    return out


def skeleton_space(length: int) -> int:
    return len(CONSONANTS) * (len(CONSONANTS) - 1) ** (length - 1)


def place_names(rng: np.random.Generator, n_blocks: int, block_size: int) -> np.ndarray:
    """(n_blocks + 1) × block_size distinct capitalised names; block b's
    names share one consonant skeleton and differ only in vowels. The last
    row is a reserved block whose first name serves as the hot alias.
    Injective for any n_blocks: the skeleton grows until its space holds
    4× the blocks needed."""
    length = 4
    while skeleton_space(length) < 4 * (n_blocks + 1):
        length += 1
    while len(VOWELS) ** (length - 1) < block_size:
        length += 1
    sk_idx = rng.choice(skeleton_space(length), size=n_blocks + 1, replace=False)
    sk = CONSONANTS[_skeletons(sk_idx, length)]  # (B, L)
    n_pat = len(VOWELS) ** (length - 1)
    # block_size distinct vowel patterns per block: a seeded affine walk
    # over the pattern space (stride coprime to 5**(L-1), so distinct)
    start = rng.integers(0, n_pat, size=(n_blocks + 1, 1))
    stride = 1 + 5 * rng.integers(0, max(n_pat // 5, 1), size=(n_blocks + 1, 1))
    pat = (start + stride * np.arange(block_size)[None, :]) % n_pat  # (B, S)
    names = np.empty(pat.shape, dtype=object)
    names[:] = ""
    for j in range(length):
        c = sk[:, j][:, None]
        names = names + (np.char.upper(c) if j == 0 else c).astype(object)
        if j < length - 1:
            v = VOWELS[(pat // len(VOWELS) ** j) % len(VOWELS)]
            names = names + v.astype(object)
    return names


@dataclass
class FuzzyInputs:
    transcripts: pd.DataFrame
    aliases: pd.DataFrame
    truth: np.ndarray  # planted entity index per turn, -1 for hot-alias turns
    hot_alias: str


def corrupt(rng: np.random.Generator, names: np.ndarray) -> np.ndarray:
    """OCR-style corruptions that no KB name has and that keep the phonetic
    block: double an interior consonant, or turn a vowel into 'y'."""
    n = len(names)
    kind = rng.integers(0, 2, size=n)
    pos = 2 * rng.integers(1, 3, size=n)  # an interior consonant: index 2 or 4
    out = np.empty(n, dtype=object)
    for i, (s, k, p) in enumerate(zip(names, kind, pos)):
        out[i] = s[: p + 1] + s[p:] if k == 0 else s[: p - 1] + "y" + s[p:]
    return out


def er_fuzzy(
    seed: int,
    n_entities: int,
    n_turns: int,
    block_size: int = 48,
    unseen_share: float = 0.35,
    hot_share: float = 0.05,
    zipf_s: float = 0.5,
) -> FuzzyInputs:
    """Transcripts and alias KB: each turn names one entity (Zipf-skewed
    with exponent ``zipf_s``), an unseen corruption of it with probability
    ``unseen_share``, or the hot alias with probability ``hot_share``;
    ``block_size`` names share each phonetic block."""
    rng = np.random.default_rng([seed, 2])
    n_blocks = -(-n_entities // block_size)
    grid = place_names(rng, n_blocks, block_size)
    names = grid[:n_blocks].reshape(-1)[:n_entities]
    hot_alias = grid[n_blocks, 0]
    qids = np.array([f"E{i:07d}" for i in range(n_entities)], dtype=object)
    # distinct popularity per entity: most_popular has no ties to break
    pop = rng.permutation(n_entities) + 1
    hot_ids = rng.choice(n_entities, size=min(HOT_ENTITIES, n_entities), replace=False)
    aliases = pd.DataFrame(
        {
            "alias": np.concatenate([names, np.full(len(hot_ids), hot_alias, dtype=object)]),
            "qid": np.concatenate([qids, qids[hot_ids]]),
            "relv": np.concatenate([np.full(n_entities, 0.875), np.full(len(hot_ids), 0.125)]),
            "abs_relv": np.concatenate([pop * 16.0, (pop[hot_ids] % 97 + 1) * 1.0]),
        }
    )
    # Zipf-skewed entity per turn (rank → entity is a seeded permutation)
    w = 1.0 / np.arange(1, n_entities + 1) ** zipf_s
    rank = rng.choice(n_entities, size=n_turns, p=w / w.sum())
    ent = rng.permutation(n_entities)[rank]
    surface = names[ent].copy()
    unseen = rng.random(n_turns) < unseen_share
    surface[unseen] = corrupt(rng, surface[unseen])
    hot = rng.random(n_turns) < hot_share
    surface[hot] = hot_alias
    truth = np.where(hot, -1, ent)
    text = _words(rng, n_turns, 6) + " " + surface + " " + _words(rng, n_turns, 8)
    g = np.arange(n_turns)
    return FuzzyInputs(
        _transcripts(g // TURNS_PER_CONV, g % TURNS_PER_CONV, text),
        aliases,
        truth,
        hot_alias,
    )


# --------------------------------------------------------------------------
# dedup_ann
# --------------------------------------------------------------------------


@dataclass
class DedupInputs:
    docs: pd.DataFrame  # doc_id, text
    doc_group: np.ndarray  # planted group per doc (own id when singleton)
    vectors: pd.DataFrame  # vec_id, embedding
    vec_group: np.ndarray  # planted near-duplicate group per vector
    queries: pd.DataFrame  # q_id, q_vec


def _groups(rng, n: int, n_groups: int, group_size: int, hot_size: int) -> np.ndarray:
    """Planted group id per row: row i of a group of k copies is a copy of
    the group's first row; everything else is a singleton (own id)."""
    group = np.arange(n)
    sizes = [hot_size] + [group_size] * (n_groups - 1)
    if sum(sizes) > n:
        raise ValueError(f"{n_groups} planted groups need {sum(sizes)} rows, got {n}")
    members = rng.permutation(n)[: sum(sizes)]
    at = 0
    for k in sizes:
        g = members[at : at + k]
        group[g] = g.min()
        at += k
    return group


def dedup(
    seed: int,
    n_docs: int,
    n_vectors: int,
    n_queries: int,
    dim: int = 64,
    n_groups: int = 200,
    group_size: int = 3,
    hot_size: int = 40,
) -> DedupInputs:
    rng = np.random.default_rng([seed, 3])
    # documents: random word sequences over a large vocabulary (unrelated
    # documents share almost no 5-shingles); a planted copy differs from
    # its group's base only in its last word (Jaccard ≈ 0.97)
    vocab = np.array([f"w{i}" for i in range(20000)], dtype=object)
    words = vocab[rng.integers(0, len(vocab), size=(n_docs, DOC_WORDS))]
    doc_group = _groups(rng, n_docs, n_groups, group_size, hot_size)
    words = words[doc_group]  # copies take their base's words
    is_copy = doc_group != np.arange(n_docs)
    words[is_copy, -1] = np.char.add("x", np.arange(is_copy.sum()).astype(str)).astype(object)
    text = words[:, 0]
    for j in range(1, DOC_WORDS):
        text = text + " " + words[:, j]
    docs = pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": text})

    # vectors: N_CLUSTERS Gaussian clusters (ANN neighbours live in the
    # query's cluster); planted near-duplicate copies sit at angle ~0.01
    centers = rng.normal(size=(N_CLUSTERS, dim))
    member = rng.integers(0, N_CLUSTERS, size=n_vectors)
    vec = centers[member] + CLUSTER_NOISE * rng.normal(size=(n_vectors, dim))
    vec_group = _groups(rng, n_vectors, n_groups, group_size, hot_size)
    vec = vec[vec_group]
    norm = np.linalg.norm(vec, axis=1, keepdims=True)
    copy = vec_group != np.arange(n_vectors)
    vec[copy] += 0.01 / np.sqrt(dim) * norm[copy] * rng.normal(size=(copy.sum(), dim))
    vectors = pd.DataFrame(
        {
            "vec_id": np.arange(n_vectors, dtype=np.int64),
            "embedding": list(vec.astype(np.float32)),
        }
    )
    q_member = rng.integers(0, N_CLUSTERS, size=n_queries)
    q = centers[q_member] + CLUSTER_NOISE * rng.normal(size=(n_queries, dim))
    queries = pd.DataFrame(
        {"q_id": np.arange(n_queries, dtype=np.int64), "q_vec": list(q.astype(np.float32))}
    )
    return DedupInputs(docs, doc_group, vectors, vec_group, queries)


# --------------------------------------------------------------------------


def digest(*frames: pd.DataFrame) -> str:
    """sha256 over the frames' contents — equal inputs, equal digest."""
    h = hashlib.sha256()
    for df in frames:
        h.update(pd.util.hash_pandas_object(df.astype(str), index=False).values.tobytes())
    return h.hexdigest()
