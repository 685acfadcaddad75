"""The benchmark workloads: inputs, one timed operation, its output
check, and the traced per-layer run.

Each workload writes its generated inputs as parquet under the run's
work directory; the engine only ever sees those files. One operation is
one batch job, from reading the input to the complete result written.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import time
import traceback
import urllib.request

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen

NIL = "NIL"
DIM = 64  # embedding width of the dedup_ann vectors

# Input sizes. Chosen so that one timed run (set-up, a cold job and two
# warm jobs) takes under a minute on a 4-core box, and so that scoring the
# blocked pairs is most of an er_fuzzy job (the input's shape is set by
# gen.py's defaults). All of them follow --scale.
SIZES = {
    "er_fuzzy": {"n_entities": 4000, "n_turns": 6000},
    "dedup_ann": {"n_docs": 1500, "n_vectors": 3000, "n_queries": 600,
                  "n_groups": 200},
}


def write_parts(df: pd.DataFrame, path: str, parts: int) -> None:
    """Write df as ``parts`` parquet files, so the scan has parallelism."""
    os.makedirs(path)
    bounds = np.linspace(0, len(df), parts + 1).astype(int)
    for k in range(parts):
        df.iloc[bounds[k] : bounds[k + 1]].to_parquet(
            os.path.join(path, f"part-{k:03d}.parquet"), index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )


def read_dir(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def pairwise_f1(cluster: np.ndarray, truth: np.ndarray) -> float:
    """Pairwise F1 of per-turn cluster labels against planted truth.

    Pairs follow the frozen headline's rule, (g, g+1) and (g, g+25), plus
    (g, next turn with the same truth) so that positives exist when the
    seed, not g % 25, picks what a turn plants. Turns with truth -1 are
    left out."""
    g = np.arange(len(truth))
    order = np.lexsort((g, truth))
    same_next = truth[order][1:] == truth[order][:-1]
    a = np.concatenate([g[:-1], g[:-25], order[:-1][same_next]])
    b = np.concatenate([g[1:], g[25:], order[1:][same_next]])
    keep = (truth[a] >= 0) & (truth[b] >= 0)
    a, b = a[keep], b[keep]
    pred = (cluster[a] == cluster[b]) & pd.notna(cluster[a])
    same = truth[a] == truth[b]
    tp = int(np.sum(pred & same))
    fp = int(np.sum(pred & ~same))
    fn = int(np.sum(~pred & same))
    return 2 * tp / max(2 * tp + fp + fn, 1)


def _turn_index(mention_id: pd.Series) -> np.ndarray:
    """mention_id 'conv<c>:<t>:<start>' → the generator's turn number."""
    parts = mention_id.str.split(":", expand=True)
    conv = parts[0].str.slice(4).astype(np.int64).to_numpy()
    return conv * gen.TURNS_PER_CONV + parts[1].astype(np.int64).to_numpy()


# --------------------------------------------------------------------------
# er_fuzzy
# --------------------------------------------------------------------------


class ErWorkload:
    """resolve() through a ``CheckpointCatalog`` with a fresh root per job
    (the ``jobs/resolve_job.py`` path) over generated transcripts and an
    alias KB with a large fuzzy pair space."""

    name = "er_fuzzy"

    def __init__(self, work: str, seed: int, sizes: dict):
        self.work = work
        self.seed = seed
        self.sizes = sizes

    # -- inputs and reference (outside every timed region) ----------------

    def make_inputs(self, cores: int) -> dict:
        inp = gen.er_fuzzy(self.seed, **self.sizes)
        self.truth = inp.truth
        self.transcripts_pd = inp.transcripts
        self.aliases_pd = inp.aliases
        write_parts(inp.transcripts, os.path.join(self.work, "transcripts"), 2 * cores)
        write_parts(inp.aliases, os.path.join(self.work, "aliases"), 1)
        self.records = len(inp.transcripts)
        self.oracle = self._oracle(inp.transcripts)
        return {"turns": self.records, "aliases": len(inp.aliases),
                "digest": gen.digest(inp.transcripts, inp.aliases)}

    def _oracle(self, transcripts: pd.DataFrame, top_k: int = 3) -> pd.DataFrame:
        from t_res_spark.datagen import FixtureSet
        from t_res_spark.oracle import resolve_oracle

        fx = FixtureSet(transcripts, self.aliases_pd, None, None, None, None)
        return resolve_oracle(fx, threshold=0.7, top_k=top_k)

    def reference(self, spark, tr) -> None:
        """The oracle is computed with the inputs; nothing to do here."""

    # -- set-up -------------------------------------------------------------

    def load(self, spark) -> None:
        self.transcripts = spark.read.parquet(os.path.join(self.work, "transcripts"))
        self.aliases = spark.read.parquet(os.path.join(self.work, "aliases")).cache()
        self.aliases.count()

    # -- one timed operation ------------------------------------------------

    def _catalog(self, spark, tag: str):
        from t_res_spark.sources.tables import CheckpointCatalog

        return CheckpointCatalog(spark, os.path.join(self.work, f"ckpt-{tag}"))

    def op(self, spark, tag: str) -> str:
        from t_res_spark.plans.pipeline import PipelineConfig, resolve

        out = os.path.join(self.work, f"out-{tag}")
        res = resolve(spark, self.transcripts, self.aliases,
                      config=PipelineConfig(), catalog=self._catalog(spark, tag))
        res.clusters.select("mention_id", "mention", "prediction", "cluster_id") \
            .write.mode("overwrite").parquet(out)
        res.unpersist()
        return out

    def check(self, out: str) -> tuple[bool, float]:
        """(every mention's prediction and cluster equal the oracle's,
        pairwise F1 against the planted truth)."""
        got = read_dir(out)
        ref = self.oracle
        merged = ref.merge(got, on="mention_id", how="outer", suffixes=("_r", ""))
        ok = (
            len(merged) == len(ref) == len(got)
            and bool((merged["prediction_r"] == merged["prediction"]).all())
            and bool((merged["cluster_id_r"] == merged["cluster_id"]).all())
        )
        turn = _turn_index(got["mention_id"])
        cluster = np.full(self.records, None, dtype=object)
        cluster[turn] = got["cluster_id"].to_numpy()
        return ok, pairwise_f1(cluster, self.truth)

    def drop(self, tag: str) -> None:
        for d in (f"out-{tag}", f"ckpt-{tag}"):
            shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)

    # -- traced run ---------------------------------------------------------

    def traced_op(self, spark, tr) -> str:
        """resolve()'s stages called one by one, each in its own span and
        committed to the catalog as resolve() commits it."""
        from pyspark.sql import functions as F
        from t_res_spark.operators import clustering, extraction, linking, ranking
        from t_res_spark.plans.pipeline import PipelineConfig, stage_metrics

        cfg = PipelineConfig()
        cfg_d = cfg.as_dict()
        catalog = self._catalog(spark, "traced")
        out = os.path.join(self.work, "out-traced")

        def keep(df, name):
            return catalog.materialize(df, name, cfg_d)

        with tr.span("resolve"):
            with tr.span("extraction") as s:
                mentions = keep(extraction.extract_mentions(self.transcripts), "mentions")
                s["counts"]["mentions"] = mentions.count()
            with tr.span("extraction.distinct_mentions") as s:
                surfaces = keep(extraction.distinct_mentions(mentions), "surfaces")
                s["counts"]["rows"] = surfaces.count()
            with tr.span("ranking.candidates") as s:
                candidates = keep(ranking.find_candidates(
                    surfaces, self.aliases, method=cfg.ranking_method,
                    threshold=cfg.fuzzy_threshold, top_k=cfg.top_k,
                    salt_factor=cfg.salt_factor), "candidates")
                s["counts"]["rows"] = candidates.count()
            with tr.span("linking") as s:
                predictions = keep(linking.most_popular(candidates), "predictions")
                linked = keep(linking.link_mentions(mentions, predictions), "linked")
                row = linked.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum((F.col("prediction") == NIL).cast("long")).alias("nil"),
                ).collect()[0]
                s["counts"]["nil_share"] = (row["nil"] or 0) / max(row["n"], 1)
            with tr.span("clustering") as s:
                clusters = keep(clustering.cluster_mentions(linked), "clusters")
                keep(stage_metrics(spark, clusters), "metrics")
                clusters.select("mention_id", "mention", "prediction", "cluster_id") \
                    .write.mode("overwrite").parquet(out)
                s["counts"]["clusters"] = read_dir(out)["cluster_id"].nunique()

        # counts the layer spans above cannot see, each in a span of its own
        # outside "resolve" so they do not inflate the traced time
        with tr.span("ranking.exact") as s:
            clean = ranking.clean_aliases(self.aliases)
            exact = ranking.perfect_match(surfaces, clean)
            s["counts"]["hits"] = exact.select("mention").distinct().count()
        with tr.span("blocking") as s:
            s["counts"].update(self._blocking_counts(surfaces, exact, clean))
            s["counts"]["kept"] = (
                candidates.join(exact.select("mention").distinct(), "mention", "left_anti")
                .select("mention", "variation").distinct().count()
            )
        with tr.span("sources.tables") as s:
            s["counts"]["bytes"] = self._rewrite_stages(spark, catalog, cfg_d)
        return out

    def _blocking_counts(self, surfaces, exact, clean) -> dict:
        from t_res_spark.operators.blocking import with_block_keys
        from t_res_spark.plans.pipeline import blocking_metrics

        bm = blocking_metrics(surfaces).collect()[0]
        missed = surfaces.join(exact.select("mention"), "mention", "left_anti")
        m = with_block_keys(missed.select("mention"), "mention")
        a = with_block_keys(clean.select("alias").distinct(), "alias")
        pairs = m.join(a, "block_key").select("mention", "alias").distinct().count()
        return {
            "pairs": pairs,
            "blocks": bm["n_blocks"] or 0,
            "block_p99": bm["p99"] or 0,
            "block_max": bm["max_block"] or 0,
        }

    def _rewrite_stages(self, spark, catalog, cfg_d) -> int:
        """Re-write every committed stage table through a fresh catalog:
        the cost of the checkpoint writes alone, without the compute."""
        from t_res_spark.sources.tables import CheckpointCatalog, config_hash

        h = config_hash(cfg_d)
        root = os.path.join(self.work, "ckpt-rewrite")
        fresh = CheckpointCatalog(spark, root)
        for name in ("mentions", "surfaces", "candidates", "predictions", "linked",
                     "clusters", "metrics"):
            fresh.write(catalog.read(name, h), name, h)
        size = dir_bytes(root)
        shutil.rmtree(root, ignore_errors=True)
        return size

    # -- serving (the er_fuzzy KB behind the HTTP endpoints) ----------------

    def serve(self, spark, tr, n_requests: int) -> dict:
        """One client, closed loop: warm-up pair, then n_requests pairs of
        /resolve_sentence and /run_disambiguation. Returns per-endpoint
        client latencies and service-method times, plus the check."""
        from t_res_spark.serving import TResService, start_server

        svc = _TimedService(TResService(spark, self.aliases), spark, tr.run_id)
        srv, thread = start_server(svc)
        port = srv.server_address[1]
        # turns whose surface is a corruption, so requests take the fuzzy path
        text = self.transcripts_pd["text"]
        unseen = np.flatnonzero(~text.str.split(" ").str[6].isin(self.aliases_pd["alias"]))
        rng = np.random.default_rng([self.seed, 9])
        picks = text.to_numpy()[rng.choice(unseen, size=n_requests + 1, replace=False)]
        stats = {"resolve_sentence": [], "run_disambiguation": [],
                 "attempted": 0, "failed": 0}
        try:
            for i, text in enumerate(picks):
                words = [w for w in text.split() if w[:1].isupper()]
                for path, body in (
                    ("/resolve_sentence", {"text": text}),
                    ("/run_disambiguation", {"toponyms": words}),
                ):
                    stats["attempted"] += 1
                    t0 = time.perf_counter()
                    try:
                        reply = _post(port, path, body)
                    except OSError:  # HTTP errors and refused connections
                        traceback.print_exc(file=sys.stderr)
                        stats["failed"] += 1
                        continue
                    client = time.perf_counter() - t0
                    method = svc.last
                    if not self._check_reply(path, body, reply):
                        stats["failed"] += 1
                    if i > 0:  # the first pair is the warm-up
                        stats[path.strip("/")].append((client, method["s"], method["jobs"]))
        finally:
            srv.shutdown()
            srv.server_close()
            thread.join(timeout=30)
        return stats

    def _check_reply(self, path: str, body: dict, reply) -> bool:
        """The reply's predictions equal the oracle's on the same text, with
        the service's top_k."""
        if path == "/resolve_sentence":
            turns = pd.DataFrame({"conv_id": ["t0"], "turn_idx": [0], "text": [body["text"]]})
            ref = self._oracle(turns, top_k=7)
            return sorted(ref["prediction"]) == sorted(d["prediction"] for d in reply)
        tops = body["toponyms"]
        turns = pd.DataFrame({
            "conv_id": [f"t{i}" for i in range(len(tops))],
            "turn_idx": [0] * len(tops),
            "text": [f"near {t} today" for t in tops],
        })
        ref = self._oracle(turns, top_k=7)
        want = dict(zip(ref["mention"], ref["prediction"]))
        return all(reply[t]["prediction"] == want.get(t, NIL) for t in tops)


class _TimedService:
    """Wraps TResService: times each endpoint method on the handler thread
    and counts the Spark jobs it launches (its own job group)."""

    def __init__(self, svc, spark, run_id: str):
        self.svc = svc
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.calls = 0
        self.last: dict = {}

    def _timed(self, name: str, *args):
        from probe import job_stats

        self.calls += 1
        group = f"perfbench-{self.run_id}-serve-{self.calls}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        out = getattr(self.svc, name)(*args)
        self.last = {"s": time.perf_counter() - t0,
                     "jobs": len(job_stats(self.sc, group)["jobs"])}
        return out

    def __getattr__(self, name):  # endpoints the benchmark does not time
        return getattr(self.svc, name)

    def resolve_sentence(self, text):
        return self._timed("resolve_sentence", text)

    def run_disambiguation(self, toponyms):
        return self._timed("run_disambiguation", toponyms)


def _post(port: int, path: str, body: dict):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        return json.load(r)


# --------------------------------------------------------------------------
# dedup_ann
# --------------------------------------------------------------------------


# The timed operation runs MinHash near-duplicate clustering and LSH
# top-k; SimHash, embedding dedup and IVF run in the traced pass only,
# which keeps one timed run inside the run budget.
TIMED = ("dedup.minhash", "similarity_search.lsh")
TRACED_ONLY = ("dedup.simhash", "dedup.embedding", "similarity_search.ivf")


class DedupWorkload:
    """The dedup and ANN operator families over a generated corpus."""

    name = "dedup_ann"

    def __init__(self, work: str, seed: int, sizes: dict):
        self.work = work
        self.seed = seed
        self.sizes = sizes

    def make_inputs(self, cores: int) -> dict:
        inp = gen.dedup(self.seed, dim=DIM, **self.sizes)
        self.inp = inp
        for name, df in (("docs", inp.docs), ("vectors", inp.vectors),
                         ("queries", inp.queries)):
            write_parts(df, os.path.join(self.work, name), 2 * cores)
        self.records = len(inp.docs) + len(inp.vectors) + len(inp.queries)
        vec = np.stack(inp.vectors["embedding"].to_numpy()).astype(np.float64)
        q = np.stack(inp.queries["q_vec"].to_numpy()).astype(np.float64)
        self.cos = (q @ vec.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(vec, axis=1))
        self.top10 = np.argsort(-self.cos, axis=1, kind="stable")[:, :10]
        self.brute_ok = True
        return {"docs": len(inp.docs), "vectors": len(inp.vectors),
                "queries": len(inp.queries),
                "digest": gen.digest(inp.docs, inp.vectors, inp.queries)}

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(os.path.join(self.work, "docs"))
        self.vectors = spark.read.parquet(os.path.join(self.work, "vectors"))
        self.queries = spark.read.parquet(os.path.join(self.work, "queries"))

    def _families(self, out: str, tr, families) -> None:
        from t_res_spark.operators import dedup
        from t_res_spark.operators import similarity_search as ss

        thunks = {
            "dedup.minhash": lambda: dedup.near_duplicate_clusters(self.docs),
            "dedup.simhash": lambda: dedup.simhash_near_pairs(dedup.simhash(self.docs)),
            "dedup.embedding": lambda: dedup.embedding_near_duplicates(
                self.vectors, dim=DIM),
            "similarity_search.lsh": lambda: ss.lsh_topk(self.vectors, self.queries, DIM),
            "similarity_search.ivf": lambda: ss.ivf_topk(
                self.vectors, self.queries, ss.ivf_train_centroids(self.vectors)),
        }
        for name in families:
            with tr.span(name) if tr is not None else contextlib.nullcontext():
                thunks[name]().write.mode("overwrite").parquet(os.path.join(out, name))

    def op(self, spark, tag: str) -> str:
        out = os.path.join(self.work, f"out-{tag}")
        self._families(out, None, TIMED)
        return out

    def reference(self, spark, tr) -> None:
        """Traced run only: brute_force_topk, the recall reference, checked
        against the exact numpy top-10 that the timed runs score with."""
        from t_res_spark.operators.similarity_search import brute_force_topk

        path = os.path.join(self.work, "brute")
        with tr.span("similarity_search.brute"):
            brute_force_topk(self.vectors, self.queries).write.mode("overwrite").parquet(path)
        got = read_dir(path).sort_values(["q_id", "rnk"])
        self.brute_ok = bool((got["vec_id"].to_numpy().reshape(-1, 10) == self.top10).all())

    def _topk_ok(self, df: pd.DataFrame) -> bool:
        """At most 10 rows per query, each carrying its true cosine (the
        engine multiplies float32 elements, hence the 1e-6 tolerance)."""
        if df.groupby("q_id").size().max() > 10:
            return False
        want = self.cos[df["q_id"].to_numpy(), df["vec_id"].to_numpy()]
        return bool(np.allclose(df["cos_sim"].to_numpy(), want, rtol=0, atol=1e-6))

    def recall(self, df: pd.DataFrame) -> float:
        """recall@10 against the exact top-10 (brute_force_topk's answer)."""
        truth = {(q, v) for q, row in enumerate(self.top10) for v in row}
        return len(truth & set(zip(df["q_id"], df["vec_id"]))) / len(truth)

    @staticmethod
    def _same_partition(label: np.ndarray, group: np.ndarray) -> bool:
        pairs = pd.DataFrame({"l": label, "g": group}).drop_duplicates()
        return len(pairs) == pairs["l"].nunique() == pairs["g"].nunique()

    def check(self, out: str) -> tuple[bool, float]:
        """(every output present is correct, recall@10 of lsh_topk)."""
        inp = self.inp

        def labels(name, ids):
            df = read_dir(os.path.join(out, name))
            lab = df.set_index(df["doc_id"].astype(np.int64))["dup_cluster"]
            return len(lab) == len(ids), lab.reindex(ids).to_numpy()

        n_ok, mh = labels("dedup.minhash", inp.docs["doc_id"])
        ok = n_ok and self._same_partition(mh, inp.doc_group)
        lsh = read_dir(os.path.join(out, "similarity_search.lsh"))
        ok = ok and self._topk_ok(lsh) and self.brute_ok
        # outputs of the families that only the traced pass runs
        if os.path.isdir(os.path.join(out, "dedup.embedding")):
            n_ok, emb = labels("dedup.embedding", inp.vectors["vec_id"])
            ok = ok and n_ok and self._same_partition(emb, inp.vec_group)
        if os.path.isdir(os.path.join(out, "dedup.simhash")):
            sp = read_dir(os.path.join(out, "dedup.simhash"))
            ok = ok and len(sp) > 0 and bool(
                (inp.doc_group[sp["a"]] == inp.doc_group[sp["b"]]).all()
                and (sp["hamming"] <= 3).all())
        if os.path.isdir(os.path.join(out, "similarity_search.ivf")):
            ok = ok and self._topk_ok(read_dir(os.path.join(out, "similarity_search.ivf")))
        return ok, self.recall(lsh)

    def drop(self, tag: str) -> None:
        shutil.rmtree(os.path.join(self.work, f"out-{tag}"), ignore_errors=True)

    def traced_op(self, spark, tr) -> str:
        out = os.path.join(self.work, "out-traced")
        with tr.span("resolve"):
            self._families(out, tr, TIMED)
        self._families(out, tr, TRACED_ONLY)
        with tr.span("dedup.counts") as s:
            s["counts"].update(self._lsh_counts())
        return out

    def _lsh_counts(self) -> dict:
        """MinHash candidate pairs, verified pairs, and the largest band
        bucket (16 bands × 4 rows, the near_duplicate_clusters defaults)."""
        from pyspark.sql import functions as F
        from t_res_spark.operators import dedup

        sigs = dedup.minhash_signatures(self.docs).cache()
        cands = dedup.minhash_lsh_pairs(sigs, 16, 4, estimate_threshold=0.8).cache()
        n_cand = cands.count()
        n_ver = dedup.jaccard_verify(self.docs, cands).count()
        bands = sigs.select(F.posexplode(F.array(*[
            F.xxhash64(F.lit(b), F.slice("sig", 4 * b + 1, 4)) for b in range(16)
        ])).alias("band", "bucket"))
        bmax = bands.groupBy("band", "bucket").count().agg(F.max("count")).collect()[0][0]
        cands.unpersist()
        sigs.unpersist()
        return {"candidate_pairs": n_cand, "verified": n_ver, "bucket_max": bmax or 0}


def make(name: str, work: str, seed: int, scale: float = 1.0):
    cls = {"er_fuzzy": ErWorkload, "dedup_ann": DedupWorkload}[name]
    sizes = {k: max(int(v * scale), 2) for k, v in SIZES[name].items()}
    return cls(work, seed, sizes)
