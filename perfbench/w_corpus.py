"""corpus_dedup: the LLM-data curation tier.

An op processes one shard of a seeded corpus: ``operators.curation``
(``gopher_quality`` then ``redact_pii`` on the kept docs),
``operators.dedup`` (``minhash_lsh_pairs`` then ``connected_components``)
and ``operators.vectors`` (``ivf_centroids`` then ``knn_ann_ivf`` over a
query sample of the shard's embeddings).  It bypasses REST and storage.

Checks: planted near-duplicate recall and ANN recall@k against an exact
numpy top-k meet their bounds; no emitted pair is below the Jaccard
threshold; components equal a union-find over the emitted pairs; on a
sample, ``keep`` flags and redacted text equal a Python implementation of
the same gates and rules.
"""

from __future__ import annotations

import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import data
from harness import component_sizes, median

SIZES = component_sizes("corpus_dedup")
JACCARD = 0.5
# MinHash LSH (16 permutations, 4 bands) finds a planted pair with
# probability ~0.9 here, and a shard holds 5-20 planted pairs: a 0.8 bound
# would fail ~0.4% of healthy shards, 0.6 fails ~1 in 40000 and still
# catches a broken dedup.
PAIR_RECALL_MIN = 0.6
ANN_RECALL_MIN = 0.8
SAMPLE = 40


def gopher_keep(text: str) -> bool | None:
    """Python twin of gopher_quality's gates (None: doc has < 2 tokens)."""
    toks = text.split(" ")
    n = len(toks)
    if n < 2:
        return None
    dup = 1.0 - len(set(toks)) / n
    counts: dict[str, int] = {}
    for a, b in zip(toks, toks[1:]):
        counts[a + " " + b] = counts.get(a + " " + b, 0) + 1
    top = max(counts.values()) / (n - 1)
    mwl = len(text.replace(" ", "")) / n
    return dup <= 0.6 and top <= 0.2 and 2.0 <= mwl <= 12.0


def redact(text: str, rules) -> str:
    for _, pat, repl in rules:
        text = re.sub(pat, repl, text)
    return text


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split(" ")
    if len(toks) < n:
        return {text}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def components(ids, pairs) -> dict[int, int]:
    """Union-find: node -> minimum id of its component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def exact_topk(mat: np.ndarray, queries: np.ndarray, k: int) -> dict[int, set[int]]:
    m = mat.astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    out = {}
    for q in queries:
        s = m @ m[q]
        s[q] = -np.inf
        order = np.lexsort((np.arange(len(s)), -s))  # score desc, id asc
        out[int(q)] = set(int(i) for i in order[:k])
    return out


class CorpusDedup:
    name = "corpus_dedup"

    def __init__(self, seed: int, size: str, work_dir: str, tracer, cpus: int) -> None:
        self.p = p = SIZES[size]
        self.tracer = tracer
        self.root = os.path.join(work_dir, "corpus")
        os.makedirs(self.root, exist_ok=True)
        self.shards = []
        for s in range(p["shards"]):
            docs, planted = data.corpus(seed * 1000 + s, p["docs"], p["min_len"], p["max_len"],
                                        p["dup_share"], p["spam_share"], p["pii_share"], p["vocab"])
            ids, mat = data.embeddings(seed * 1000 + s, p["vectors"], p["dim"], p["clusters"], p["noise"])
            doc_path = os.path.join(self.root, f"docs{s}.parquet")
            emb_path = os.path.join(self.root, f"emb{s}.parquet")
            pq.write_table(pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                                     "text": [d[1] for d in docs]}), doc_path)
            pq.write_table(pa.table({"vec_id": pa.array(ids),
                                     "embedding": pa.array(list(mat), pa.list_(pa.float32()))}), emb_path)
            self.shards.append({"docs": dict(docs), "planted": planted, "mat": mat,
                                "doc_path": doc_path, "emb_path": emb_path})
        self.reset_counters()

    def compute_oracle(self) -> None:
        from ub_etl_spark.operators.curation import PII_RULES

        self.rules = PII_RULES
        for sh in self.shards:
            sh["keep"] = {i: gopher_keep(t) for i, t in sh["docs"].items()}
            sh["exact"] = exact_topk(sh["mat"], np.arange(self.p["queries"]), self.p["k"])

    def prepare(self, spark) -> None:
        """No one-time prep: every op reads its shard from parquet."""

    def pass_items(self, pass_no: int) -> list[int]:
        return [pass_no % len(self.shards)]

    def run_op(self, spark, op_id: int, s: int) -> dict:
        from pyspark.sql import functions as F

        from ub_etl_spark.operators.curation import gopher_quality, redact_pii
        from ub_etl_spark.operators.dedup import connected_components, minhash_lsh_pairs
        from ub_etl_spark.operators.vectors import ivf_centroids, knn_ann_ivf

        tr, p, sh = self.tracer, self.p, self.shards[s]
        docs = spark.read.parquet(sh["doc_path"])
        with tr.span("operators.curation.gopher_quality"):
            quality = gopher_quality(docs, "doc_id", "text").cache()
            flags = quality.select("doc_id", "keep").collect()
        with tr.span("operators.curation.redact_pii"):
            clean = (
                docs.join(quality.filter("keep").select("doc_id"), "doc_id")
                .select("doc_id", redact_pii(F.col("text")).alias("text"))
                .cache()
            )
            texts = clean.collect()
        with tr.span("operators.dedup.minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs(clean, "doc_id", "text", threshold=JACCARD).cache()
            pair_rows = pairs.collect()
        with tr.span("operators.dedup.connected_components"):
            comps = connected_components(clean, pairs, id_col="doc_id").collect()
        emb = spark.read.parquet(sh["emb_path"])
        with tr.span("operators.vectors.ivf_centroids"):
            cents = ivf_centroids(emb, nlist=p["nlist"])
        with tr.span("operators.vectors.knn_ann_ivf"):
            ann = knn_ann_ivf(emb, k=p["k"], nlist=p["nlist"], nprobe=p["nprobe"], centroids=cents,
                              query_filter=F.col("vec_id") < p["queries"]).collect()
        return {"flags": flags, "texts": texts, "pairs": pair_rows, "comps": comps, "ann": ann}

    @staticmethod
    def release(spark) -> None:
        """Drop the op's cached frames and any the operators persisted."""
        from ub_etl_spark.session import release_persisted

        release_persisted()
        spark.catalog.clearCache()

    def fetch(self, s: int, out: dict) -> dict:
        res = {
            "flags": {r["doc_id"]: r["keep"] for r in out["flags"]},
            "texts": {r["doc_id"]: r["text"] for r in out["texts"]},
            "pairs": [(r["id_a"], r["id_b"]) for r in out["pairs"]],
            "comps": {r["doc_id"]: r["cluster_id"] for r in out["comps"]},
            "ann": {},
        }
        for r in out["ann"]:
            res["ann"].setdefault(r["query_id"], set()).add(r["neighbor_id"])
        sh = self.shards[s]
        kept = [i for i, k in res["flags"].items() if k]
        planted = [(a, b) for a, b in sh["planted"] if res["flags"].get(a) and res["flags"].get(b)]
        found = set(res["pairs"])
        res["pair_recall"] = sum((a, b) in found for a, b in planted) / max(len(planted), 1)
        exact = sh["exact"]
        res["recall_at_k"] = sum(len(res["ann"].get(q, set()) & nn) for q, nn in exact.items()) / (
            self.p["k"] * len(exact))
        self.kept_ratio.append(len(kept) / len(sh["docs"]))
        self.pairs.append(len(found))
        self.pair_recall.append(res["pair_recall"])
        self.clusters.append(len(set(res["comps"].values())))
        self.recall_at_k.append(res["recall_at_k"])
        return res

    @staticmethod
    def corrupt(res: dict) -> dict:
        res = dict(res)
        res["comps"] = dict(res["comps"])
        res["comps"].pop(next(iter(res["comps"])))  # one dropped row
        return res

    def check(self, s: int, res: dict) -> bool:
        sh = self.shards[s]
        docs = sh["docs"]
        # keep flags: every doc with >= 2 tokens gets a flag equal to the Python gates
        want_flags = {i: k for i, k in sh["keep"].items() if k is not None}
        if res["flags"] != want_flags:
            return False
        kept = {i for i, k in want_flags.items() if k}
        if set(res["texts"]) != kept:
            return False
        sample = sorted(kept)[:: max(1, len(kept) // SAMPLE)]
        if any(res["texts"][i] != redact(docs[i], self.rules) for i in sample):
            return False
        for a, b in res["pairs"]:
            sa, sb = shingles(res["texts"][a]), shingles(res["texts"][b])
            if len(sa & sb) / len(sa | sb) < JACCARD:
                return False
        if res["comps"] != components(kept, res["pairs"]):
            return False
        return res["pair_recall"] >= PAIR_RECALL_MIN and res["recall_at_k"] >= ANN_RECALL_MIN

    def final_check(self) -> bool:
        return True

    def stored_and_input_bytes(self) -> tuple[int, int]:
        return 0, 0  # writes nothing

    def reset_counters(self) -> None:
        self.kept_ratio, self.pairs, self.pair_recall = [], [], []
        self.clusters, self.recall_at_k = [], []

    def layer_metrics(self) -> dict[str, float]:
        def span_median(name):
            return median(self.tracer.durations(name))

        return {
            "operators.curation.gopher_s": span_median("operators.curation.gopher_quality"),
            "operators.curation.redact_s": span_median("operators.curation.redact_pii"),
            "operators.curation.kept_ratio": median(self.kept_ratio),
            "operators.dedup.minhash_lsh_s": span_median("operators.dedup.minhash_lsh_pairs"),
            "operators.dedup.pairs": median(self.pairs),
            "operators.dedup.pair_recall": median(self.pair_recall),
            "operators.dedup.cc_s": span_median("operators.dedup.connected_components"),
            "operators.dedup.clusters": median(self.clusters),
            "operators.vectors.ivf_train_s": span_median("operators.vectors.ivf_centroids"),
            "operators.vectors.ann_s": span_median("operators.vectors.knn_ann_ivf"),
            "operators.vectors.recall_at_k": median(self.recall_at_k),
        }

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
