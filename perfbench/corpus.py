"""corpus_dedup: ``pipeline.prepare_corpus(near_dedup=True)`` over a
seeded synthetic corpus.

One pass is two ops: ``prepare`` (write) is the ``prepare_corpus`` call,
whose eager jobs are the star connected-components rounds; ``splits``
(read) collects the surviving ids with their split and the cluster
table. The corpus plants, at stated rates, exact-duplicate groups,
near-duplicate groups (one or two word substitutions in a 120-word
document, shingle Jaccard >= 0.9), docs too short for the token gate
and compressible repeated-phrase junk. MinHash runs with 16 hashes in 8
bands of 2, so a planted pair at Jaccard 0.9 is missed with probability
0.19**8, about 2e-6.

Check: the surviving ids equal the expected survivors exactly (every
unique doc, the minimum id of each exact and near group; no short doc,
no junk), and every planted near group shares one cluster id.
"""

from __future__ import annotations

import numpy as np

SCALES = {
    # docs, and planted rates as shares of the corpus
    "full": {"docs": 1600},
    "tiny": {"docs": 120},
    "warm": {"docs": 150},
}
RATES = {"exact": 0.10, "near": 0.15, "short": 0.05, "junk": 0.05}
MINHASH = {"minhash_k": 16, "bands": 8}


class Corpus:
    def __init__(self, seed: int, n_docs: int):
        rng = np.random.default_rng(seed)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = sorted({"".join(rng.choice(letters, int(rng.integers(3, 10))))
                        for _ in range(6000)})
        vocab = np.array(vocab)

        def words(n):
            return [str(w) for w in rng.choice(vocab, n)]

        texts: list[str] = []
        self.exact_groups: list[list[int]] = []
        self.near_groups: list[list[int]] = []
        self.removed: set[int] = set()
        budget = {k: int(round(r * n_docs)) for k, r in RATES.items()}
        while budget["exact"] > 0:
            base = " ".join(words(int(rng.integers(40, 120))))
            copies = int(rng.integers(2, 4))
            self.exact_groups.append(list(range(len(texts), len(texts) + copies)))
            texts += [base] * copies
            budget["exact"] -= copies
        while budget["near"] > 0:
            base = words(120)
            members = int(rng.integers(2, 4))
            group = [len(texts)]
            texts.append(" ".join(base))
            # disjoint substitution positions: no two variants are equal
            spots = rng.permutation(len(base))
            for j in range(members - 1):
                v = list(base)
                for pos in spots[2 * j: 2 * j + int(rng.integers(1, 3))]:
                    v[pos] = "zz" + v[pos]  # never a vocabulary word
                group.append(len(texts))
                texts.append(" ".join(v))
            self.near_groups.append(group)
            budget["near"] -= members
        for _ in range(budget["short"]):
            self.removed.add(len(texts))
            texts.append(" ".join(words(int(rng.integers(1, 3)))))
        for _ in range(budget["junk"]):
            self.removed.add(len(texts))
            texts.append(" ".join(words(12) * 25))
        while len(texts) < n_docs:
            texts.append(" ".join(words(int(rng.integers(40, 120)))))
        # ids are a seeded permutation, so planted docs are not id-ordered
        ids = rng.permutation(len(texts)) + 1
        self.docs = [(int(ids[i]), t) for i, t in enumerate(texts)]
        self.exact_groups = [[int(ids[i]) for i in g] for g in self.exact_groups]
        self.near_groups = [[int(ids[i]) for i in g] for g in self.near_groups]
        self.removed = {int(ids[i]) for i in self.removed}
        losers = {i for g in self.exact_groups + self.near_groups for i in g if i != min(g)}
        self.survivors = {d for d, _ in self.docs} - self.removed - losers
        self.near_pair_set = {(a, b) for g in self.near_groups for a in g for b in g if a < b}

    def check(self, out) -> bool:
        split_rows, cluster_rows = out
        got = {r["doc_id"] for r in split_rows}
        if got != self.survivors or len(split_rows) != len(got):
            return False
        if not {r["split"] for r in split_rows} <= {"train", "val", "test"}:
            return False
        cluster = {r["doc_id"]: r["cluster_id"] for r in cluster_rows}
        return all(len({cluster.get(i) for i in g}) == 1 and min(g) in cluster
                   and cluster[min(g)] == min(g) for g in self.near_groups)


class CorpusDedup:
    name = "corpus_dedup"

    def __init__(self, scratch, seed: int, scale: str):
        self.corpus = Corpus(seed, SCALES[scale]["docs"])
        self.warm = Corpus(seed + 1, SCALES["warm"]["docs"])
        self.pairs: list = []
        self.stats: list[dict] = []

    def _frame(self, spark, corpus: Corpus):
        import pandas as pd

        pdf = pd.DataFrame(corpus.docs, columns=["doc_id", "text"])
        # a fresh frame per pass: no cached plan or data crosses passes
        return spark.createDataFrame(pdf, "doc_id long, text string")

    def warm_up(self, spark) -> None:
        """First pandas UDF (the compression rail), on a small corpus."""
        from gedixr_spark.operators import text

        docs = self._frame(spark, self.warm).coalesce(1)  # one Python worker
        text.compression_ratio(docs).agg({"compression_ratio": "sum"}).collect()

    def start(self, spark, traced: bool) -> None:
        pass

    def run_pass(self, spark, rec) -> None:
        rec.run_pass(lambda: self._pass(spark, rec), len(self.corpus.docs))
        if self.pairs:
            pairs = [(r["id_a"], r["id_b"]) for r in self.pairs.pop().collect()]
            verified = sum(1 for p in pairs if p in self.corpus.near_pair_set)
            self.stats.append({"candidates": len(pairs), "verified": verified})

    def _pass(self, spark, rec) -> None:
        from gedixr_spark import pipeline

        corpus = self.corpus
        docs = self._frame(spark, corpus)
        prep = rec.op("prepare", "write",
                      lambda: pipeline.prepare_corpus(docs, near_dedup=True, **MINHASH))
        rec.op("splits", "read",
               lambda: prep["splits"].select("doc_id", "split"),
               lambda df: (df.collect(), prep["clusters"].select("doc_id", "cluster_id").collect()),
               corpus.check)

    def trace_hooks(self, tracer) -> None:
        from gedixr_spark import pipeline
        from gedixr_spark.operators import dedup, text

        tracer.wrap(text, "filter_documents", "text.filter_documents")
        tracer.wrap(text, "compression_ratio", "text.compression_ratio")
        tracer.wrap(dedup, "exact_dedup", "dedup.exact_dedup")
        tracer.wrap(dedup, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs",
                    on_result=self.pairs.append)
        tracer.wrap(dedup, "dedup_clusters_star", "dedup.dedup_clusters_star")
        tracer.wrap(dedup, "apply_dedup", "dedup.apply_dedup")
        tracer.wrap(pipeline, "leakage_safe_split", "sampling.leakage_safe_split")

    def layer_counters(self, ops) -> dict[str, float]:
        from perfbench.harness import median

        cand = median([s["candidates"] for s in self.stats])
        ver = median([s["verified"] for s in self.stats])
        return {
            "dedup.candidate_pairs": cand,
            "dedup.verified_pairs": ver,
            "dedup.pair_yield": ver / cand if cand else 0.0,
        }
