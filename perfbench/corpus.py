"""corpus_dedup: LLM-corpus deduplication kernels at 4 corpus copies.

Each rotation runs the dedup kernels in gate shape, one at a time:
MinHash-LSH pairs, SimHash pairs, connected-component clusters over the
MinHash pairs, embedding LSH pairs and SemDeDup. Every op ends in a
``collect()`` of its (small) result, so the output check reads exactly
what the op produced; ``release_persisted()`` runs between ops, outside
op timing.
"""

from __future__ import annotations

import json
import os

import numpy as np

from perfbench import gen

PARTITIONS = 8  # two input partitions per core on the 4-core reference


class CorpusDedup:
    name = "corpus_dedup"
    rotation_s = 20.0  # nominal rotation wall time on 4 cores

    def __init__(self, spark, inputs: str, work: str, rec, tracer=None):
        self.spark = spark
        self.inputs = inputs
        self.rec = rec
        with open(os.path.join(inputs, "meta.json")) as fh:
            self.meta = json.load(fh)
        self.family = np.load(os.path.join(inputs, "family.npy"))
        self.digests: dict[str, str] = {}
        self.counts: dict[str, int] = {}

    def setup(self) -> None:
        off = self.meta["copy_offset"]
        docs = self.spark.read.parquet(
            os.path.join(self.inputs, "documents.parquet"))
        embs = self.spark.read.parquet(
            os.path.join(self.inputs, "embeddings.parquet"))
        # spread the single-file inputs over the cores and keep them
        # cached for the whole run; the warm pass runs every kernel on a
        # slice of each copy (a tenth), which compiles the same plans and
        # starts the Python workers. A full-size warm pass was measured
        # too: set-up grew by ~10 s and the timed rotation was no faster.
        self.docs = self._cache(docs)
        self.embs = self._cache(embs)
        self.warm_docs = self._cache(docs.where(f"doc_id % {off} < 250"))
        self.warm_embs = self._cache(embs.where(f"vec_id % {off} < 100"))

    @staticmethod
    def _cache(df):
        df = df.repartition(PARTITIONS).persist()
        df.count()
        return df

    # ----------------------------------------------------------- checks

    def _split(self, i: int) -> tuple[int, int]:
        return divmod(int(i), self.meta["copy_offset"])

    def _same_family(self, a: int, b: int) -> bool:
        ca, ia = self._split(a)
        cb, ib = self._split(b)
        return ca == cb and self.family[ia] == self.family[ib]

    def _stable(self, kind: str, items) -> bool:
        d = gen.digest(sorted(items))
        return self.digests.setdefault(kind, d) == d

    def _check_minhash(self, pairs) -> bool:
        self.counts["llm.dedup.pairs"] = len(pairs)
        want = self.meta["minhash_pairs_per_copy"] * self.meta["copies"]
        return (len(pairs) == want
                and all(self._same_family(a, b) for a, b in pairs)
                and self._stable("minhash", pairs))

    def _check_simhash(self, pairs) -> bool:
        # every SimHash pair is a planted near-duplicate, and every
        # byte-identical pair (Hamming distance 0) is found
        dups = self.meta["exact_dup_pairs_per_copy"] * self.meta["copies"]
        return (len(pairs) >= dups
                and all(self._same_family(a, b) for a, b in pairs)
                and self._stable("simhash", pairs))

    def _check_clusters(self, rows) -> bool:
        want = self.meta["families_per_copy"] * self.meta["copies"]
        return (len(rows) == self.meta["docs"]
                and len({c for _, c in rows}) == want
                and self._stable("clusters", rows))

    def _is_twin_pair(self, a: int, b: int) -> bool:
        ca, ia = self._split(a)
        cb, ib = self._split(b)
        lo, hi = sorted((ia, ib))
        return ca == cb and hi == 5_000_000 + lo and lo % 20 == 0

    def _check_ann(self, pairs) -> bool:
        self.counts["llm.similarity.pairs"] = len(pairs)
        want = self.meta["ann_pairs_per_copy"] * self.meta["copies"]
        return (len(pairs) == want
                and all(self._is_twin_pair(a, b) for a, b in pairs)
                and self._stable("ann", pairs))

    def _check_semdedup(self, rows) -> bool:
        dropped = sorted(i for i, keep in rows if not keep)
        twins = {c * self.meta["copy_offset"] + 5_000_000 + j
                 for c in range(self.meta["copies"])
                 for j in range(0, gen.CORPUS_BASE_VECS, 20)}
        return (len(rows) == self.meta["vecs"]
                and set(dropped) <= twins
                and self._stable("semdedup", dropped))

    # -------------------------------------------------------------- ops

    def rotation(self, warm: bool = False) -> None:
        from lakeshed.llm import dedup, release_persisted, similarity

        docs, embs = ((self.warm_docs, self.warm_embs) if warm
                      else (self.docs, self.embs))

        def check(fn):
            return None if warm else fn

        def pairs_of(df):
            return [(r[0], r[1]) for r in df.select("id_a", "id_b").collect()]

        mh = self.rec.run(
            "minhash",
            lambda: pairs_of(dedup.minhash_lsh_pairs(
                docs, shingle=3, threshold=0.7, num_hashes=128,
                bands=32)),
            check(self._check_minhash))
        release_persisted()
        self.rec.run(
            "simhash", lambda: pairs_of(dedup.simhash_pairs(docs)),
            check(self._check_simhash))
        release_persisted()
        pairs_df = self.spark.createDataFrame(
            mh or [], "id_a bigint, id_b bigint")
        ids = docs.selectExpr("doc_id AS id")
        self.rec.run(
            "clusters",
            lambda: [(r[0], r[1]) for r in
                     dedup.dedup_clusters(pairs_df, ids)
                     .select("id", "cluster").collect()],
            check(self._check_clusters))
        release_persisted()
        self.rec.run(
            "ann_lsh",
            lambda: pairs_of(similarity.ann_pairs_lsh(
                embs, gen.CORPUS_DIM, threshold=0.9, bits=16,
                tables=48)),
            check(self._check_ann))
        release_persisted()
        self.rec.run(
            "semdedup",
            lambda: [(r[0], r[1]) for r in
                     similarity.semantic_dedup(embs, k=None)
                     .select("vec_id", "keep").collect()],
            check(self._check_semdedup))
        release_persisted()

    def warm(self) -> None:
        self.rotation(warm=True)

    def finish(self) -> bool:
        return True

    def layer_metrics(self, tracer, ops, p50) -> dict:
        return dict(self.counts)
