"""Seeded input generation for the workloads.

Everything here is numpy/pyarrow only: no Spark, so generation
time never lands inside ``setup_s``. Inputs are written once per
(workload, seed) under the cache directory and reused by later runs
with the same seed (the traced run reuses the untraced run's inputs).

The program under test only ever sees the files written here; the
oracles (expected results) are written next to them and are read by
the benchmark's output checks, never by lakeshed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ----------------------------------------------------------------- sizes
# Chosen so that one run (session start + set-up + timed phase) fits the
# run budget on 4 cores while each op still does data-proportional work;
# NOTES.md gives the reasoning and the byte sizes.
CDC_ROWS = 200_000          # initial table rows, keys 0..CDC_ROWS-1
CDC_FILES = 16              # set-up compaction target file count
CDC_LINES = 2_000           # changelog lines per round file
CDC_WARM_ROUNDS = 2         # warm pass: a normal round, then a late one
CDC_ROTATION_ROUNDS = 6     # rounds per timed rotation; the 6th is late
CDC_MAX_ROTATIONS = 3       # round files are generated for this many
CDC_ROUNDS = CDC_WARM_ROUNDS + CDC_ROTATION_ROUNDS * CDC_MAX_ROTATIONS
CDC_BAD_SHARE = 0.10        # malformed lines per file

CORPUS_BASE_DOCS = 2_500    # documents per copy
CORPUS_BASE_VECS = 1_000    # embeddings per copy (before twins)
CORPUS_COPIES = 4
CORPUS_VOCAB = 20_000
CORPUS_DIM = 64
CORPUS_CENTERS = 4
COPY_OFFSET = 10_000_000    # id offset between copies


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_READY"))


def _finish(tmp: str, path: str, meta: dict) -> None:
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
    open(os.path.join(tmp, "_READY"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def ensure(workload: str, seed: int, cache_root: str) -> str:
    """Return the input directory for (workload, seed), generating it
    on first use. Generation is atomic: a half-written directory is never
    taken for a finished one."""
    path = os.path.join(cache_root, f"{workload}-{seed}")
    if _done(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = GENERATORS[workload](np.random.default_rng(seed), tmp)
    meta["seed"] = seed
    _finish(tmp, path, meta)
    return path


# ------------------------------------------------------------ cdc_upsert

def _hex_hashes(rng: np.random.Generator, n: int) -> list[str]:
    raw = rng.integers(0, 2**63, size=(n, 4), dtype=np.int64)
    return [f"{a:016x}{b:016x}{c:016x}{d:016x}" for a, b, c, d in raw]


def _recent_keys(rng, head: int, n: int) -> np.ndarray:
    """Keys geometrically favouring the most recent inserts."""
    back = rng.geometric(1.0 / 3000.0, size=n)
    return np.maximum(head - back, 0)


def cdc_late(r: int) -> bool:
    """Whether round file ``r`` is a late correction: the second warm
    round, then the last round of every timed rotation (every 6th)."""
    if r < CDC_WARM_ROUNDS:
        return r == CDC_WARM_ROUNDS - 1
    return ((r - CDC_WARM_ROUNDS) % CDC_ROTATION_ROUNDS
            == CDC_ROTATION_ROUNDS - 1)


def gen_cdc(rng: np.random.Generator, out: str) -> dict:
    keys = np.arange(CDC_ROWS, dtype=np.int32)
    _write(pa.table({
        "block_number": pa.array(keys, pa.int32()),
        "hash": pa.array(_hex_hashes(rng, CDC_ROWS), pa.string()),
    }), os.path.join(out, "initial.parquet"))
    os.makedirs(os.path.join(out, "changelog"))
    head = CDC_ROWS
    input_bytes = 0
    for r in range(CDC_ROUNDS):
        late = cdc_late(r)
        n = CDC_LINES
        kind = rng.random(n)
        if late:
            # late correction: updates and deletes spread uniformly over
            # the whole key space, so no key range can be pruned
            ins = np.zeros(n, dtype=bool)
            dele = kind < 0.3
            ks = rng.integers(0, head, size=n)
        else:
            ins = kind < 0.7
            dele = kind >= 0.9
            ks = _recent_keys(rng, head, n)
            n_ins = int(ins.sum())
            ks[ins] = head + np.arange(n_ins)
            head += n_ins
        hashes = _hex_hashes(rng, n)
        bad = rng.random(n) < CDC_BAD_SHARE
        bad_kind = rng.integers(0, 3, size=n)
        lines = []
        for i in range(n):
            op = "D" if dele[i] else "I"
            k = int(ks[i])
            if bad[i]:
                # wrong arity (too few / too many fields) or a key that
                # does not parse: all must be dropped by the parse step
                lines.append((f"{op},{k}", f"{op},{k},{hashes[i]},x",
                              f"{op},k{k},{hashes[i]}")[bad_kind[i]])
            else:
                lines.append(f"{op},{k},{hashes[i]}")
        body = "\n".join(lines) + "\n"
        input_bytes += len(body)
        with open(os.path.join(out, "changelog", f"{r:05d}.txt"), "w") as fh:
            fh.write(body)
    return {"rows": CDC_ROWS, "files": CDC_FILES, "lines": CDC_LINES,
            "rounds": CDC_ROUNDS, "warm_rounds": CDC_WARM_ROUNDS,
            "rotation_rounds": CDC_ROTATION_ROUNDS,
            "changelog_bytes": input_bytes}


class CdcOracle:
    """In-order replay of the changelog: arity filter, last arrival per
    key in a batch wins, D on an absent key inserts nothing."""

    def __init__(self, inputs: str):
        t = pq.read_table(os.path.join(inputs, "initial.parquet"))
        self.state = dict(zip(t.column("block_number").to_pylist(),
                              t.column("hash").to_pylist()))
        self.inputs = inputs
        self.rows_in = 0
        self.rows_parsed = 0

    @staticmethod
    def parse(line: str):
        parts = line.split(",")
        if len(parts) != 3 or parts[0] not in ("I", "D"):
            return None
        try:
            k = int(parts[1])
        except ValueError:
            return None
        if not -2**31 <= k < 2**31:
            return None
        return parts[0], k, parts[2]

    def apply(self, round_no: int) -> None:
        path = os.path.join(self.inputs, "changelog", f"{round_no:05d}.txt")
        last: dict[int, tuple[str, str]] = {}
        with open(path) as fh:
            for line in fh:
                self.rows_in += 1
                p = self.parse(line.rstrip("\n"))
                if p is None:
                    continue
                self.rows_parsed += 1
                last[p[1]] = (p[0], p[2])
        for k, (op, h) in last.items():
            if op == "D":
                self.state.pop(k, None)
            else:
                self.state[k] = h

    def count_range(self, lo: int, hi: int) -> int:
        return sum(1 for k in self.state if lo <= k < hi)


def digest(items) -> str:
    h = hashlib.sha256()
    for it in items:
        h.update(str(it).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# ---------------------------------------------------------- corpus_dedup

def _shingles(tokens: np.ndarray, n: int = 3) -> set:
    return {tuple(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def gen_corpus(rng: np.random.Generator, out: str) -> dict:
    """One base copy with planted near-duplicate families, then
    CORPUS_COPIES copies via a per-copy token bijection (documents) and a
    per-copy dimension permutation (embeddings), as
    ``scripts/scaling_probe.py`` builds its ladder: within-copy structure
    is preserved exactly and cross-copy pairs vanish, so the true pair
    count of every copy equals the base copy's."""
    docs: list[np.ndarray] = []
    family: list[int] = []
    while len(docs) < CORPUS_BASE_DOCS:
        src = rng.integers(0, CORPUS_VOCAB, size=int(rng.integers(60, 121)))
        fam = len(docs)
        docs.append(src)
        family.append(fam)
        if len(docs) % 10 == 1:
            # a family of 2-3 members; each variant is an exact copy or
            # one substituted token, so every within-family pair has
            # 3-shingle Jaccard >= 0.8 and is found by LSH with
            # probability 1 - 3e-8
            for _ in range(int(rng.integers(1, 3))):
                v = src.copy()
                if rng.random() < 0.7:
                    v[int(rng.integers(0, len(v)))] = int(
                        rng.integers(0, CORPUS_VOCAB))
                docs.append(v)
                family.append(fam)
    docs = docs[:CORPUS_BASE_DOCS]
    family = family[:CORPUS_BASE_DOCS]
    by_fam: dict[int, list[int]] = {}
    for i, f in enumerate(family):
        by_fam.setdefault(f, []).append(i)
    mh_pairs = 0
    dup_pairs = 0
    for members in by_fam.values():
        sh = [_shingles(docs[i]) for i in members]
        for a in range(len(members)):
            for b in range(a + 1, len(members)):
                j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
                mh_pairs += j >= 0.7
                dup_pairs += bool(np.array_equal(docs[members[a]],
                                                 docs[members[b]]))
    np.save(os.path.join(out, "family.npy"), np.array(family))
    ids, texts = [], []
    for c in range(CORPUS_COPIES):
        for i, d in enumerate(docs):
            ids.append(c * COPY_OFFSET + i)
            texts.append(" ".join(f"w{int(t) + c * CORPUS_VOCAB}" for t in d))
    _write(pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(texts)}),
           os.path.join(out, "documents.parquet"))

    # clustered like real embeddings: a few equal-sized topics per copy,
    # which k-means (k=None -> ~one cluster per topic of every copy)
    # separates, so SemDeDup's per-cluster pair count is ~n^2/k on every
    # seed. Same-topic pairs have cosine ~0.33 +- 0.1, far below the 0.9
    # LSH threshold.
    centers = rng.standard_normal((CORPUS_CENTERS, CORPUS_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    topic = np.arange(CORPUS_BASE_VECS) % CORPUS_CENTERS
    base = (0.7 * centers[topic]
            + rng.standard_normal((CORPUS_BASE_VECS, CORPUS_DIM))
            / np.sqrt(CORPUS_DIM))
    twin_of = np.arange(0, CORPUS_BASE_VECS, 20)
    noise = rng.standard_normal((len(twin_of), CORPUS_DIM))
    src = base[twin_of] / np.linalg.norm(base[twin_of], axis=1, keepdims=True)
    noise -= (noise * src).sum(1, keepdims=True) * src
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    twins = src + 0.1 * noise  # cosine 0.995 to its source
    vecs = np.vstack([base, twins]).astype(np.float32)
    vids = np.concatenate([np.arange(CORPUS_BASE_VECS),
                           5_000_000 + twin_of])
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit @ unit.T
    iu = np.triu_indices(len(vecs), 1)
    ann_pairs = int((cos[iu] >= 0.9).sum())
    all_ids, all_vecs = [], []
    for c in range(CORPUS_COPIES):
        perm = np.arange(CORPUS_DIM) if c == 0 else rng.permutation(
            CORPUS_DIM)
        all_ids.append(vids + c * COPY_OFFSET)
        all_vecs.append(vecs[:, perm])
    flat = np.vstack(all_vecs)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(flat.ravel(), pa.float32()), CORPUS_DIM).cast(
        pa.list_(pa.float32()))
    _write(pa.table({"vec_id": pa.array(np.concatenate(all_ids), pa.int64()),
                     "embedding": emb}),
           os.path.join(out, "embeddings.parquet"))
    return {"copies": CORPUS_COPIES, "docs": len(ids), "vecs": len(flat),
            "dim": CORPUS_DIM, "copy_offset": COPY_OFFSET,
            "minhash_pairs_per_copy": int(mh_pairs),
            "families_per_copy": len(by_fam),
            "exact_dup_pairs_per_copy": int(dup_pairs),
            "ann_pairs_per_copy": ann_pairs,
            "twins_per_copy": int(len(twin_of)),
            "bytes": {n: os.path.getsize(os.path.join(out, f"{n}.parquet"))
                      for n in ("documents", "embeddings")}}


GENERATORS = {"cdc_upsert": gen_cdc, "corpus_dedup": gen_corpus}
