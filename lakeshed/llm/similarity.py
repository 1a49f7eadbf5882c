"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk` — brute-force exact top-k against a query vector:
  one narrow projection (JVM ``zip_with``/``aggregate`` dot product in
  double precision) + TakeOrderedAndProject. The correctness baseline.
- :func:`cosine_pairs_brute` — exact all-pairs above a threshold
  (oracle-scale only).
- :func:`ann_topk_lsh` — the scale path: random-hyperplane LSH with L
  multi-probe tables; the query only scans buckets whose signature matches
  one of the query's table signatures, so work is O(candidates), not O(n).
  Recall is tunable via (bits, tables); exact re-scoring inside candidates.

At 100 TB the brute-force path is a full scan per query — fine for batch
re-scoring, wrong for interactive lookup; the LSH table is the index you
precompute once (a DataFrame you persist/bucketize by signature) and probe
per query.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakeshed.llm._persist import scoped_persist
from lakeshed.llm._spread import spread


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ in double precision (JVM higher-order fns — no Python)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dot_d(a: Column, b: Column) -> Column:
    """Dot of two already-double arrays — use when the vector column is
    cast/materialized once and reused across many plane products (HOFs are
    interpreted; a per-element cast per plane doubles the work)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def _norm_d(a: Column) -> Column:
    """Norm of an already-double array (same fold, no per-element cast)."""
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def _is_int(x) -> bool:
    """Integer check that admits numpy integer scalars (a k derived via
    ``np.ceil``/collected counts is a legitimate caller value — r12
    review: ``isinstance(np.int64(50), int)`` is False and the wave-17
    guards rejected it) while still rejecting bools."""
    return isinstance(x, (int, np.integer)) and not isinstance(x, bool)


def _guarded_cos(dot: Column, norm_product: Column) -> Column:
    """Cosine with ONLY the true 0/0 case pinned to 0 — a zero-norm side
    has similarity 0 to everything instead of NULL (0/0 under ANSI-off),
    which would silently drop rows from joins/filters built on this.
    Every nonzero norm product divides EXACTLY: a floor clamp (e.g.
    greatest(·, 1e-30)) would deflate mathematically-well-defined
    similarities of tiny-magnitude vectors to ~0 and break the
    exact-dup guarantee inside the clamp band."""
    return F.when(norm_product == 0.0, F.lit(0.0)).otherwise(
        dot / norm_product
    )


def cosine(a: Column, b: Column) -> Column:
    """Generic guarded cosine. NOTE: the zero-product predicate and the
    divisor both instantiate the O(d) norm folds, and HOFs are
    interpreted (no codegen CSE) — in per-row hot paths pre-project the
    norms as columns (see cosine_pairs_brute) or use
    :func:`_query_cos_frame` for a driver-side query vector."""
    return _guarded_cos(_dot(a, b), _norm(a) * _norm(b))


def _query_cos_frame(df: DataFrame, query_vec: list[float],
                     id_col: str) -> DataFrame:
    """(id, v) -> (id_col, cos) vs a DRIVER-SIDE query vector, with ONE
    dot fold and ONE norm fold per row: the query norm is a Python
    float, and the folds land in their own projection — CollapseProject
    refuses to duplicate non-cheap expressions, so each fold stays
    evaluated once even though the guard references the row norm
    twice."""
    if id_col == "cos":
        # the output contract is (id_col, cos): an id column NAMED "cos"
        # would make the orderBy ambiguous and Spark silently resolves
        # it to the id — wrong top-k with no error. Fail loudly instead.
        raise ValueError(
            "id_col='cos' collides with the score column; rename the id"
        )
    qn = float(sum(float(x) * float(x) for x in query_vec)) ** 0.5
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    # dunder internals: a user id_col named "dot"/"nv" must not collide
    scored = df.select(
        F.col("id").alias(id_col),
        _dot(F.col("v"), q).alias("__qcf_dot"),
        _norm(F.col("v")).alias("__qcf_nv"),
    )
    return scored.select(
        id_col,
        F.round(
            _guarded_cos(
                F.col("__qcf_dot"), F.col("__qcf_nv") * F.lit(qn)
            ),
            4,
        ).alias("cos"),
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: score every row, TakeOrderedAndProject keeps a
    per-partition heap of k — no global sort. Ties break on id. NULL
    embeddings score NULL and can never rank — excluded (wave 23: they
    used to pad the result when k exceeded the non-null count)."""
    return (
        _query_cos_frame(
            df.where(F.col(vec_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    F.col(vec_col).alias("v")),
            query_vec, id_col,
        )
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_pairs_brute(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine ≥ threshold (embedding near-dup, exact). O(n²) —
    oracle scale only; :func:`ann_pairs_lsh` is the scale path. Norms are
    folded once per vector, not once per pair side."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).select("id", "v", _norm_d(F.col("v")).alias("nrm"))
    return (
        base.alias("l")
        .join(base.alias("r"), F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            # byte-identical zero-norm twins report cos 1.0 (the
            # duplicate verdict) instead of the guard's 0/0→0 pin —
            # without this the exact-dup guarantee broke for vectors
            # whose squared-sum norm underflows to 0.0 (all-zero or
            # subnormal-magnitude embeddings; r12 review — the same
            # disjunct semantic_dedup has carried since wave 11)
            F.when(
                (F.col("l.nrm") * F.col("r.nrm") == 0.0)
                & (F.col("l.v") == F.col("r.v")),
                F.lit(1.0),
            ).otherwise(F.round(
                _guarded_cos(
                    _dot_d(F.col("l.v"), F.col("r.v")),
                    F.col("l.nrm") * F.col("r.nrm"),
                ), 4
            )).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def _hyperplanes(dim: int, bits: int, tables: int, seed: int = 42
                 ) -> list[list[list[float]]]:
    rnd = random.Random(seed)
    return [
        [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]
        for _ in range(tables)
    ]


def _bucket_arrow(flat_planes: list[list[float]], bits: int, tables: int):
    """Arrow-batched signature kernel: matmul the plane matrix AND pack the
    per-table sign bits in numpy — one ``(batch × dim) @ (dim × planes)``
    float64 matmul, then a ``>= 0`` sign test per plane — returning one
    ``array<bigint>`` of length ``tables`` per row. The Spark plan shrinks
    from ``tables × bits`` unrolled when-trees (thousands of py4j calls to
    BUILD, a wide tree for every Catalyst pass to WALK) to a single UDF +
    posexplode. (A separate dots-only Arrow kernel existed but had no
    caller — removed in r12; this docstring is its spec now.)"""
    pt = np.asarray(flat_planes, dtype=np.float64).T  # (dim, tables*bits)
    weights = (1 << np.arange(bits, dtype=np.int64))  # bit i → 2^i

    @F.pandas_udf("array<bigint>")
    def kernel(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        try:
            mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        except (TypeError, ValueError) as e:
            # wave 23: an opaque numpy error from one NULL/ragged vector
            # used to kill the whole job with no hint of the cause
            raise ValueError(
                "embedding column contains NULL or ragged vectors — "
                "filter/normalize them before LSH indexing"
            ) from e
        if mat.ndim != 2 or mat.shape[1] != pt.shape[0]:
            raise ValueError(
                f"embedding dim {mat.shape[-1] if mat.ndim == 2 else '?'} "
                f"does not match index dim {pt.shape[0]} — wrong `dim` "
                "argument or mixed-dimension corpus"
            )
        signs = (mat @ pt >= 0).astype(np.int64)
        buckets = signs.reshape(len(mat), tables, bits) @ weights
        return pd.Series(list(buckets))

    return kernel


def lsh_index(
    df: DataFrame,
    dim: int,
    bits: int = 8,
    tables: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Precompute the multi-table signature index: one row per (table,
    bucket, id). Persist/bucketBy this by (table, bucket) in production —
    probes then touch single buckets."""
    flat = [p for tbl in _hyperplanes(dim, bits, tables, seed) for p in tbl]
    kernel = _bucket_arrow(flat, bits, tables)
    # a NULL embedding has no geometry: it can never bucket, never pair
    # — drop it here instead of crashing the signature kernel (wave 23)
    return (
        spread(df.where(F.col(vec_col).isNotNull()))
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            kernel(F.col(vec_col)).alias("buckets"),
        )
        .select(
            "id", "v",
            F.posexplode("buckets").alias("tbl", "bucket"),
        )
    )


def ann_pairs_lsh(
    df: DataFrame,
    dim: int,
    threshold: float = 0.45,
    bits: int = 4,
    tables: int = 48,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs via hyperplane-LSH bucketing — the scale
    path behind :func:`cosine_pairs_brute`: candidates meet ONLY inside a
    shared (table, bucket); exact cosine verifies every candidate, so
    precision is 1 and recall is the banding curve
    1-(1-(1-θ/π)^bits)^tables. All-pairs is never formed — the self-join
    runs per bucket, then distinct pairs re-score once.

    Parameter economics: banding beats brute force only when the target
    similarity is TIGHT. At cos≥0.9 the per-plane collision rate is 0.86
    for matches vs 0.5 for background — bits=16, tables≈50 gives recall
    ≈0.99 while background pairs collide at (0.5)^16 ≈ 1.5e-5 per table.
    At cos≈0.45 the contrast is 0.65-vs-0.5 and NO (bits, tables) choice
    is much cheaper than all-pairs; use :func:`cosine_pairs_brute` (or
    raise the threshold) there. Defaults suit small/loose corpora."""
    # prune the vector column before the self-join and persist: both legs
    # then reuse one run of the signature kernel instead of re-bucketing
    # the corpus per leg. The table index is folded INTO the bucket key
    # via xxhash64 (r15, guide §2.3): the cached frame and the self-join
    # exchange ONE 8-byte key per row instead of int tbl + long bucket;
    # a 64-bit collision only adds a candidate the exact-cosine verify
    # re-scores (same documented class as the minhash band keys).
    idx = scoped_persist(
        "ann_pairs_lsh",
        lsh_index(df, dim, bits, tables, id_col, vec_col, seed)
        .select("id", F.xxhash64("tbl", "bucket").alias("tb")),
    )
    cand = (
        idx.alias("l")
        .join(
            idx.alias("r"),
            (F.col("l.tb") == F.col("r.tb"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    # norm ONCE per vector (|V| folds), not once per candidate side
    # (2×|pairs| folds) — the re-score then pays one dot fold per pair.
    base = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).select("id", "v", _norm_d(F.col("v")).alias("nrm"))
    return (
        cand.join(base.select(F.col("id").alias("id_a"),
                              F.col("v").alias("v_a"),
                              F.col("nrm").alias("n_a")), "id_a")
        .join(base.select(F.col("id").alias("id_b"),
                          F.col("v").alias("v_b"),
                          F.col("nrm").alias("n_b")), "id_b")
        .select(
            "id_a", "id_b",
            # byte-identical zero-norm twins verify at cos 1.0 (they DO
            # share every LSH bucket: all sign bits of zero dots agree)
            # instead of the 0/0→0 pin dropping them — mirrors
            # cosine_pairs_brute and semantic_dedup (r12 review)
            F.when(
                (F.col("n_a") * F.col("n_b") == 0.0)
                & (F.col("v_a") == F.col("v_b")),
                F.lit(1.0),
            ).otherwise(F.round(
                _guarded_cos(
                    _dot_d(F.col("v_a"), F.col("v_b")),
                    F.col("n_a") * F.col("n_b"),
                ),
                4,
            )).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def ivf_index(
    df: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_iters: int = 0,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """IVF coarse quantizer: pick ``k`` deterministic seed vectors as
    centroids (smallest ``xxhash64(seed:id)`` — reproducible without a
    k-means job), assign every vector to its nearest centroid by cosine
    via one Arrow matmul. ``train_iters > 0`` refines the seed centroids
    with that many :func:`kmeans_fit` Lloyd's rounds first (one corpus
    pass each, metadata-scale reduce) — trained lists are tighter on
    clustered corpora, so a probe at the same nprobe recalls more.

    Returns (assigned frame with a ``list`` column, centroid list). At
    scale: write the assigned frame partitioned by ``list`` so a probe
    reads only nprobe/k of the files — the partition-pruned layout IS the
    index. Complements :func:`lsh_index`: IVF adapts to data geometry
    (centroids live where vectors are), LSH is oblivious but needs no
    training pass.

    NULL embeddings are excluded — they can neither seed a centroid,
    be assigned to a list, nor be found by a probe (wave 23: one NULL
    vector crashed seed selection with an opaque TypeError)."""
    if not _is_int(k) or k < 1:
        raise ValueError(f"IVF needs at least one list, got k={k!r}")
    df = df.where(F.col(vec_col).isNotNull())
    if train_iters > 0:
        cents = list(enumerate(kmeans_fit(
            df, k, None, iters=train_iters,
            id_col=id_col, vec_col=vec_col, seed=seed,
        )))
    else:
        cent_rows = (
            df.select(id_col, vec_col)
            .orderBy(F.xxhash64(F.concat_ws(":", F.lit(f"ivf{seed}"),
                                            F.col(id_col).cast("string"))))
            .limit(k)
            .collect()
        )
        if not cent_rows:
            # loud, like the trained path's kmeans_fit — an empty corpus
            # previously surfaced as an opaque numpy AxisError here
            raise ValueError("IVF index requires at least one vector")
        cents = [(r[0], list(r[1])) for r in cent_rows]
    cn = np.asarray([c[1] for c in cents], dtype=np.float64)
    # zero-norm guard (r11 review wave 11): an all-zero centroid (zero
    # seed vector, or a kmeans cluster that averaged to zero) would
    # otherwise become a NaN row, and np.argmax(mat @ cn.T) returns the
    # NaN column for EVERY row — the whole corpus lands in one list the
    # probe ranking (which guards zero norms itself) then never probes
    cn = cn / np.maximum(
        np.linalg.norm(cn, axis=1, keepdims=True), 1e-30)  # (k, dim)

    @F.pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        try:
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in vs])
        except (TypeError, ValueError) as e:
            raise ValueError(
                "embeddings must share one dimension — ragged or "
                "non-numeric vector in the corpus"
            ) from e
        if mat.ndim != 2 or mat.shape[1] != cn.shape[1]:
            raise ValueError(
                "embeddings must share one dimension — ragged or "
                "wrong-dimension vector in the corpus"
            )
        mat = mat / np.maximum(
            np.linalg.norm(mat, axis=1, keepdims=True), 1e-30
        )
        return pd.Series(np.argmax(mat @ cn.T, axis=1).astype("int32"))

    part = spread(df)
    return (
        part.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            assign(F.col(vec_col)).alias("list"),
        ),
        cents,
    )


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_iters: int = 0,
) -> DataFrame:
    """Approximate top-k via IVF: rank centroids against the query
    driver-side, scan only the ``nprobe`` nearest inverted lists, exact
    cosine re-score inside them. Work scales with nprobe/n_lists of the
    corpus; recall follows how tightly neighbors cluster (uniform random
    fixtures are the worst case — see the unit test's measured bound).
    ``train_iters`` refines centroids with Lloyd's rounds (see
    :func:`ivf_index`)."""
    idx, cents = ivf_index(df, n_lists, id_col, vec_col, seed, train_iters)
    probe = _rank_probe_lists([c[1] for c in cents], query_vec, nprobe)
    return _rescore_topk(
        idx.where(F.col("list").isin(probe)), query_vec, k, id_col
    )


def _rank_probe_lists(
    cents: list[list[float]], query_vec: list[float], nprobe: int
) -> list[int]:
    """The nprobe centroid ids nearest the query by cosine — THE ONE
    ranking shared by the frame-level and table-level probes (a guard or
    tie-break fix applied to one must not diverge the other — r12
    review: the nprobe guard lived only on the table path, so
    ``ivf_topk(..., nprobe=0)`` silently returned empty and a negative
    nprobe silently probed n-|nprobe| lists)."""
    if not _is_int(nprobe) or nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe!r}")
    qn = np.asarray(query_vec, dtype=np.float64)
    qn = qn / max(np.linalg.norm(qn), 1e-30)
    cn = np.asarray(cents, dtype=np.float64)
    cn = cn / np.maximum(
        np.linalg.norm(cn, axis=1, keepdims=True), 1e-30
    )
    return sorted(np.argsort(-(cn @ qn))[:nprobe].tolist())


def _rescore_topk(
    df: DataFrame, query_vec: list[float], k: int, id_col: str
) -> DataFrame:
    """Exact-cosine re-score of a candidate frame carrying (id, v) —
    shared by both probe paths."""
    return (
        _query_cos_frame(df.select("id", "v"), query_vec, id_col)
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_index_table(
    table,
    df: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_iters: int = 2,
):
    """Materialize the IVF index as a PARTITIONED ACID table — the scale
    layout :func:`ivf_index`'s docstring promises: the assigned frame is
    written partitioned by ``list``, so a probe's ``list IN (...)``
    predicate prunes to nprobe/n_lists of the files at METADATA cost
    (commit-log partition values — no footer reads, no tasks for
    unprobed lists). The trained centroids are stored as a table
    property, so probing never rescans the corpus to rebuild the coarse
    quantizer. Returns the created :class:`~lakeshed.table.LakeTable`.

    ``table``: a LakeTable handle to create (e.g. from
    ``Catalog._path``/``LakeTable(spark, path)``) — the index is a table
    like any other: snapshots, time travel, compaction, and incremental
    MERGE of new vectors all apply."""
    idx, cents = ivf_index(
        df, n_lists, id_col, vec_col, seed, train_iters
    )
    import json as _json

    return table.create(
        idx,
        partition_by=["list"],
        properties={
            "lakeshed.ivf.centroids": _json.dumps(
                [c[1] for c in cents]
            ),
            "lakeshed.ivf.n-lists": str(n_lists),
        },
    )


def ivf_topk_from_table(
    table,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a materialized :func:`ivf_index_table`: rank the stored
    centroids against the query driver-side (k×d metadata), then scan
    ONLY the ``nprobe`` nearest lists via the table's partition-pruned
    ``scan`` — unprobed partitions never produce a file read — and
    exact-cosine re-score inside them. The I/O shape a 100 TB ANN probe
    needs: work ∝ nprobe/n_lists of the corpus, planned from the commit
    log."""
    import json as _json

    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    props = table.properties()
    if "lakeshed.ivf.centroids" not in props:
        raise ValueError(
            "table has no 'lakeshed.ivf.centroids' property — not an IVF "
            "index table (build one with ivf_index_table)")
    cents = _json.loads(props["lakeshed.ivf.centroids"])
    if not cents:
        raise ValueError(
            "'lakeshed.ivf.centroids' is empty — the index table holds "
            "no lists to probe")
    probe = _rank_probe_lists(cents, query_vec, nprobe)
    pred = f"list IN ({', '.join(str(p) for p in probe)})"
    return _rescore_topk(table.scan(where=pred), query_vec, k, id_col)


def ann_topk_lsh(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    tables: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: probe the query's bucket in each table, union the
    candidates, exact-rescore. With (8 bits, 16 tables) recall for
    cos≈0.9 neighbors is ≳0.999 while scanning a few % of rows."""
    dim = len(query_vec)
    planes = _hyperplanes(dim, bits, tables, seed)
    idx = lsh_index(df, dim, bits, tables, id_col, vec_col, seed)
    # query signatures computed driver-side (tiny), probed via a broadcast
    # semi-join — a `tables`-term OR predicate would be a wide tree for
    # every optimizer pass and can't hash-match buckets.
    qsigs = []
    for t in range(tables):
        sig = 0
        for i, p in enumerate(planes[t]):
            if sum(a * b for a, b in zip(query_vec, p)) >= 0:
                sig |= 1 << i
        qsigs.append((t, sig))
    probe_df = df.sparkSession.createDataFrame(
        qsigs, "tbl int, bucket bigint"
    )
    return (
        _query_cos_frame(
            idx.join(F.broadcast(probe_df), ["tbl", "bucket"],
                     "left_semi")
            .select("id", "v")
            .distinct(),
            query_vec, id_col,
        )
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


# ------------------------------------------------------------------ PCA


def pca_fit(df: DataFrame, dim: int, k: int = 8,
            vec_col: str = "embedding") -> dict:
    """Distributed PCA fit — the MLlib ``computeCovariance`` pattern:
    every Arrow batch reduces to ONE partial-moment row (count, Σx, the
    flattened Σxxᵀ outer-product sum), the driver combines those rows
    (npartitions × (d²+d+1) floats — metadata-scale) and
    eigendecomposes the d×d covariance with numpy. The corpus is
    touched exactly once, nothing wide ever shuffles: at 100 TB the
    reduce traffic is partitions × d², independent of row count.

    Not expressed as 2·d² Catalyst aggregate columns on purpose — at
    d=64 that is ~2 000 codegen expressions (method-size fallback to
    interpreted), while the numpy kernel is one BLAS call per batch.

    Sign convention: each component's largest-|loading| coordinate is
    made positive, so the fit is deterministic. Returns
    ``{"mean": [d], "components": [k][d], "explained_var": [k]}``."""
    from pyspark.sql import Row

    def partial(batches):
        n = 0
        s = np.zeros(dim)
        ss = np.zeros((dim, dim))
        for pdf in batches:
            if len(pdf) == 0:  # np.stack raises on an empty batch
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n += m.shape[0]
            s += m.sum(axis=0)
            ss += m.T @ m
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()]}
            )

    parts = df.select(vec_col).mapInPandas(
        partial, schema="n long, s array<double>, ss array<double>"
    ).collect()
    n = sum(r.n for r in parts)
    if n == 0:
        # fail loudly (r11 review wave 11): dividing by n produced a NaN
        # mean with only a RuntimeWarning and an opaque eigh LinAlgError
        raise ValueError("PCA requires at least one vector")
    s = np.sum([np.array(r.s) for r in parts], axis=0)
    ss = np.sum([np.array(r.ss).reshape(dim, dim) for r in parts], axis=0)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # k × d
    for i in range(comps.shape[0]):  # deterministic sign
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return {
        "mean": mean.tolist(),
        "components": comps.tolist(),
        "explained_var": evals[order].tolist(),
    }


# -------------------------------------------------------------- k-means


def kmeans_fit(
    df: DataFrame,
    k: int,
    dim: int | None = None,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[list[float]]:
    """Distributed Lloyd's k-means over an embedding column.

    Each iteration is ONE pass over the corpus: every Arrow batch assigns
    its rows to the nearest centroid (one matmul against the k×d broadcast
    centroid matrix) and reduces to per-cluster partial moments
    (count, Σx) — so a partition emits at most k rows of d+1 floats and
    the driver combines partitions × k × (d+1) numbers, independent of
    row count. Same reduce shape as :func:`pca_fit`; nothing wide ever
    shuffles. Init is the deterministic hash-sample used by
    :func:`ivf_index` (smallest ``xxhash64(seed:id)``), so fits are
    reproducible across partitionings; an emptied cluster keeps its
    previous centroid. Trained centroids slot straight into
    :func:`ivf_index`-style assignment for clustered corpora (see its
    docstring) and into :func:`semantic_dedup`.
    """
    # NULL embeddings carry no geometry — excluded from the fit (wave
    # 23: list(None) in the init collect crashed with an opaque
    # TypeError; downstream, kmeans_assign gives such rows a NULL
    # cluster, so they simply never cluster/dedup)
    #
    # The narrow fit input is PERSISTED for the fit's duration (r14,
    # guide §5): the init sample plus every Lloyd iteration is a full
    # pass over it — iters+1 scans of the source otherwise (MLlib
    # caches its k-means input for the same reason). MEMORY_AND_DISK:
    # at corpus scales past executor memory the tail spills instead of
    # evicting, and either way beats re-reading + re-decoding parquet
    # per pass. Released before returning — centroids are plain Python,
    # nothing lazy escapes.
    from pyspark import StorageLevel

    fit_in = df.select(id_col, vec_col).where(
        F.col(vec_col).isNotNull()).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _kmeans_fit_passes(fit_in, k, dim, iters, id_col, vec_col,
                                  seed)
    finally:
        fit_in.unpersist(blocking=False)


# Above this many input partitions, each Lloyd pass folds its per-
# partition partial moments through a depth-2 executor-side combine
# (sqrt(P) order-preserving coalesce groups) before the driver collect
# (r15, VERDICT r14 #4 / guide §5 "the driver should do almost no data
# work"): the collect otherwise carries partitions x k x (d+1) doubles
# — at auto-k corpus scale (P~10k, k~1000, d~768) that is tens of GB of
# driver traffic per pass, the exact failure mode semantic_dedup_auto_k's
# driver-memory note warns about. Below the threshold (every local/bench
# shape) the plain collect runs and the drive-side fold is byte-for-byte
# the r14 behavior.
_FIT_COMBINE_PARTITIONS = 256


def _combine_partials(k: int, dim: int):
    """Executor-side fold of Lloyd partial-moment rows: sums per cluster
    IN ROW ORDER (coalesce preserves parent-partition order), the same
    left-to-right accumulation the driver applies — so for exactly-
    representable sums the tree is bit-identical to the flat fold, and
    for real data it differs only in final-ulp regrouping (the standard
    property of any distributed float reduction, e.g. treeAggregate)."""

    def combine(batches):
        cnt = np.zeros(k, dtype=np.int64)
        s = np.zeros((k, dim))
        seen = False
        for pdf in batches:
            for c, n_, sv in zip(pdf["c"].to_numpy(),
                                 pdf["n"].to_numpy(), pdf["s"]):
                seen = True
                cnt[c] += n_
                s[c] += np.asarray(sv, dtype=np.float64)
        if seen:
            hit = np.nonzero(cnt)[0]
            yield pd.DataFrame({
                "c": hit.astype("int32"),
                "n": cnt[hit],
                "s": [s[i].tolist() for i in hit],
            })

    return combine


def _kmeans_fit_passes(
    df: DataFrame,
    k: int,
    dim: int | None,
    iters: int,
    id_col: str,
    vec_col: str,
    seed: int,
) -> list[list[float]]:
    """The init + Lloyd's passes of :func:`kmeans_fit`, over an input the
    caller has already narrowed/persisted."""
    init_rows = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.concat_ws(":", F.lit(f"km{seed}"),
                                        F.col(id_col).cast("string"))))
        .limit(k)
        .collect()
    )
    if not init_rows:
        raise ValueError("k-means needs at least one vector")
    if len(init_rows) < k:
        # fewer rows than clusters (r11 review wave 11: the k-length hit
        # mask previously indexed the shorter centroid array and crashed
        # with an opaque IndexError): clamp — at k == n every point is
        # its own cluster, which is the correct degenerate fit
        k = len(init_rows)
    lens = {len(r[1]) for r in init_rows}
    if len(lens) != 1 or (dim is not None and lens != {dim}):
        # wave 23: a ragged init sample made `cents` an object array and
        # the first iteration died in an opaque matmul shape error
        raise ValueError(
            f"embeddings must share one dimension (got lengths "
            f"{sorted(lens)}{f', expected {dim}' if dim else ''})"
        )
    cents = np.asarray([list(r[1]) for r in init_rows], dtype=np.float64)
    if dim is None:  # infer from the init sample — saves a probe job
        dim = cents.shape[1]

    # partition count of the (persisted) fit input — decides whether the
    # per-pass partial-moment fold needs the executor-side combine tree
    # (_FIT_COMBINE_PARTITIONS). One cheap lineage read on a frame the
    # caller already narrowed; the init job above has materialized it.
    nparts = df.rdd.getNumPartitions()

    for _ in range(iters):
        c = cents  # rebind for closure capture of THIS round's centroids

        def partial(batches, _c=c):
            cnt = np.zeros(k, dtype=np.int64)
            s = np.zeros((k, dim))
            for pdf in batches:
                if len(pdf) == 0:  # np.stack raises on an empty batch
                    continue
                try:
                    m = np.stack(
                        pdf[vec_col].to_numpy()).astype(np.float64)
                except (TypeError, ValueError) as e:
                    # wave 23: surface the cause instead of an opaque
                    # executor numpy error (NULLs are filtered upstream,
                    # so this is ragged/mixed-dimension data)
                    raise ValueError(
                        "embeddings must share one dimension — ragged "
                        "or non-numeric vector in the corpus"
                    ) from e
                if m.shape[1] != dim:
                    raise ValueError(
                        f"embeddings must share one dimension (got "
                        f"{m.shape[1]}, the fit runs at {dim})"
                    )
                # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² is constant
                # per row → argmin of the matmul form. ALWAYS this form
                # (r11 review wave 11): a per-batch switch between this
                # and the (m-c)² tensor made near-tie assignments depend
                # on Arrow batch sizing, contradicting the documented
                # reproducibility across partitionings — and this is
                # also the exact formula kmeans_assign evaluates, so
                # fit-time and assign-time decisions agree.
                a = np.argmin(
                    -2.0 * (m @ _c.T) + (_c * _c).sum(axis=1)[None, :],
                    axis=1,
                )
                np.add.at(cnt, a, 1)
                np.add.at(s, a, m)
            hit = np.nonzero(cnt)[0]
            if len(hit):
                yield pd.DataFrame({
                    "c": hit.astype("int32"),
                    "n": cnt[hit],
                    "s": [s[i].tolist() for i in hit],
                })

        partials = df.select(vec_col).mapInPandas(
            partial, schema="c int, n long, s array<double>"
        )
        if nparts > _FIT_COMBINE_PARTITIONS:
            import math

            partials = partials.coalesce(
                int(math.ceil(math.sqrt(nparts)))
            ).mapInPandas(
                _combine_partials(k, dim),
                schema="c int, n long, s array<double>",
            )
        parts = partials.collect()
        cnt = np.zeros(k, dtype=np.int64)
        s = np.zeros((k, dim))
        for r in parts:
            cnt[r.c] += r.n
            s[r.c] += np.asarray(r.s)
        nxt = cents.copy()
        hit = cnt > 0
        nxt[hit] = s[hit] / cnt[hit, None]
        if np.allclose(nxt, cents, atol=1e-12):
            cents = nxt
            break
        cents = nxt
    return cents.tolist()


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cluster",
    dist_col: str | None = None,
) -> DataFrame:
    """Tag every vector with its nearest (Euclidean) centroid — one Arrow
    matmul per batch against the broadcast k×d matrix. ``dist_col`` also
    emits the Euclidean distance to that centroid (same matmul — the
    min is read off the distance matrix the argmin already built)."""
    c = np.asarray(centroids, dtype=np.float64)
    c_sq = (c * c).sum(axis=1)

    def _stack_nonnull(vs: pd.Series):
        """(mask, matrix) for the non-NULL rows — a NULL embedding has
        no geometry and gets a NULL cluster (wave 23: np.stack over a
        batch containing None crashed the job with an opaque matmul
        shape error); ragged vectors stay a LOUD error."""
        vals = vs.to_numpy()
        mask = np.array([v is not None for v in vals])
        if not mask.any():
            return mask, None
        try:
            return mask, np.stack(vals[mask]).astype(np.float64)
        except (TypeError, ValueError) as e:
            raise ValueError(
                "embeddings must share one dimension — ragged or "
                "non-numeric vector in the corpus"
            ) from e

    if dist_col is None:
        @F.pandas_udf("int")
        def assign(vs: pd.Series) -> pd.Series:
            if len(vs) == 0:  # np.stack raises before a post-hoc len check
                return pd.Series([], dtype="Int32")
            mask, m = _stack_nonnull(vs)
            out = np.full(len(mask), np.nan)
            if m is not None:
                d = -2.0 * (m @ c.T) + c_sq[None, :]
                out[mask] = np.argmin(d, axis=1)
            return pd.Series(out).astype("Int32")

        return df.withColumn(out_col, assign(F.col(vec_col)))

    @F.pandas_udf("cluster int, dist double")
    def assign_d(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame({"cluster": pd.Series([], dtype="Int32"),
                                 "dist": pd.Series([], dtype="float64")})
        mask, m = _stack_nonnull(vs)
        oc = np.full(len(mask), np.nan)
        od = np.full(len(mask), np.nan)
        if m is None:
            return pd.DataFrame({"cluster": pd.Series(oc).astype("Int32"),
                                 "dist": od})
        # ||x-c||² = ||x||² - 2x·c + ||c||² ; the matmul form never
        # materializes the n×k×d difference tensor
        d = (m * m).sum(axis=1)[:, None] - 2.0 * (m @ c.T) + c_sq[None, :]
        a = np.argmin(d, axis=1)
        oc[mask] = a
        od[mask] = np.sqrt(np.maximum(d[np.arange(len(a)), a], 0.0))
        return pd.DataFrame({"cluster": pd.Series(oc).astype("Int32"),
                             "dist": od})

    tmp = f"__{out_col}_assign"
    return (
        df.withColumn(tmp, assign_d(F.col(vec_col)))
        .withColumn(out_col, F.col(f"{tmp}.cluster"))
        .withColumn(dist_col, F.col(f"{tmp}.dist"))
        .drop(tmp)
    )


def semantic_dedup_auto_k(n: int, target_cluster_size: int = 256) -> int:
    """The engine's k derivation for :func:`semantic_dedup`'s ``k=None``
    default: one cluster per ``target_cluster_size`` vectors (floor 8),
    so the within-cluster pair bound Σ|cluster|² stays ≈ n ×
    target_cluster_size — LINEAR in corpus size — instead of the n²/k
    quadratic a fixed k produces (SCALING.md measures slope 2.0 at fixed
    k vs 1.0 here). Exposed separately so the scaling probe can measure
    exactly the parameterization the engine applies.

    Driver-memory note: the Lloyd's fit combines partitions × k × (d+1)
    partial moments on the driver, so auto-k implies O(n/target × d)
    driver floats. At corpus sizes where that exceeds driver memory
    (k in the millions), pass a larger ``target_cluster_size`` sized to
    a sharded/hierarchical fit — there is deliberately NO silent cap
    here, because a cap would quietly reintroduce the quadratic slope."""
    import math

    if not _is_int(target_cluster_size) or target_cluster_size < 1:
        raise ValueError(
            "target_cluster_size must be a positive int, got "
            f"{target_cluster_size!r} — it bounds the expected pair work "
            "per document (pairs ≈ n × target_cluster_size)"
        )
    if n < 1:
        raise ValueError("semantic_dedup requires at least one vector")
    return max(8, math.ceil(n / target_cluster_size))


def semantic_dedup(
    df: DataFrame,
    k: int | None = None,
    threshold: float = 0.99,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    target_cluster_size: int = 256,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023): k-means
    the embedding space, then compare pairs ONLY within a cluster and drop
    every document whose cluster has a ≥``threshold``-cosine neighbor with
    a smaller id. Returns (id, cluster, keep).

    Scale shape: the cluster id is the join key, so candidate generation
    is one shuffle on ``cluster`` and the pair count is Σ|cluster|² ≈
    n²/k — never corpus², but *linear in n only when k grows with n*
    (the repo's own SCALING.md ladder measures slope 2.0 at fixed k vs
    1.0 at k ∝ n). So ``k=None`` (the default) derives
    ``k = max(8, ceil(n / target_cluster_size))`` from one corpus count,
    making expected pairs ≈ n × target_cluster_size — the engine keeps
    the bound linear without caller tuning (r11 VERDICT #1). This is
    SemDeDup's own convention: its 50k clusters on the ~440M-embedding
    LAION corpus is a fixed cluster SIZE (~9k), not a fixed k. Pass an
    explicit k to pin the granularity (e.g. for reproducible gates); the
    linearity guarantee is then the caller's responsibility. The k-means
    fit itself is :func:`kmeans_fit`'s metadata-scale reduce. True
    cross-cluster near-dups land in the same cluster with high
    probability because near-identical embeddings share a nearest
    centroid unless they straddle a Voronoi boundary — the accepted
    approximation of the method (raise k / shrink
    ``target_cluster_size`` for finer boundaries, or run
    :func:`ann_pairs_lsh` for boundary-oblivious recall).
    """
    if k is not None and (not _is_int(k) or k < 1):
        raise ValueError(
            f"k must be a positive int or None (auto: one cluster per "
            f"~{target_cluster_size} vectors), got {k!r}"
        )
    if k is None:
        # one count job over the pruned (id) projection — column pruning
        # keeps the wide embedding column out of the scan entirely
        k = semantic_dedup_auto_k(
            df.select(id_col).count(), target_cluster_size)
    cents = kmeans_fit(df, k, None, iters, id_col, vec_col, seed)
    # r15 note (attempted and REVERTED): unrolling the per-pair dot into
    # a flat element_at multiply-add chain (dimension known from the
    # centroids) measured ~2x SLOWER than this HOF fold on an
    # interleaved quiet A/B (OPTIMIZATION_r15.md, additional changes, min
    # 2.97 -> 5.81 s) — the fold makes ONE native pass over the
    # primitive array; d scattered element_at accesses do not.
    tagged = scoped_persist(
        "semantic_dedup",
        kmeans_assign(df, cents, id_col, vec_col)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
            "cluster",
        )
        .withColumn("n", _norm_d(F.col("v"))),
    )
    dup = (
        tagged.alias("a")
        .join(
            tagged.alias("b"),
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("b.id") < F.col("a.id")),
        )
        .where(
            # zero-norm guard: 0/0 is NULL under ANSI-off and would
            # silently KEEP a byte-identical all-zero twin (breaking the
            # method's exact-dup guarantee). _guarded_cos pins ONLY the
            # true 0/0 case to similarity 0 (nonzero norms divide
            # exactly, so tiny-magnitude twins still score 1.0); the
            # equality disjunct (gated behind the cheap norm-product
            # check, so it costs O(d) only on zero-norm pairs) restores
            # dup=true for byte-identical all-zero vectors.
            (
                _guarded_cos(
                    _dot_d(F.col("a.v"), F.col("b.v")),
                    F.col("a.n") * F.col("b.n"),
                )
                >= threshold
            )
            | (
                (F.col("a.n") * F.col("b.n") == 0.0)
                & (F.col("a.v") == F.col("b.v"))
            )
        )
        .select(F.col("a.id").alias("id"))
        .distinct()
    )
    return (
        tagged.join(dup.withColumn("dup", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cluster",
            F.coalesce(~F.col("dup"), F.lit(True)).alias("keep"),
        )
    )


def pca_transform(df: DataFrame, model: dict, vec_col: str = "embedding",
                  out_col: str = "pca") -> DataFrame:
    """Project vectors onto the fitted components: one Arrow batch
    matmul per partition (components broadcast inside the serialized
    kernel — k×d floats), replacing ``vec_col`` with a k-dim array."""
    mean = np.array(model["mean"])
    comps = np.array(model["components"])  # k × d

    @F.pandas_udf("array<float>")
    def project(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:  # np.stack raises before a post-hoc len check
            return pd.Series([], dtype="object")
        m = np.stack(vs.to_numpy()).astype(np.float64) - mean
        out = m @ comps.T
        return pd.Series(list(out.astype(np.float32)))

    projected = df.withColumn(out_col, project(F.col(vec_col)))
    if out_col == vec_col:
        # withColumn already replaced the column in place; dropping it
        # here would delete the just-computed projection and silently
        # return a frame with NEITHER vectors nor PCA output (r12 review)
        return projected
    return projected.drop(vec_col)
