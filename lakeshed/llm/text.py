"""Text analysis — normalization, token counting, quality, language ID.

All pure ``pyspark.sql.functions`` column expressions (JVM-side, inside
whole-stage codegen — the 100 TB hot path never enters Python). Each helper
returns a Column so operators compose into single projections.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A small English stopword core — enough for a heuristic language/quality
# signal without shipping a model. (Deterministic; mirrored in the DuckDB
# oracles.)
EN_STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

# Whitespace class shared by every cross-engine pattern: Java's \s is
# exactly [ \t\n\x0B\f\r] but RE2's \s OMITS \x0B (r11 review wave 13:
# a vertical tab collapsed in Spark but not DuckDB, silently diverging
# md5 group keys) — spell the class out so both engines read the same
# set. Same portability discipline as the PII \b note below.
WS_CLASS = r"[ \t\n\x0B\f\r]"

# BPE-ish pre-tokenizer: word pieces or single non-space symbols — the
# standard GPT-2-style split shape, minus lookaheads Spark's RE2-like engine
# and DuckDB both accept.
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"


def normalize(col: Column | str) -> Column:
    """Canonical text form shared by every dedup/analysis op (and the
    oracles): lowercase, collapse whitespace runs, THEN trim (r11 review
    wave 13: trim-before-collapse strips only ASCII spaces, so a
    trailing newline/tab survived as an edge space and split() emitted a
    phantom empty token into every token count, n-gram and digest)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), WS_CLASS + "+", " "))


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize(col), " ")


def bpe_token_count(col: Column | str) -> Column:
    """Count of BPE-ish pre-tokens — the 'how many tokens will the model
    see' estimator."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_REGEX), F.lit(0)))


def stopword_count(col: Column | str, words: tuple[str, ...] = EN_STOPWORDS
                   ) -> Column:
    # array_intersect already returns distinct elements — no extra
    # array_distinct pass on the hot per-document path (r11 wave 13)
    lit_words = F.array(*[F.lit(w) for w in words])
    return F.size(F.array_intersect(tokens(col), lit_words))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features, one narrow projection (no shuffle):

    - n_chars / n_tokens / mean token length (length heuristics),
    - alpha_ratio (symbol soup detector),
    - stopword_hits (natural-language-ness),
    - bpe_tokens (model-facing size).
    """
    c = F.col(text_col)
    toks = tokens(text_col)
    n_tok = F.size(toks)
    return df.select(
        "*",
        F.length(c).alias("n_chars_m"),
        n_tok.alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace(normalize(text_col), " ", ""))
            / F.greatest(n_tok, F.lit(1)),
            4,
        ).alias("mean_token_len"),
        F.round(
            F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
            / F.greatest(F.length(c), F.lit(1)),
            4,
        ).alias("alpha_ratio"),
        stopword_count(text_col).alias("stopword_hits"),
        bpe_token_count(text_col).alias("bpe_tokens"),
    )


# Gopher-style quality-rule thresholds (Rae et al. 2021, table A1 shapes):
# word-count bounds, mean-word-length window, symbol-ratio cap, and a
# stopword floor. Word bounds here are scaled to the fixture corpus
# (10-99-word docs) the way a real pipeline tunes them per corpus.
QUALITY_RULES = {
    "words": (25, 80),        # n_words within bounds
    "word_len": (3.0, 10.0),  # mean word length window (Gopher's [3,10])
    "symbol_max": 0.1,        # non-alphanumeric char ratio cap
    "stop_min": 2,            # ≥ N distinct core stopwords present
}


def quality_rules(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Gopher-style document quality screen: each rule is a named boolean
    so a pipeline can report per-rule rejection counts (the usual quality
    dashboard), plus the conjunction as ``keep``. One narrow JVM
    projection — no shuffle, no Python — so at 100 TB this is a pure
    map stage that fuses with the scan."""
    norm = normalize(text_col)
    toks = tokens(text_col)
    n_words = F.size(toks)
    chars = F.length(norm)
    # chars minus the (n-1) single spaces of the normalized form = total
    # word chars; avoids a per-token length pass
    mwl = F.round((chars - n_words + 1) / n_words, 4)
    sym = F.round(
        F.length(F.regexp_replace(norm, "[a-z0-9 ]", ""))
        / F.greatest(chars, F.lit(1)),
        4,
    )
    stops = stopword_count(text_col)
    lo_w, hi_w = QUALITY_RULES["words"]
    lo_m, hi_m = QUALITY_RULES["word_len"]
    r_words = n_words.between(lo_w, hi_w)
    r_word_len = mwl.between(lo_m, hi_m)
    r_symbol = sym <= QUALITY_RULES["symbol_max"]
    r_stop = stops >= QUALITY_RULES["stop_min"]
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mwl.alias("mean_word_len"),
        sym.alias("symbol_ratio"),
        stops.alias("stopword_distinct"),
        r_words.alias("r_words"),
        r_word_len.alias("r_word_len"),
        r_symbol.alias("r_symbol"),
        r_stop.alias("r_stop"),
        (r_words & r_word_len & r_symbol & r_stop).alias("keep"),
    )


def bigram_lm(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus bigram language model: ``(gram, p)`` with
    P(w2|w1) = c(w1 w2) / Σ_w c(w1 w), the maximum-likelihood conditional
    over observed contexts — the CCNet/KenLM-style LM used to score text
    quality, minus the external model file. One explode+count shuffle
    over the corpus (map-side combining), then a small self-aggregation
    for the context totals; at 100 TB the LM frame is vocabulary²-bounded
    — tiny next to the corpus — and joins back by gram key."""
    counts = (
        df.where(F.size(tokens(text_col)) >= 2)
        .select(F.explode(ngrams(tokens(text_col), 2)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ctx = (
        counts.select(
            F.split(F.col("gram"), " ").getItem(0).alias("w1"), "c"
        )
        .groupBy("w1")
        .agg(F.sum("c").alias("cw"))
    )
    return (
        counts.withColumn(
            "w1", F.split(F.col("gram"), " ").getItem(0)
        )
        .join(ctx, "w1")
        .select("gram", (F.col("c") / F.col("cw")).alias("p"))
    )


def lm_score(df: DataFrame, lm: DataFrame, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Per-document LM quality score: mean ln P(w_i | w_{i-1}) under a
    :func:`bigram_lm` frame — fluent text scores high, shuffled or
    boilerplate text low (the CCNet perplexity-bucket filter shape).
    Docs explode to bigrams and join the LM on the gram key (one shuffle;
    grams unseen by the LM drop out of the inner join — score only what
    the model knows). Sub-2-token docs have no bigrams and are absent
    from the result."""
    return (
        df.where(F.size(tokens(text_col)) >= 2)
        .select(
            F.col(id_col),
            F.explode(ngrams(tokens(text_col), 2)).alias("gram"),
        )
        .join(lm, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log("p")), 4).alias("avg_logp"),
        )
    )


def language_score(col: Column | str,
                   words: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Heuristic English-ness: fraction of tokens that are core stopwords.
    An n-gram-frequency model would slot in the same shape (per-language
    score columns, argmax)."""
    toks = tokens(col)
    lit_words = F.array(*[F.lit(w) for w in words])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(lit_words, t)))
    # RAW ratio — rounding belongs at the surface (r11 review wave 13:
    # avg(round(x,4)) != round(avg(x),4), so the pre-rounded score was a
    # latent hash divergence against llm_lang_id's round-after-avg
    # oracle, and a near-boundary doc could pass llm_corpus_pipeline's
    # >= 0.05 gate in one engine only)
    return hits / F.greatest(F.size(toks), F.lit(1))


def ngrams(toks: Column, n: int) -> Column:
    """Word n-grams as an O(len) zip of shifted slices (a slice inside a
    per-index ``transform`` would be O(len²) — interpreted HOFs make that
    visible fast). Documents shorter than n yield one partial gram
    (concat_ws skips the null padding), matching the DuckDB oracles."""
    cnt = F.greatest(F.size(toks) - n + 1, F.lit(1))
    parts = [F.slice(toks, i + 1, cnt) for i in range(n)]
    grams = parts[-1]
    for p in reversed(parts[:-1]):
        grams = F.zip_with(p, grams, lambda a, b: F.concat_ws(" ", a, b))
    return grams


def chunk_documents(
    df: DataFrame,
    window: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-token-window chunks with stride overlap
    — the context-window preprocessing step before embedding or training.
    Returns (id, chunk_idx, n_tokens, chunk_digest).

    Pure JVM: tokenize once, ``sequence``+``explode`` the chunk indexes,
    ``slice`` each window out of the shared token array — no Python, no
    shuffle (a narrow 1→N flatMap; at 100 TB the output partitioning
    inherits the scan's). Chunk count is 1 + ceil(max(n-window,0)/stride)
    so a final short tail window is kept (it still holds otherwise-lost
    tokens) and sub-window documents produce exactly one chunk. Digest
    over the joined chunk text keeps the output narrow — callers who
    need the text itself can re-slice by (id, chunk_idx)."""
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    if stride > window:
        # tokens between window ends and the next stride start would be
        # in NO chunk, and the tail chunk could slice past the document
        # into an empty phantom — silent data loss for a training-window
        # prep step (r11 review wave 13); the docstring's "tail window
        # keeps otherwise-lost tokens" holds only for stride <= window
        raise ValueError(
            f"stride ({stride}) must not exceed window ({window}) — "
            "tokens between windows would be silently dropped")
    toks = tokens(text_col)
    n = F.size(toks)
    # integer ceil((n-window)/stride) without float rounding hazards
    extra = F.greatest(n - F.lit(window), F.lit(0))
    nch = (extra + F.lit(stride - 1)).cast("long") / F.lit(stride)
    nch = F.floor(nch).cast("int") + F.lit(1)
    return (
        df.select(F.col(id_col), toks.alias("__toks"), nch.alias("__nch"))
        .select(
            id_col,
            "__toks",
            F.explode(
                F.sequence(F.lit(0), F.col("__nch") - 1)
            ).alias("chunk_idx"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.slice(
                F.col("__toks"), F.col("chunk_idx") * stride + 1, window
            ).alias("__chunk"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.size("__chunk").alias("n_tokens"),
            F.md5(F.concat_ws(" ", "__chunk")).alias("chunk_digest"),
        )
    )


def fingerprint(col: Column | str, ngram: int = 3) -> Column:
    """Deterministic document fingerprint: minimum md5 over word ``ngram``
    shingles of the normalized text (a 1-perm MinHash — stable under small
    edits far from the minimum). Falls back to md5 of the whole normalized
    text for docs shorter than ``ngram`` tokens."""
    toks = tokens(col)
    n = F.size(toks)
    shingle_hashes = F.transform(ngrams(toks, ngram), lambda g: F.md5(g))
    return F.when(n >= ngram, F.array_min(shingle_hashes)).otherwise(
        F.md5(normalize(col))
    )


# Portable across Java regex (Spark) and RE2 (DuckDB): no lookarounds,
# no backrefs — the oracle must run the SAME patterns. Notably no \b
# either: Java's \b is Unicode-aware while RE2's is ASCII, so a phone
# flanked by é or ٣ matched in one engine and not the other
# (tests/test_pii_contract.py pins this). Boundaries are instead explicit
# consuming guard groups, so every pattern has the uniform shape
# (prefix-guard)(pii)(suffix-guard): extraction reads group
# PII_MATCH_GROUP, redaction re-inserts groups 1 and 3 around the tag.
# Consumed suffix guards mean two phones separated by a SINGLE non-digit
# ("...-4567,555-...") yield only the first match — identically in both
# engines, which is the contract that matters.
PII_PATTERNS = {
    "emails": r"()([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,})()",
    "urls": r"()(https?://[^ \t\n\x0B\f\r]+)()",
    "phones": r"(^|[^0-9])(\d{3}[-.]\d{3,4}[-.]\d{4})($|[^0-9])",
}
PII_MATCH_GROUP = 2

# Redaction pass ORDER, shared by pii_features, the llm_pii_scan oracle,
# and tests/test_pii_contract.py. The phone pass runs TWICE: its consuming
# suffix guard eats the single separator between two adjacent phones
# ("...-4567,555-..."), so one pass leaves the second neighbor's REAL PII
# unredacted; the second pass catches it identically in Java regex and
# RE2. Extraction COUNTS stay single-pass (see pii_features docstring).
PII_REDACTION_PASSES: list[tuple[str, str]] = [
    *PII_PATTERNS.items(),
    ("phones", PII_PATTERNS["phones"]),
]


def pii_features(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """PII scan + redaction for a training corpus: per-document match
    counts for each category and the md5 of the text with every match
    replaced by a typed tag (``<EMAIL>``/``<URL>``/``<PHONE>``) — the
    scrub-before-training step. One narrow JVM regex projection, no
    shuffle, no Python; the digest lets a pipeline verify the redacted
    corpus byte-for-byte without storing it twice.

    Count semantics: ``n_*`` columns are SINGLE-pass extraction counts,
    so the second of two phones separated by one non-digit character is
    not counted (the first match's consuming suffix guard ate the
    separator) — identical in both engines. REDACTION runs the phone
    pass twice (``PII_REDACTION_PASSES``), so that neighbor IS redacted;
    counts may therefore undercount redacted phones by design."""
    c = F.col(text_col)
    cols = [F.col(id_col)]
    for name, pat in PII_PATTERNS.items():
        cols.append(
            F.size(
                F.regexp_extract_all(c, F.lit(pat), F.lit(PII_MATCH_GROUP))
            ).alias(f"n_{name}")
        )
    red = c
    for name, pat in PII_REDACTION_PASSES:
        red = F.regexp_replace(red, pat, f"$1<{name[:-1].upper()}>$3")
    cols.append(F.md5(red.cast("binary")).alias("redacted_md5"))
    return df.select(*cols)
