"""LLM-data-pipeline operators (BASELINE.json mandate, beyond SURVEY §2).

Everything a large-scale training-data pipeline runs over a corpus —
deduplication, similarity search, text analysis, multimodal plumbing —
expressed as Catalyst plans wherever possible: string work (tokenizing,
hashing, joins, aggregation) stays JVM-side. Arrow-batched numpy kernels
(``pandas_udf`` / ``mapInPandas`` / ``applyInPandas``) carry the numeric
inner loops — the MinHash and SimHash signatures in ``dedup``, the LSH
bucket, IVF, PCA and k-means kernels in ``similarity``, a few registry
entries in ``queries`` — and the multimodal decode boundary where real
codecs would live. Each kernel has one implementation.

Modules:
- :mod:`lakeshed.llm.text` — token counts, quality scoring, language ID,
  fingerprinting.
- :mod:`lakeshed.llm.dedup` — exact, MinHash-LSH, SimHash, n-gram Jaccard.
- :mod:`lakeshed.llm.similarity` — cosine top-k (brute force + LSH-bucketed).
- :mod:`lakeshed.llm.multimodal` — binary-column schema + stubbed decode.
- :mod:`lakeshed.llm.queries` — CORRECTNESS registry entries.
"""

from lakeshed.llm import dedup, multimodal, sampling, similarity, text  # noqa: F401
from lakeshed.llm._persist import release_persisted  # noqa: F401
