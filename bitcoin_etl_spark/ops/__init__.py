"""Training-data pipeline operators (the 100 TB-pipeline additions the
graft brief mandates beyond reference parity): deduplication families,
similarity search, text analysis, multimodal column plumbing.

All operators are DataFrame/Column compositions (JVM-side, codegen'd);
Python appears only in Arrow-batched stages (``mapInPandas`` minhash
and fingerprint hashing, ``applyInPandas`` packing, the multimodal
decode stubs, a ``pandas_udf`` cosine score). Several are also exposed
as oracle-checked queries in ``plans.queries``.
"""

from .text import (  # noqa: F401
    tokenize, quality_stats, langid_scores, fingerprint, winnow_fingerprints,
)
from .dedup import (  # noqa: F401
    connected_components,
    contamination_pairs,
    dedup_keep_policy,
    exact_dedup,
    hamming_near_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    winnow_candidate_pairs,
)
from .similarity import (  # noqa: F401
    cosine_topk,
    embedding_near_dup_pairs,
    ivf_assign,
    lsh_bucket,
    ranked_topk,
)
from .multimodal import extract_features, sample_frames, synthesize_media  # noqa: F401
from .sampling import stratified_sample  # noqa: F401
from .packing import chunk_by_token_budget, greedy_pack  # noqa: F401
from .temporal import asof_join, range_join_buckets, sessionize  # noqa: F401
from .sketch import kmv_distinct  # noqa: F401
