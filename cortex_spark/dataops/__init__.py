from cortex_spark.dataops.dedup import (
    exact_dedup,
    minhash_signatures,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from cortex_spark.dataops.ann import ann_topk_bruteforce, ann_topk_lsh
from cortex_spark.dataops.textqc import text_quality_profile

__all__ = [
    "exact_dedup",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "ann_topk_bruteforce",
    "ann_topk_lsh",
    "text_quality_profile",
]
