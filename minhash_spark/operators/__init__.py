from .signatures import with_minhash_signature
from .lsh import band_keys, bands_table, candidate_pairs, bucket_stats
from .verify import verify_pairs
from .cluster import connected_components
from .exact import exact_dup_groups, dedup_exact
from .simhash import with_simhash, simhash_candidates
from .substring import containment_candidates, verify_containment, substring_dedup
from .ngram import ngrams_col, jaccard_col, ngram_jaccard_pairs
from .text import token_count, with_fingerprint

__all__ = [
    "with_minhash_signature",
    "band_keys",
    "bands_table",
    "candidate_pairs",
    "bucket_stats",
    "verify_pairs",
    "connected_components",
    "exact_dup_groups",
    "dedup_exact",
    "with_simhash",
    "simhash_candidates",
    "containment_candidates",
    "verify_containment",
    "substring_dedup",
    "ngrams_col",
    "jaccard_col",
    "ngram_jaccard_pairs",
    "token_count",
    "with_fingerprint",
]
