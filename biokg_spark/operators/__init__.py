from biokg_spark.operators.canonicalize import (
    derive_id_mapping_lsh,
    fuzzy_canonicalize,
)
from biokg_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from biokg_spark.operators.edges import (
    canonical_undirected,
    conflict_exclusion,
    union_refs,
)
from biokg_spark.operators.hierarchy import expand_prefixes
from biokg_spark.operators.mentions import scan_mentions
from biokg_spark.operators.similarity import cosine_topk, lsh_bucketed_topk
from biokg_spark.operators.skew import salt_join, salted_collect_set
from biokg_spark.operators.stanzas import (
    assemble_stanzas,
    assign_segments,
    prefix_multiplex,
)
from biokg_spark.operators.xmlscan import xml_extract_records

__all__ = [
    "scan_mentions",
    "canonical_undirected",
    "conflict_exclusion",
    "union_refs",
    "expand_prefixes",
    "salt_join",
    "salted_collect_set",
    "exact_dedup",
    "minhash_signatures",
    "minhash_lsh_candidates",
    "ngram_jaccard_pairs",
    "simhash",
    "cosine_topk",
    "lsh_bucketed_topk",
    "fuzzy_canonicalize",
    "derive_id_mapping_lsh",
    "assemble_stanzas",
    "assign_segments",
    "prefix_multiplex",
    "xml_extract_records",
]
