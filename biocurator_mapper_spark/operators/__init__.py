from .mentions import AhoCorasick, with_mentions, mention_candidates
from .topk import broadcast_topk, brute_force_topk_join
from .rerank import parse_llm_json
from .canonicalize import connected_components, canonical_mapping
from .chunking import chunk_documents, chunk_struct_array

__all__ = [
    "AhoCorasick",
    "with_mentions",
    "mention_candidates",
    "broadcast_topk",
    "brute_force_topk_join",
    "parse_llm_json",
    "connected_components",
    "canonical_mapping",
    "chunk_documents",
    "chunk_struct_array",
]
