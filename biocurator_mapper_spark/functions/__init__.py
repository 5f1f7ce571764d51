from .embed import (
    EMBED_DIM,
    EMBED_MODEL_STUB,
    hash_embed_py,
    cosine_expr,
    certainty_expr,
)
from .exprs import let_expr
from .text import (
    curie_normalize,
    with_url_host,
    token_count,
    quality_struct,
    repetition_struct,
    lang_id_expr,
    doc_fingerprint,
    truncate_with_ellipsis,
)

__all__ = [
    "let_expr",
    "EMBED_DIM",
    "EMBED_MODEL_STUB",
    "hash_embed_py",
    "cosine_expr",
    "certainty_expr",
    "curie_normalize",
    "with_url_host",
    "token_count",
    "quality_struct",
    "repetition_struct",
    "lang_id_expr",
    "doc_fingerprint",
    "truncate_with_ellipsis",
]
