from .urls import url_normalize_df, looks_url_like
from .numeric import to_double_nocomma, to_long, normalize_ctr
from .text import (
    normalized_text,
    token_count,
    bpe_ish_token_count,
    quality_score,
    lang_id_expr,
    strip_html,
    fingerprint64,
    shingles,
)
from .vectors import cosine_similarity, dot, l2_norm

__all__ = [
    "url_normalize_df",
    "looks_url_like",
    "to_double_nocomma",
    "to_long",
    "normalize_ctr",
    "normalized_text",
    "token_count",
    "bpe_ish_token_count",
    "quality_score",
    "lang_id_expr",
    "strip_html",
    "fingerprint64",
    "shingles",
    "cosine_similarity",
    "dot",
    "l2_norm",
]
