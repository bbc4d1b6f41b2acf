from .urls import url_normalize_df, looks_url_like
from .numeric import to_double_nocomma, to_long, normalize_ctr
from .text import (
    normalized_text,
    token_count,
    bpe_ish_token_count,
    quality_score,
    lang_id_expr,
    fingerprint64,
)
from .vectors import dot

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
    "fingerprint64",
    "dot",
]
