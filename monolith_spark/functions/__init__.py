"""Public scalar/expression function library (SURVEY §2.5).

One import surface for every reusable expression builder the engine
defines, grouped by family. All are JVM-codegen expressions (no Python
UDFs) unless noted in their home module. The label and similarity
builders are column names in, one parsed SQL expression each (names
pass through ``labels.sql_name``).

- labels / signatures (E1/E2 analogs): canonical sorted-escaped
  signature, content-hash series id, matcher predicates
- time series: range trim, chunk predicate, validity filter
- text: tokenization (whitespace + BPE-style regex), language id,
  fingerprints, simhash
- similarity: deterministic fold dot/cosine, hyperplane LSH signatures
"""

from monolith_spark.labels import (
    EQ,
    NEQ,
    NRE,
    RE,
    LabelMatcher,
    exact_signature_predicate,
    label_value,
    matcher_predicate,
    python_signature,
    series_id_expr,
    signature_expr,
    signature_sql,
    superset_predicate,
)
from monolith_spark.operators.similarity import (
    cosine_expr,
    dot_expr,
    hyperplane_signature,
    hyperplane_signature_offset,
    norm_expr,
)
from monolith_spark.operators.text import (
    BPE_PATTERN,
    bpe_symbol_count_expr,
    winnow_fingerprints_expr,
    bpe_tokens_expr,
    fingerprint_md5,
    hash60_expr,
    lang_id_expr,
    min_shingle_fingerprint,
    punct_count,
    shingles_expr,
    stopword_count,
    token_count,
    tokens_expr,
)
from monolith_spark.operators.similarity import (
    jl_expr,
    pq_code_expr,
)
from monolith_spark.operators.sketches import (
    cms_bucket_expr,
    kmv_estimate,
    kmv_merge,
    kmv_sketch,
    cms_estimate,
    cms_merge,
    cms_sketch,
)
from monolith_spark.operators.timeseries import (
    chunk_pred,
    range_func_by_step,
    time_trim,
    valid_points,
)
from monolith_spark.operators.multimodal import (
    ahash64,
    audio_fingerprint45,
    video_fingerprint,
    decode_image,
    dhash64,
    encode_jpeg,
    encode_png,
    encode_ppm,
    encode_wav,
    encode_y4m,
    resize_image,
)
from monolith_spark.plans.zorder import (
    zvalue_expr,
)
from monolith_spark.plans.chunks import (
    chunk_range,
    decode_chunk_dir,
    encode_chunk_dir,
)

__all__ = [
    "EQ", "NEQ", "RE", "NRE", "LabelMatcher",
    "signature_expr", "series_id_expr", "python_signature", "signature_sql",
    "superset_predicate", "matcher_predicate", "exact_signature_predicate",
    "label_value",
    "valid_points", "time_trim", "chunk_pred",
    "chunk_range", "encode_chunk_dir", "decode_chunk_dir",
    "tokens_expr", "token_count", "bpe_tokens_expr", "BPE_PATTERN",
    "stopword_count", "punct_count", "lang_id_expr", "fingerprint_md5",
    "shingles_expr", "min_shingle_fingerprint", "hash60_expr",
    "dot_expr", "norm_expr", "cosine_expr", "winnow_fingerprints_expr",
    "hyperplane_signature", "hyperplane_signature_offset",
    "pq_code_expr", "jl_expr", "zvalue_expr",
    "range_func_by_step",
    "cms_sketch", "cms_estimate", "cms_merge", "cms_bucket_expr",
    "kmv_sketch", "kmv_merge", "kmv_estimate", "bpe_symbol_count_expr",
    "decode_image", "encode_ppm", "encode_png", "encode_jpeg",
    "encode_wav", "encode_y4m", "resize_image",
    "ahash64", "dhash64", "audio_fingerprint45", "video_fingerprint",
]
