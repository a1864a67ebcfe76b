"""Operator library (SURVEY §2). Every operator is a pure
``DataFrame -> DataFrame`` function — composable, streaming-compatible.

Building a plan from Python costs one py4j round trip per JVM call, so two
rules hold for the operators on the ETL path:

* Constant expressions are built once per process: a Column that depends
  only on column names, rules or seeds comes from a ``functools.lru_cache``
  keyed on those hashable specs (a Column is a JVM expression tree not tied
  to a session, so it stays valid after ``spark.stop()`` and a new session).
* Each operator is one projection: its new and replaced columns go into
  one ``withColumns`` or ``select`` (``functions.project`` when columns are
  also dropped), a replaced column keeping its position, instead of a
  ``withColumn`` chain that runs the analyzer once per call.

The names below are the engine's public operator API; see COVERAGE.md for
the reference-operator → implementation map.
"""

from .aggregate import (  # noqa: F401
    collapse_first_wins,
    dense_ids,
    hash_ids,
    salted_count,
    sequence_code,
)
from .bloom import (  # noqa: F401
    bloom_decontaminate,
    bloom_might_contain,
    build_bloom,
)
from .categorize import build_rule_cascade, standardize_categories  # noqa: F401
from .dedup import (  # noqa: F401
    anti_join,
    dedup_distinct,
    dedup_keep_first,
    duplicate_report,
    incremental_dedup,
)
from .embed import HashEmbedder, embed_column  # noqa: F401
from .enrich import enrich_products  # noqa: F401
from .joins import (  # noqa: F401
    asof_join,
    lookup_map_join,
    range_join,
    resolve_key,
    zip_join,
)
from .llm import enrich_descriptions  # noqa: F401
from .multimodal import decode_and_featurize, sample_frames  # noqa: F401
from .neardup import (  # noqa: F401
    exact_dedup_by_content,
    minhash_lsh_pairs,
    minhash_signatures,
    neardup_filter,
    ngram_jaccard_pairs,
    segment_dedup,
    simhash_hamming_pairs,
)
from .normalize import explode_piped_pairs, snowflake_split  # noqa: F401
from .similarity import (  # noqa: F401
    cosine_similarity,
    l2_distance,
    pairs_above_threshold,
    topk_ann_lsh,
    topk_brute_force,
    topk_ivf,
    train_ivf_centroids,
)
from .template import product_document, template_document  # noqa: F401
from .sampling import (  # noqa: F401
    shuffle_shards,
    stratified_sample,
    train_val_test_split,
    weighted_sample,
)
from .textops import (  # noqa: F401
    fingerprint,
    fold_accents,
    lang_id,
    normalize_unicode,
    quality_features,
    simhash,
    token_count_regex,
    token_count_ws,
    vi_tokenize_column,
    winnow_fingerprints,
)
