from .reshape import jolt_reshape, reference_bench_spec  # noqa: F401
from .window_features import backfill, with_turn_features  # noqa: F401
from .asof import asof_join, asof_join_salted  # noqa: F401
from .skew import with_turn_features_salted  # noqa: F401
from .dedup import (  # noqa: F401
    connected_components,
    exact_dedup,
    jaccard_verify,
    minhash_lsh_candidates,
    minhash_signatures,
    simhash,
    simhash_candidates,
)
from .similarity import (  # noqa: F401
    cosine_topk,
    embedding_near_dup,
    ivf_assign,
    ivf_topk,
    ivf_train_centroids,
    lsh_ann_topk,
)
from .encoders import (  # noqa: F401
    distinct_seen_count,
    feature_cross_hash,
    quantile_bin,
    target_encode_expanding,
)
from .text_analysis import with_fingerprint, with_token_counts  # noqa: F401
