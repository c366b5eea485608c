"""Reusable column-expression builders (the engine's expression layer).

Everything here returns pyspark Columns built from JVM-side functions —
safe to compose inside whole-stage codegen, no Python in the hot path.
"""

from ..operators.dedup import content_hash, hamming64, word_shingles  # noqa: F401
from ..operators.similarity import cosine_sim_col, srp_bucket_col  # noqa: F401
from ..operators.text_analysis import tokens_col  # noqa: F401

from .epoch import ensure_ltz, ensure_ltz_all  # noqa: F401
