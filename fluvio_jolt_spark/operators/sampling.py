"""Deterministic weighted sampling and consistent sharding operators.

Training-data pipelines need reproducible subset selection (priority /
weighted sampling for mixture construction, eval-set carving) and
stable shard assignment (rendezvous hashing, so adding a shard moves
only ~1/S of the keys instead of reshuffling everything).  Both are
pure hash arithmetic — no RNG state, no shuffle on the assignment
itself — so results are identical across runs, engines, partitionings
and cluster sizes, which is the property that matters when the same
100 TB corpus is re-sampled by many jobs.

These extend the engine past the reference's per-record transforms
(`fluvio-jolt/src/lib.rs:78-88`) into corpus-management territory the
reference delegates to its host pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import md5_60

_U60 = float(1 << 60)


def _unit_hash(col, hash_family: str):
    """Deterministic uniform u in (0, 1] from a key column.

    md5 lane: u = (h + 1) / 2^60 with h the 60-bit md5-derived hash —
    DuckDB reproduces it bit-for-bit (int64→double conversion and
    double division are IEEE-defined, so the same expression yields
    the same double in both engines).  xxhash64 is the fast production
    lane (same shape, JVM hash)."""
    if hash_family == "md5":
        h = md5_60(col.cast("string"))
        return (h + F.lit(1)).cast("double") / F.lit(_U60)
    h = F.pmod(F.xxhash64(col), F.lit(1 << 60))
    return (h + F.lit(1)).cast("double") / F.lit(_U60)


def priority_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    strata_cols: "list[str] | None" = None,
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Priority sampling (Duffield–Lund–Thorup): each row gets priority
    q = w / u with u a deterministic uniform in (0,1] derived from its
    id, and the k highest-priority rows (per stratum) are the sample.
    Priority sampling is near-optimal for weight-proportional subset
    selection and — unlike rejection or A-ES exponential-jump schemes —
    needs only a division, so the md5 lane is exactly reproducible in
    any IEEE-754 engine (no libm ln/pow whose last ulp differs across
    platforms).

    Rows with non-positive or NULL weight are excluded (they carry no
    sampling mass).  Ties (astronomically unlikely) break by id.

    100-TB shape: the priority is map-side arithmetic; selection is a
    per-stratum top-k — a partitioned row_number over the narrow
    (strata, priority, id) projection, never a global sort.  With no
    strata it degrades to one TakeOrderedAndProject-shaped top-k, which
    is fine for k ≪ n.  Changing k re-runs only the selection.

    Returns the sampled rows with ``priority`` and ``sample_rank``
    (1-based, within stratum) columns added."""
    gk = list(strata_cols or [])
    u = _unit_hash(F.col(id_col), hash_family)
    pri = F.col(weight_col).cast("double") / u
    out = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("priority", pri)
    w = Window.partitionBy(*gk).orderBy(
        F.col("priority").desc(), F.col(id_col).asc()
    )
    return out.withColumn("sample_rank", F.row_number().over(w)).filter(
        F.col("sample_rank") <= int(k)
    )


def rendezvous_shard(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    hash_family: str = "xxhash64",
    out_col: str = "shard",
) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding: shard(id) = argmax
    over s in [0, n_shards) of hash(id || '|' || s).  The consistent-
    hashing property: growing to n_shards+1 moves exactly the keys the
    new shard wins (~1/(n_shards+1) of them) and no key moves BETWEEN
    existing shards — the invariant a 100-TB corpus needs for stable
    bucket layouts, cache routing and incremental re-sharding, where a
    modulo re-hash would migrate (n-1)/n of all data.

    Map-only: the n_shards candidate hashes are one vectorized array
    expression per row (array_max over (hash, shard) structs — struct
    comparison is lexicographic, so ties break to the higher shard id,
    same as the oracle's ORDER BY hash DESC, s DESC).  Zero shuffle;
    keep n_shards ≤ a few hundred or switch to an explode+max_by shape.

    hash_family='md5' is the cross-engine-checkable lane."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")

    def _h(s: int):
        key = F.concat_ws("|", F.col(id_col).cast("string"), F.lit(str(s)))
        if hash_family == "md5":
            return md5_60(key)
        return F.xxhash64(key)

    scores = F.array(
        *[
            F.struct(_h(s).alias("h"), F.lit(s).alias("s"))
            for s in range(int(n_shards))
        ]
    )
    return df.withColumn(out_col, F.array_max(scores)["s"])


def hash_split(
    df: DataFrame,
    fractions: "dict[str, float]",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test carving: assign each row to a named
    split by cumulative-boundary test on a pure hash-uniform draw from
    its id.  No RNG state, so the assignment is identical across runs,
    engines, partitionings and cluster sizes — re-running the pipeline
    (or running eval extraction in a different job) always carves the
    same rows, which is the property that keeps eval sets leak-free
    when the same 100 TB corpus feeds many training jobs.

    ``fractions`` is an ordered name→fraction mapping summing to 1;
    boundaries are the Python-accumulated cumulative sums (float
    arithmetic is IEEE-reproducible, so any engine recomputing the same
    literals assigns identically).  The draw is u in (0, 1] from
    ``_unit_hash`` (md5 lane = cross-engine-checkable, xxhash64 =
    production).

    100-TB shape: map-side arithmetic only — a scan-side projection
    with zero shuffle; downstream per-split filters push straight into
    the same scan."""
    items = list(fractions.items())
    if len(items) < 1:
        raise ValueError("fractions must be non-empty")
    total = sum(f for _, f in items)
    if not 0.999999 <= total <= 1.000001:
        raise ValueError(f"fractions must sum to 1 (got {total})")
    u = _unit_hash(F.col(id_col), hash_family)
    assign = None
    for name, cum in split_boundaries(fractions):
        cond = u <= F.lit(cum)
        assign = F.when(cond, name) if assign is None else assign.when(cond, name)
    last = items[-1][0]
    assign = F.lit(last) if assign is None else assign.otherwise(last)
    return df.withColumn(split_col, assign)


def split_boundaries(fractions: "dict[str, float]") -> "list[tuple[str, float]]":
    """The cumulative boundaries ``hash_split`` compares against (all
    but the last split) — use these literals when reproducing the
    assignment in another engine."""
    items = list(fractions.items())
    out = []
    cum = 0.0
    for name, frac in items[:-1]:
        cum += frac
        out.append((name, cum))
    return out
