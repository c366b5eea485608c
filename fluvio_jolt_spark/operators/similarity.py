"""Similarity search over embedding columns (array<float>).

* ``cosine_topk``      — brute-force exact top-k vs one query vector:
                         Catalyst higher-order functions (zip_with /
                         aggregate), one pass, no Python. The baseline.
* ``lsh_ann_topk``     — random-hyperplane (SRP) LSH bucketing: probe
                         only vectors sharing the query's bucket (and
                         optionally neighboring buckets); the scale path
                         — the expensive exact scoring touches a small
                         candidate slice.
* ``ivf_assign/ivf_topk`` — IVF-flat: k-means-lite centroids (sampled,
                         driver-side, deterministic), cluster assignment
                         as a column; queries probe nprobe clusters.
                         Pre-partitioning by cluster id = partition
                         pruning for vector search.
* ``embedding_near_dup`` — all-pairs near-duplicate via SRP-LSH blocking
                         + exact cosine verify on candidates.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def cosine_sim_col(vec_col, query: list[float]):
    """cos(v, q) as a Catalyst expression (fold-left dot + norms)."""
    q = [float(x) for x in query]
    qlit = F.array(*[F.lit(x) for x in q])
    v = _as_double(vec_col)
    dot = F.aggregate(F.zip_with(v, qlit, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x)
    vnorm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda s, x: s + x * x))
    qnorm = math.sqrt(sum(x * x for x in q))
    return dot / (vnorm * F.lit(qnorm))


def cosine_topk(
    df: DataFrame, query: list[float], k: int = 10, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    scored = df.select(id_col, cosine_sim_col(F.col(vec_col), query).alias("cos_sim"))
    # orderBy().limit(k) → TakeOrderedAndProject: per-partition heaps,
    # only k rows per partition reach the driver-side merge. A global
    # Window.orderBy here would shuffle ALL rows to one task.
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


# ---- SRP-LSH ----


def _srp_planes(dims: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_planes, dims))


def srp_bucket_col(vec_col, planes: np.ndarray):
    """Sign-random-projection bucket id (one long) as a Catalyst
    expression: sum of bits from per-plane dot products. The reference
    semantics — ``srp_buckets_udf`` is the vectorized production twin
    and is parity-pinned against this column."""
    v = _as_double(vec_col)
    acc = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plit = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(F.zip_with(v, plit, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x)
        acc = acc + F.when(dot >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return acc


def srp_buckets_udf(plane_sets: "list[np.ndarray]"):
    """All SRP table buckets in ONE Arrow-vectorized pass: a pandas UDF
    returning array<long> (one bucket per plane set), bit-exact to
    ``srp_bucket_col`` per element.

    Why it exists: the Catalyst expression runs the plane dot products
    as interpreted higher-order lambdas — n_tables × n_planes folds of
    dims elements per row, never codegen'd. numpy does the identical
    IEEE-754 arithmetic vectorized: elementwise binary64 multiply is
    the same op as the zip_with product, and
    ``np.add.accumulate(...)[:, -1]`` IS the expression's sequential
    left fold (accumulate is defined as running left-to-right
    application, and the fold's 0.0 seed is additive identity for
    every binary64 except -0.0, whose sign never survives a >= 0
    comparison). NaN dots set the bit, because Spark SQL orders NaN
    LARGER than every numeric (``NaN >= 0`` is true) — numpy's
    IEEE-false NaN comparison is explicitly OR'd with isnan to match.
    Whole-NULL rows get bucket 0 (as in the expression path). The one
    DOCUMENTED divergence: a NULL *element* inside a vector — Spark's
    Arrow transfer erases element-level null-vs-NaN, so such rows hash
    as NaN vectors (all bits set) where the expression path gives 0;
    both are garbage-in placements of a malformed row, and the parity
    test pins the divergence explicitly. The parity test drives both
    columns over random, near-orthogonal, null and NaN vectors."""
    from pyspark.sql.functions import pandas_udf

    sets = [np.ascontiguousarray(p, dtype=np.float64) for p in plane_sets]

    @pandas_udf("array<long>")
    def _buckets(vs: pd.Series) -> pd.Series:
        n = len(vs)
        rows = vs.tolist()
        good = np.array([r is not None for r in rows], dtype=bool)
        out = np.zeros((n, len(sets)), dtype=np.int64)
        if good.any():
            m = np.array(
                [
                    [np.nan if x is None else float(x) for x in rows[i]]
                    for i in np.flatnonzero(good)
                ],
                dtype=np.float64,
            )
            for t, planes in enumerate(sets):
                acc = np.zeros(len(m), dtype=np.int64)
                for i in range(planes.shape[0]):
                    dot = np.add.accumulate(m * planes[i], axis=1)[:, -1]
                    acc |= ((dot >= 0) | np.isnan(dot)).astype(np.int64) << i
                out[np.flatnonzero(good), t] = acc
        return pd.Series([r.tolist() for r in out])

    return _buckets


def lsh_ann_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    probe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only vectors whose SRP bucket is within
    probe_hamming bits of the query's bucket. At scale the table is
    written partitioned by bucket → partition pruning makes the probe
    read ~ (multiprobed buckets / 2^n_planes) of the data."""
    dims = len(query)
    planes = _srp_planes(dims, n_planes, seed)
    q = np.asarray(query, dtype=np.float64)
    qbucket = int(sum((1 << i) for i, p in enumerate(planes) if float(p @ q) >= 0))
    probe = [qbucket]
    if probe_hamming >= 1:
        probe += [qbucket ^ (1 << i) for i in range(n_planes)]
    if probe_hamming >= 2:
        probe += [
            qbucket ^ (1 << i) ^ (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]

    from fluvio_jolt_spark.operators.partitioning import fan_out

    bucketed = fan_out(df).withColumn(
        "_bucket", srp_bucket_col(F.col(vec_col), planes)
    )
    candidates = bucketed.filter(F.col("_bucket").isin(probe))
    return cosine_topk(candidates, query, k, vec_col, id_col)


def ann_batch_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    n_planes: int = 8,
    probe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k for a BATCH of query vectors in one job — the
    realistic retrieval shape (embed a query set, probe the corpus
    once) vs per-query driver loops.

    Plan: SRP-bucket both sides with the same planes; expand each
    query into its multiprobe bucket set (≤ probe_hamming bit flips)
    on the SMALL side; broadcast the expanded queries and equi-join on
    bucket (each data vector has one bucket, so it meets each query at
    most once — no distinct needed); exact cosine on the surviving
    pairs; per-query top-k via a PARTITIONED row_number window (never
    a global sort). At scale with the corpus stored partitioned by
    bucket, the join's probe side prunes to the probed buckets.
    """
    first = queries.select(vec_col).first()
    dims = len(first[0])
    planes = _srp_planes(dims, n_planes, seed)

    from fluvio_jolt_spark.operators.partitioning import fan_out

    data = fan_out(df).select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("_v"),
        srp_bucket_col(F.col(vec_col), planes).alias("_bucket"),
    )
    q = queries.select(
        F.col(query_id_col),
        _as_double(F.col(vec_col)).alias("_qv"),
        srp_bucket_col(F.col(vec_col), planes).alias("_qb"),
    )
    probes = [F.col("_qb")]
    if probe_hamming >= 1:
        probes += [F.col("_qb").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
    if probe_hamming >= 2:
        probes += [
            F.col("_qb").bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    qx = q.select(
        query_id_col, "_qv", F.explode(F.array(*probes)).alias("_bucket")
    )
    joined = data.join(F.broadcast(qx), "_bucket")
    dot = F.aggregate(
        F.zip_with(F.col("_v"), F.col("_qv"), lambda a, b: a * b),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    norm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda s, x: s + x * x))  # noqa: E731
    scored = joined.select(
        query_id_col,
        id_col,
        (dot / (norm(F.col("_v")) * norm(F.col("_qv")))).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def embedding_near_dup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 12,
    threshold: float = 0.95,
    seed: int = 42,
    n_tables: int = 1,
    bucket_cap: "int | None" = None,
) -> DataFrame:
    """All-pairs near-duplicate detection: banded SRP-LSH blocking →
    exact cosine verify on candidates. Returns (id_a, id_b, cos_sim).

    Banding (n_tables > 1) is the same OR-construction as minhash
    bands: each table hashes with an INDEPENDENT plane set (seed + t),
    a pair is a candidate if it collides in ANY table. That lets each
    table use enough planes that expected bucket size stays bounded
    (2^n_planes buckets/table) while the union of tables recovers the
    recall a single coarse table would need huge buckets for — a pair
    at cosine θ survives with 1 - (1 - p^n_planes)^n_tables,
    p = 1 - acos(θ)/π.

    Scale shape: the candidate self-join shuffles only
    (id, table, bucket) — vectors are joined back per-id for the verify
    stage, so no vector ever rides the blocking shuffle; bucket_cap
    (see dedup._cap_buckets) bounds pathological buckets the same way
    as the minhash pipeline. With n_tables=1, bucket_cap=None this
    degenerates to classic single-table SRP blocking (same pairs)."""
    from fluvio_jolt_spark.operators.dedup import _cap_buckets

    # sample one row to get dims
    first = df.select(vec_col).first()
    dims = len(first[0])
    # all tables' buckets in one Arrow-vectorized pass (bit-exact to the
    # srp_bucket_col expression — see srp_buckets_udf), then posexplode
    # into the narrow (id, tbl, bucket) blocking frame
    plane_sets = [_srp_planes(dims, n_planes, seed + t) for t in range(n_tables)]
    from fluvio_jolt_spark.operators.partitioning import fan_out

    df = fan_out(df)
    keyed = df.select(
        F.col(id_col),
        F.posexplode(srp_buckets_udf(plane_sets)(F.col(vec_col))).alias(
            "tbl", "bucket"
        ),
    )
    if bucket_cap is not None:
        keyed = _cap_buckets(keyed, ["tbl", "bucket"], bucket_cap)
    # materialize the narrow (id, tbl, bucket) frame once: a self-join
    # of a lazy frame computes the SRP projection for BOTH sides, and
    # the plane dot products run as interpreted higher-order lambdas —
    # the single most expensive expression in the plan. ~24 B/row×table
    # on executor storage, a vanishing fraction of the vectors themselves.
    keyed = keyed.localCheckpoint(eager=True)
    l, r = keyed.alias("l"), keyed.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.tbl") == F.col("r.tbl"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )
    # each vector's norm once per id, beside the vector, so the verify
    # stage runs only the dot-product fold per pair; the norm is the same
    # fold over the same doubles, so dot / (na * nb) is bit-identical
    vecs = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v")).select(
        id_col, "_v",
        F.sqrt(F.aggregate("_v", F.lit(0.0), lambda s, x: s + x * x)).alias("_n"),
    )

    def side(s: str) -> DataFrame:
        return vecs.select(F.col(id_col).alias(f"id_{s}"), F.col("_v").alias(f"_v{s}"),
                           F.col("_n").alias(f"_n{s}"))

    joined = cands.join(side("a"), "id_a").join(side("b"), "id_b")
    dot = F.aggregate(
        F.zip_with(F.col("_va"), F.col("_vb"), lambda a, b: a * b),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    sim = dot / (F.col("_na") * F.col("_nb"))
    return joined.select("id_a", "id_b", sim.alias("cos_sim")).filter(
        F.col("cos_sim") >= threshold
    )


# ---- IVF-flat ----


def ivf_train_centroids(
    df: DataFrame, n_centroids: int = 16, vec_col: str = "embedding", seed: int = 42,
    sample_rows: int = 2048, iters: int = 5
) -> np.ndarray:
    """Deterministic k-means-lite on a bounded driver-side sample.

    The sample is the sample_rows smallest rows by xxhash64(vector) — a
    uniform, ORDER-INDEPENDENT pseudo-random draw (a plain .limit()
    would take the first rows of the first partitions, biasing the
    centroids on sorted/clustered layouts). orderBy().limit() executes
    as TakeOrderedAndProject: per-partition heaps of sample_rows, so at
    100 TB the driver still receives exactly sample_rows rows and
    training cost does not grow with data."""
    sample = (
        df.select(vec_col).orderBy(F.xxhash64(F.col(vec_col))).limit(sample_rows).collect()
    )
    x = np.array([list(r[0]) for r in sample], dtype=np.float64)
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for c in range(len(cents)):
            m = x[assign == c]
            if len(m):
                cents[c] = m.mean(0)
    return cents


def ivf_assign(df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding") -> DataFrame:
    """Cluster-id column via argmin distance — vectorized numpy in Arrow
    batches (BLAS), broadcastable centroid matrix."""
    cents = centroids.astype(np.float64)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = (m * m).sum(1)[:, None] - 2 * (m @ cents.T) + (cents * cents).sum(1)[None, :]
            pdf = pdf.copy()
            pdf["ivf_cluster"] = d.argmin(1).astype("int32")
            yield pdf

    from pyspark.sql import types as T

    # build a fresh StructType — StructType.add would mutate the
    # DataFrame's cached schema object in place
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField("ivf_cluster", T.IntegerType(), False)]
    )
    from fluvio_jolt_spark.operators.partitioning import fan_out

    return fan_out(df).mapInPandas(assign, schema=schema)


def ivf_topk(
    assigned: DataFrame,
    centroids: np.ndarray,
    query: list[float],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the nprobe nearest clusters only. When `assigned` is stored
    partitioned by ivf_cluster, the filter prunes partitions at scan."""
    q = np.asarray(query, dtype=np.float64)
    d = ((centroids - q) ** 2).sum(1)
    probe = [int(c) for c in d.argsort()[:nprobe]]
    return cosine_topk(
        assigned.filter(F.col("ivf_cluster").isin(probe)), query, k, vec_col, id_col
    )


def group_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mean-pool (centroid/prototype) vector per group — the cluster
    summarization primitive: class prototypes for semantic diversity
    metrics, cluster centers for dedup triage, mean-pooled
    conversation/source embeddings for corpus-level similarity.

    Shape at 10^12 rows: posexplode to (group, pos, component) and
    partial-agg'd avg keyed by (group, pos) — the shuffle carries one
    partial (sum, count) pair per (group, pos) per map partition, i.e.
    O(|groups| * dims) per task regardless of row count. Reassembly
    sorts the <= dims collected structs per group. No joins, no
    Python.

    Returns (group_col, n, centroid array<double>)."""
    ex = df.select(
        F.col(group_col),
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("pos", "v"),
    )
    per = ex.groupBy(group_col, "pos").agg(
        F.avg("v").alias("v"), F.count(F.lit(1)).alias("n")
    )
    return per.groupBy(group_col).agg(
        F.max(F.when(F.col("pos") == 0, F.col("n"))).alias("n"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))),
            lambda s: s["v"],
        ).alias("centroid"),
    )


def centroid_pairwise_cosine(
    centroids_df: DataFrame,
    group_col: str = "label",
    decimals: int = 4,
) -> DataFrame:
    """All-pairs cosine similarity among group centroids (group_a <
    group_b) — the inter-cluster similarity matrix.

    The centroid table is bounded by the number of GROUPS (classes,
    clusters), not rows, so it is collected driver-side (same bounded-
    collect contract as the IVF centroid sample) and re-attached as an
    exploded literal array: a map-side explode+filter, NO join node —
    a naive `a.group < b.group` theta-self-join would plan as a
    BroadcastNestedLoopJoin, which the repo's plan-hygiene gate
    rejects. O(k^2) pairs stay distributed across the k-row frame."""
    rows = centroids_df.select(group_col, "n", "centroid").collect()
    lit_rows = F.array(*[
        F.struct(
            F.lit(r[group_col]).alias("g"),
            F.lit(int(r["n"])).alias("n"),
            F.array(*[F.lit(float(x)) for x in r["centroid"]]).alias("c"),
        )
        for r in rows
    ])
    paired = (
        centroids_df.withColumn("_b", F.explode(lit_rows))
        .filter(F.col(group_col) < F.col("_b.g"))
    )
    dot = F.aggregate(
        F.zip_with(F.col("centroid"), F.col("_b.c"), lambda a, b: a * b),
        F.lit(0.0),
        lambda s, x: s + x,
    )

    def _norm(c):
        return F.sqrt(F.aggregate(c, F.lit(0.0), lambda s, x: s + x * x))

    return paired.select(
        F.col(group_col).alias("group_a"),
        F.col("_b.g").alias("group_b"),
        F.col("n").alias("n_a"),
        F.col("_b.n").alias("n_b"),
        F.round(
            dot / (_norm(F.col("centroid")) * _norm(F.col("_b.c"))), decimals
        ).alias("cos_sim"),
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    n_bits: int = 8,
) -> DataFrame:
    """Per-vector scalar quantization (the faiss-SQ storage trade): map
    each component onto 2^bits − 1 uniform levels between the vector's
    own min and max, keeping only the codes + 2 floats per vector — a
    ~4× (fp32→int8) footprint cut, which at a 100-TB embedding store is
    the difference between RAM-resident ANN and disk thrash.  Emits the
    codes and the reconstruction-quality stats that decide whether the
    trade is safe (mean/max absolute dequantization error).

    Map-only vectorized array arithmetic — zero shuffle, no UDF.  Every
    step (min/max, (x−mn)/scale, floor(·+0.5), dequantize, error fold)
    is IEEE-deterministic on identical inputs, so the oracle reproduces
    values bit-for-bit before the final rounding; the error fold runs
    in list order on both engines.  A constant vector (mx == mn) has
    scale 0: all codes 0, zero error (guarded CASE both sides).

    Adds: q_codes (array<long>), q_min, q_scale, n_dims, mean_abs_err,
    max_abs_err."""
    levels = float((1 << int(n_bits)) - 1)
    from fluvio_jolt_spark.operators.partitioning import fan_out

    df = fan_out(df)
    v = _as_double(F.col(vec_col))
    # r6: bind min/scale to real columns BEFORE the per-element lambdas —
    # an inline array_min/array_max captured by transform()'s lambda is
    # re-evaluated per element (O(d²) per row; measured 15.8 s → sub-s at
    # sf1.0); as bound attributes they cost once per row. Same IEEE ops
    # per element, so codes and errors are bit-identical.
    df = df.withColumn("_q_mn", F.array_min(v)).withColumn(
        "_q_scale", (F.array_max(v) - F.col("_q_mn")) / F.lit(levels)
    )
    mn = F.col("_q_mn")
    scale = F.col("_q_scale")
    zero = scale == F.lit(0.0)
    codes = F.when(zero, F.transform(v, lambda x: F.lit(0).cast("long"))).otherwise(
        F.transform(
            v,
            lambda x: F.least(
                F.greatest(F.floor((x - mn) / scale + F.lit(0.5)), F.lit(0)),
                F.lit(int(levels)),
            ),
        )
    )
    df = (
        df.withColumn("q_min", mn)
        .withColumn("q_scale", F.when(zero, F.lit(0.0)).otherwise(scale))
        .withColumn("q_codes", codes)
        .withColumn("n_dims", F.size(F.col(vec_col)))
    )
    dq = F.zip_with(
        _as_double(F.col(vec_col)),
        F.col("q_codes"),
        lambda x, q: F.abs(x - (F.col("q_min") + q.cast("double") * F.col("q_scale"))),
    )
    # materialize the per-element error array once; mean and max fold
    # over the same bound column instead of two copies of the zip_with
    return (
        df.withColumn("_q_dq", dq)
        .withColumn(
            "mean_abs_err",
            F.aggregate("_q_dq", F.lit(0.0), lambda s, x: s + x)
            / F.col("n_dims").cast("double"),
        )
        .withColumn("max_abs_err", F.array_max("_q_dq"))
        .drop("_q_mn", "_q_scale", "_q_dq")
    )


def label_agreement(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    n_planes: int = 6,
    threshold: float = 0.4,
    seed: int = 42,
    n_tables: int = 1,
    bucket_cap: "int | None" = None,
    min_neighbors: int = 3,
) -> DataFrame:
    """Label-noise detection by neighborhood agreement: for every
    vector, the fraction of its cosine>=threshold neighbors (from the
    banded-SRP candidate graph) that carry the SAME label.  A row whose
    neighborhood disagrees (agreement < 0.5 with >= min_neighbors
    neighbors) is a relabel/review suspect — the standard
    confident-learning-style dataset-validation signal, here computed
    purely from the already-blocked candidate graph instead of an
    all-pairs kNN.

    100-TB shape: inherits ``embedding_near_dup``'s blocking (vectors
    never ride the blocking shuffle, buckets capped); on top of it only
    (id, neighbor) edges + two narrow label joins + one hash-agg move.
    Isolated vectors report 0 neighbors / NULL agreement / not-suspect,
    never a false positive.

    Returns (id, label, n_neighbors, n_agree, agreement, suspect)."""
    cands = embedding_near_dup(
        df,
        vec_col=vec_col,
        id_col=id_col,
        n_planes=n_planes,
        threshold=threshold,
        seed=seed,
        n_tables=n_tables,
        bucket_cap=bucket_cap,
    )
    edges = cands.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("nb")
    ).unionAll(cands.select(F.col("id_b").alias("id"), F.col("id_a").alias("nb")))
    labels = df.select(
        F.col(id_col).cast("long").alias("id"), F.col(label_col).alias("lbl")
    )
    nb_labels = labels.select(
        F.col("id").alias("nb"), F.col("lbl").alias("nb_lbl")
    )
    agg = (
        edges.join(labels, "id")
        .join(nb_labels, "nb")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.sum((F.col("nb_lbl") == F.col("lbl")).cast("long")).alias("n_agree"),
        )
    )
    agreement = F.col("n_agree").cast("double") / F.col("n_neighbors")
    return (
        labels.join(agg, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("lbl").alias(label_col),
            F.coalesce("n_neighbors", F.lit(0)).cast("long").alias("n_neighbors"),
            F.coalesce("n_agree", F.lit(0)).cast("long").alias("n_agree"),
            F.round(agreement, 6).alias("agreement"),
            F.coalesce(
                (F.col("n_neighbors") >= int(min_neighbors))
                & (agreement < 0.5),
                F.lit(False),
            ).alias("suspect"),
        )
    )


def hard_negatives(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    sim_lo: float = 0.2,
    sim_hi: float = 0.8,
    per_anchor: int = 2,
    n_planes: int = 6,
    seed: int = 42,
    n_tables: int = 1,
    bucket_cap: "int | None" = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every anchor
    vector, the top-k OTHER-labeled neighbors whose cosine falls in
    [sim_lo, sim_hi) — similar enough to be informative, not so similar
    they're label noise (route those through ``label_agreement``).
    Easy negatives (random rows) teach nothing at scale; mining from
    the ANN candidate graph is the standard retrieval/embedding
    training recipe.

    100-TB shape: inherits the banded-SRP blocking (vectors never ride
    the blocking shuffle, buckets capped); the band filter is applied
    on verified candidate pairs, and per-anchor top-k is a partitioned
    row_number over the narrow (anchor, negative, cos) projection —
    never a global sort.

    Returns (anchor_id, negative_id, cos_sim, anchor_label,
    negative_label, neg_rank)."""
    cands = embedding_near_dup(
        df,
        vec_col=vec_col,
        id_col=id_col,
        n_planes=n_planes,
        threshold=sim_lo,
        seed=seed,
        n_tables=n_tables,
        bucket_cap=bucket_cap,
    ).select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")
    ).filter(F.col("cos_sim") < sim_hi)
    # rank on the 6dp-rounded cosine (+ id tie-break): rounding pins the
    # ordering against last-ulp summation differences across engines
    edges = cands.select(
        F.col("id_a").alias("anchor_id"),
        F.col("id_b").alias("negative_id"),
        "cos_sim",
    ).unionAll(
        cands.select(
            F.col("id_b").alias("anchor_id"),
            F.col("id_a").alias("negative_id"),
            "cos_sim",
        )
    )
    labels = df.select(
        F.col(id_col).cast("long").alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
    )
    neg_labels = df.select(
        F.col(id_col).cast("long").alias("negative_id"),
        F.col(label_col).alias("negative_label"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), F.col("negative_id").asc()
    )
    return (
        edges.join(labels, "anchor_id")
        .join(neg_labels, "negative_id")
        .filter(F.col("negative_label") != F.col("anchor_label"))
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= int(per_anchor))
        .select(
            "anchor_id",
            "negative_id",
            "cos_sim",
            "anchor_label",
            "negative_label",
            "neg_rank",
        )
    )
