"""Dedup + similarity operators over the driver's documents/embeddings
tables, with brute-force oracles computed in numpy/python."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from fluvio_jolt_spark.operators.dedup import (
    exact_dedup,
    jaccard_verify,
    minhash_lsh_candidates,
    minhash_signatures,
    simhash,
    simhash_candidates,
)
from fluvio_jolt_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup,
    ivf_assign,
    ivf_topk,
    ivf_train_centroids,
    lsh_ann_topk,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet")
    # add controlled duplicates + near-duplicates
    dup = df.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    near = (
        df.limit(5)
        .withColumn("doc_id", F.col("doc_id") + 200000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra token")))
    )
    return df.unionByName(dup).unionByName(near)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


# Default-family (xxhash64) simhash fingerprints and 8-member minhash
# signatures of fixed docs, pinned from the earlier build that assembled
# these wide expressions from per-Column calls; the SQL-string build must
# reproduce them exactly. (The md5 family is value-checked by the
# simhash_docs / minhash_lsh_docs DuckDB oracles.)
FIXED_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "lorem ipsum dolor sit amet consectetur"),
    (4, "spark"),
]
XXHASH_SIMHASH = {
    1: -7573889167326994222,
    2: -7573326217371541038,
    3: 291355278463488016,
    4: -1960931134668248110,
}
XXHASH_MINHASH = {
    1: [-7526567701951179316, -3852586997419460549, -8867447697322737600, -3134887495879601404,
        -8108882996475918782, -8867486211881703012, -8200088960888482637, -4886712486153508225],
    2: [-5802413506945132427, -3852586997419460549, -6221601534664984183, -3134887495879601404,
        -8108882996475918782, -7790663405383987669, -7400761947062928291, -3133361094225044761],
    3: [-3818406516989703114, -4767513760228713700, -4995551965190013198, -8833303729439705644,
        -7022945571440959465, -7299604345043861689, -5879778754195108155, -8064871363854417124],
    4: [-6255646129004923430, -5929433471247939172, 3088537010953713893, 7929008332982111475,
        -3383924761919486210, 5466443031337142930, -6853763074316256693, 428332904493527255],
}


def test_xxhash_simhash_and_minhash_pinned(spark):
    docs = spark.createDataFrame(FIXED_DOCS, "doc_id long, text string")
    assert {r.doc_id: r.simhash for r in simhash(docs).collect()} == XXHASH_SIMHASH
    sigs = minhash_signatures(docs, num_hashes=8).collect()
    assert {r.doc_id: list(r.minhash) for r in sigs} == XXHASH_MINHASH


def test_exact_dedup_finds_planted_dups(spark, docs):
    out = exact_dedup(docs).toPandas()
    dups = out[out.n_copies > 1]
    assert set(dups[~dups.is_canonical].doc_id) == {100000, 100001, 100002, 100003, 100004}
    originals = out[out.doc_id < 100000]
    assert (originals[originals.n_copies == 1].is_canonical).all()


def test_minhash_lsh_finds_exact_and_near_dups(spark, docs):
    cands = minhash_lsh_candidates(docs, num_hashes=32, bands=16).toPandas()
    pairs = set(map(tuple, cands[["id_a", "id_b"]].to_numpy()))
    for i in range(5):
        assert (i, i + 100000) in pairs, f"exact dup {i} not a candidate"
    found_near = sum((i, i + 200000) in pairs for i in range(5))
    assert found_near >= 3, f"only {found_near}/5 near-dups blocked"


def test_lsh_verify_pipeline(spark, docs):
    cands = minhash_lsh_candidates(docs, num_hashes=32, bands=16)
    verified = jaccard_verify(cands, docs, threshold=0.8).toPandas()
    pairs = set(map(tuple, verified[["id_a", "id_b"]].to_numpy()))
    for i in range(5):
        assert (i, i + 100000) in pairs
    assert (verified.jaccard >= 0.8).all()


def test_minhash_signature_shape(spark, docs):
    sig = minhash_signatures(docs.limit(10), num_hashes=16).toPandas()
    assert all(len(s) == 16 for s in sig.minhash)


def test_simhash_identical_docs_same_fp(spark, docs):
    fps = simhash(docs).toPandas().set_index("doc_id")["simhash"]
    for i in range(5):
        assert fps[i] == fps[i + 100000]


def test_simhash_candidates_find_dups(spark, docs):
    cands = simhash_candidates(docs, max_hamming=3).toPandas()
    pairs = set(map(tuple, cands[["id_a", "id_b"]].to_numpy()))
    for i in range(5):
        assert (i, i + 100000) in pairs


@pytest.fixture(scope="module")
def docs_mass_cluster(spark, docs):
    """docs + a planted mass-duplicate cluster: 10^4 byte-identical
    copies of doc 0 — the pathology that makes an uncapped LSH bucket
    quadratic (10^4 copies -> ~5*10^7 pairs PER BAND)."""
    text0 = docs.filter(F.col("doc_id") == 0).first()["text"]
    cluster = spark.range(10_000).select(
        (F.col("id") + 500_000).alias("doc_id"), F.lit(text0).alias("text")
    )
    return docs.select("doc_id", "text").unionByName(cluster)


def test_minhash_bucket_cap_tames_mass_cluster(spark, docs_mass_cluster):
    """With bucket_cap, the planted 10^4-copy cluster contributes ZERO
    candidate pairs (its buckets are all over cap) and the job stays
    O(n*k): the candidate count is bounded by the healthy corpus's.
    Uncapped, the same input would emit ~4*10^8 pairs (infeasible here —
    which is the point)."""
    cands = minhash_lsh_candidates(
        docs_mass_cluster, num_hashes=16, bands=8, bucket_cap=64
    ).toPandas()
    assert len(cands) < 2_000, f"candidate blow-up: {len(cands)} pairs"
    in_cluster = (cands.id_a >= 500_000) & (cands.id_b >= 500_000)
    assert not in_cluster.any()


def test_simhash_bucket_cap_tames_mass_cluster(spark, docs_mass_cluster):
    cands = simhash_candidates(
        docs_mass_cluster, max_hamming=3, blocks=4, bucket_cap=64
    ).toPandas()
    assert len(cands) < 2_000, f"candidate blow-up: {len(cands)} pairs"
    in_cluster = (cands.id_a >= 500_000) & (cands.id_b >= 500_000)
    assert not in_cluster.any()


def test_bucket_cap_noop_on_healthy_corpus(spark, docs):
    """On a corpus with no over-cap bucket, bucket_cap must not change
    the candidate set (recall is only traded on pathological buckets)."""
    plain = minhash_lsh_candidates(docs, num_hashes=16, bands=8).toPandas()
    capped = minhash_lsh_candidates(
        docs, num_hashes=16, bands=8, bucket_cap=64
    ).toPandas()
    key = lambda pdf: set(map(tuple, pdf[["id_a", "id_b"]].to_numpy()))
    assert key(plain) == key(capped)


def test_near_dup_candidates_scaled_exact_first(spark, docs_mass_cluster):
    """The 100-TB pipeline shape: exact-dedup collapses the 10^4-copy
    cluster to ONE canonical representative, which keeps its LSH buckets
    healthy — so near-dup recall is preserved (the planted near-dups
    still pair with their originals) while the cluster costs one
    hash-agg row instead of 10^8 candidate pairs."""
    from fluvio_jolt_spark.operators.dedup import near_dup_candidates_scaled

    cands = near_dup_candidates_scaled(
        docs_mass_cluster, num_hashes=32, bands=16, bucket_cap=64
    ).toPandas()
    pairs = set(map(tuple, cands[["id_a", "id_b"]].to_numpy()))
    # near-dup docs (200000+i) still pair with their canonical originals
    found_near = sum((i, i + 200_000) in pairs for i in range(5))
    assert found_near >= 3, f"only {found_near}/5 near-dups blocked"
    # cluster members never appear: they are non-canonical exact copies
    # (doc 0 is the cluster's canonical and may legitimately pair)
    assert not any(a >= 500_000 or b >= 500_000 for a, b in pairs)
    # ... and exact_dedup reports the full cluster membership
    ed = exact_dedup(docs_mass_cluster).filter(F.col("doc_id") == 0).first()
    assert ed["n_copies"] == 10_002 and ed["is_canonical"]


def _numpy_topk(emb_pdf, query, k):
    m = np.stack(emb_pdf["embedding"].to_numpy()).astype(np.float64)
    q = np.asarray(query, dtype=np.float64)
    sims = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    order = np.lexsort((emb_pdf["vec_id"].to_numpy(), -sims))
    return [int(emb_pdf["vec_id"].to_numpy()[i]) for i in order[:k]]


def test_cosine_topk_matches_numpy(spark, emb):
    pdf = emb.toPandas()
    query = [float(x) for x in pdf[pdf.vec_id == 0].embedding.iloc[0]]
    want = _numpy_topk(pdf, query, 10)
    got = cosine_topk(emb, query, k=10).toPandas()["vec_id"].tolist()
    assert got == want
    # string ids pass through with their type and the same ranking
    semb = emb.select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("vec_id"), "embedding"
    )
    got_s = cosine_topk(semb, query, k=10).toPandas()["vec_id"].tolist()
    assert got_s == [f"v{i}" for i in want]


def test_lsh_ann_recall(spark, emb):
    pdf = emb.toPandas()
    query = [float(x) for x in pdf[pdf.vec_id == 7].embedding.iloc[0]]
    exact = set(_numpy_topk(pdf, query, 10))
    approx = set(
        lsh_ann_topk(emb, query, k=10, n_planes=6, probe_hamming=2).toPandas()["vec_id"]
    )
    recall = len(exact & approx) / 10
    assert recall >= 0.5, f"ANN recall too low: {recall}"


def test_srp_buckets_udf_parity(spark):
    """The Arrow-vectorized SRP bucketing must be bit-exact to the
    srp_bucket_col expression — including near-orthogonal vectors
    (sign-boundary dots), whole-null rows, null elements, and NaN
    elements (Spark orders NaN above every numeric)."""
    from fluvio_jolt_spark.operators.similarity import (
        _srp_planes,
        srp_bucket_col,
        srp_buckets_udf,
    )

    rng = np.random.RandomState(7)
    dims = 16
    sets = [_srp_planes(dims, 5, 42 + t) for t in range(3)]
    rows = [(i, rng.normal(size=dims).tolist()) for i in range(200)]
    for t, planes in enumerate(sets):
        p0 = planes[0] / np.linalg.norm(planes[0])
        for j in range(20):
            v = rng.normal(size=dims)
            v -= (v @ p0) * p0  # dot vs plane 0 lands at the sign boundary
            rows.append((1000 + t * 100 + j, v.tolist()))
    rows.append((9000, None))
    bad = rng.normal(size=dims).tolist()
    bad[3] = None
    rows.append((9001, bad))
    nanv = rng.normal(size=dims).tolist()
    nanv[2] = float("nan")
    rows.append((9002, nanv))
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    expr_cols = [
        srp_bucket_col(F.col("embedding"), planes).alias(f"e{t}")
        for t, planes in enumerate(sets)
    ]
    out = df.select(
        "id", *expr_cols, srp_buckets_udf(sets)(F.col("embedding")).alias("u")
    ).collect()
    assert len(out) == 263
    all_bits = (1 << 5) - 1
    for r in out:
        if r.id == 9001:
            # documented divergence: Arrow erases element-level null vs
            # NaN, so a null-element row hashes as a NaN vector in the
            # UDF (all bits) where the expression path gives 0
            assert [r[f"e{t}"] for t in range(3)] == [0, 0, 0]
            assert list(r["u"]) == [all_bits] * 3
            continue
        assert [r[f"e{t}"] for t in range(3)] == list(r["u"]), r.id


def test_embedding_near_dup_self(spark, emb):
    # plant an exact duplicate vector
    dup = emb.filter(F.col("vec_id") == 1).withColumn("vec_id", F.lit(99999).cast("long"))
    df = emb.unionByName(dup)
    out = embedding_near_dup(df, threshold=0.999).toPandas()
    assert ((out.id_a == 1) & (out.id_b == 99999)).any()


def _cos_per_pair(va, vb):
    """The verify stage's earlier per-pair formula: three folds per pair
    (the dot product and both norms)."""
    dot = F.aggregate(F.zip_with(va, vb, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x)

    def norm(c):
        return F.sqrt(F.aggregate(c, F.lit(0.0), lambda s, x: s + x * x))

    return dot / (norm(va) * norm(vb))


def _with_per_pair_cos(pairs, df):
    v = df.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    return (
        pairs.join(v.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(v.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .withColumn("ref", _cos_per_pair(F.col("va"), F.col("vb")))
    )


def test_embedding_near_dup_cos_sim_bit_identical(spark):
    """Norms computed once per id give the same bits as the per-pair
    formula on random, near-orthogonal (dots near 0), NaN-bearing and
    tiny-magnitude vectors. One plane and a threshold below -1 keep
    every same-bucket pair, NaN cosines included (Spark orders NaN above
    every number)."""
    rng = np.random.RandomState(11)
    dims = 16
    rows = [(i, rng.normal(size=dims).tolist()) for i in range(60)]
    base = rng.normal(size=dims)
    rows.append((100, base.tolist()))
    for j in range(20):
        v = rng.normal(size=dims)
        v -= (v @ base) / (base @ base) * base
        rows.append((200 + j, v.tolist()))
    for j in range(5):
        v = rng.normal(size=dims).tolist()
        v[j] = float("nan")
        rows.append((300 + j, v))
    for j in range(5):
        rows.append((400 + j, (rng.normal(size=dims) * 1e-15).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_near_dup(df, n_planes=1, threshold=-2.0)
    got = _with_per_pair_cos(pairs, df).collect()
    assert len(got) > 1000
    assert sum(np.isnan(r.cos_sim) for r in got) > 0
    for r in got:
        assert struct.pack("<d", r.cos_sim) == struct.pack("<d", r.ref), (r.id_a, r.id_b)


def test_embedding_near_dup_zero_vector_raises_as_per_pair(spark):
    """A zero vector's cosine is 0/0: under ANSI arithmetic both the
    per-id norms and the per-pair formula raise DIVIDE_BY_ZERO rather
    than emit a value."""
    from pyspark.errors import ArithmeticException

    v = [1.0, -2.0, 3.0, 0.5]
    df = spark.createDataFrame(
        [(0, [0.0] * 4), (1, v), (2, [-x for x in v])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        embedding_near_dup(df, n_planes=1, threshold=-2.0).collect()
    every_pair = spark.createDataFrame([(0, 1), (0, 2), (1, 2)], "id_a long, id_b long")
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        _with_per_pair_cos(every_pair, df).collect()


def test_embedding_near_dup_banded_recall(spark, emb):
    """Planted near-dup vectors (tiny perturbations, cosine ~0.999)
    must be recovered by the banded multi-table blocking: per-table
    collision probability for a near-identical pair is (1 - θ/π)^p
    ≈ 0.999^p, so 3 OR-ed tables make a miss vanishingly unlikely —
    while each table's 2^8 buckets keep expected bucket size bounded
    (the single-coarse-table variant would need 16 buckets for the
    same recall)."""
    pdf = emb.toPandas()
    base = pdf.head(8)
    planted = base.copy()
    planted["vec_id"] = planted["vec_id"] + 700_000
    rng = np.random.RandomState(7)
    planted["embedding"] = [
        (np.asarray(v, dtype=np.float32) + rng.normal(scale=1e-3, size=len(v)).astype(np.float32)).tolist()
        for v in planted["embedding"]
    ]
    df = emb.unionByName(spark.createDataFrame(planted, schema=emb.schema))
    out = embedding_near_dup(
        df, n_planes=8, threshold=0.99, n_tables=3, bucket_cap=256
    ).toPandas()
    pairs = set(map(tuple, out[["id_a", "id_b"]].to_numpy()))
    found = sum((int(i), int(i) + 700_000) in pairs for i in base["vec_id"])
    assert found >= 7, f"banded recall too low: {found}/8"


def test_embedding_near_dup_bucket_cap(spark, emb):
    """A mass-duplicated vector (500 identical copies) lands every copy
    in the same bucket of every table; bucket_cap drops those buckets so
    the pair join stays O(n*k) instead of emitting 500^2/2 pairs."""
    one = emb.filter(F.col("vec_id") == 1).first()["embedding"]
    cluster = spark.range(500).select(
        (F.col("id") + 800_000).alias("vec_id"),
        F.array(*[F.lit(float(x)) for x in one]).cast("array<float>").alias("embedding"),
    )
    df = emb.select("vec_id", "embedding").unionByName(cluster)
    out = embedding_near_dup(
        df, n_planes=6, threshold=0.99, n_tables=2, bucket_cap=64
    ).toPandas()
    in_cluster = (out.id_a >= 800_000) & (out.id_b >= 800_000)
    assert not in_cluster.any()
    assert len(out) < 1_000


def test_embedding_near_dup_single_table_unchanged(spark, emb):
    """n_tables=1, no cap = classic SRP blocking: same pairs as the
    round-2 single-table implementation (regression pin for the
    refactor to explode + join-back verify)."""
    a = embedding_near_dup(emb, n_planes=4, threshold=0.4).toPandas()
    assert len(a) > 0
    assert (a.cos_sim >= 0.4).all() and (a.id_a < a.id_b).all()


def test_ivf_centroids_order_independent(spark, emb):
    """The training sample is the sample_rows smallest rows by
    xxhash64(vector) — a value-determined draw, so a sorted/clustered
    layout must give the SAME centroids as a shuffled one (the old
    sample(1.0).limit() took the first rows of the first partitions)."""
    cents_a = ivf_train_centroids(emb.orderBy("vec_id"), n_centroids=8)
    cents_b = ivf_train_centroids(emb.repartition(7).orderBy(F.rand(3)), n_centroids=8)
    assert np.allclose(cents_a, cents_b)


def test_ivf_pipeline(spark, emb):
    cents = ivf_train_centroids(emb, n_centroids=8)
    assigned = ivf_assign(emb, cents)
    counts = assigned.groupBy("ivf_cluster").count().toPandas()
    assert counts["count"].sum() == emb.count()
    assert len(counts) >= 2

    pdf = emb.toPandas()
    query = [float(x) for x in pdf[pdf.vec_id == 11].embedding.iloc[0]]
    exact = set(_numpy_topk(pdf, query, 5))
    got = set(ivf_topk(assigned, cents, query, k=5, nprobe=4).toPandas()["vec_id"])
    assert len(exact & got) >= 3


def test_md5_families_match_xxhash_structure(spark, docs):
    """The md5 (oracle) hash family finds the same planted duplicate
    pairs as the xxhash64 production family on this corpus."""
    a = minhash_lsh_candidates(docs, num_hashes=16, bands=8).toPandas()
    b = minhash_lsh_candidates(
        docs, num_hashes=16, bands=8, hash_family="md5"
    ).toPandas()
    exact_pairs_a = set(map(tuple, a[["id_a", "id_b"]].to_numpy()))
    exact_pairs_b = set(map(tuple, b[["id_a", "id_b"]].to_numpy()))
    # identical docs always collide in every band for any hash family
    from fluvio_jolt_spark.operators.dedup import exact_dedup

    dups = exact_dedup(docs).filter("n_copies > 1 AND NOT is_canonical").toPandas()
    for _, r in dups.iterrows():
        pair = (min(r.canonical_id, r.doc_id), max(r.canonical_id, r.doc_id))
        assert pair in exact_pairs_a and pair in exact_pairs_b


def test_bucket_cap_computes_signatures_once(spark):
    """The cap's window count must ride the candidate self-join's
    partitioning, not duplicate the expensive work: in the executed
    final plan, the minhash signature computation (16 array_min
    mixes) appears at exactly ONE site — side b of the self-join is a
    ReusedExchange of side a's shuffle. (Without the cap, AQE may pick
    a broadcast join that computes signatures on BOTH sides — the
    capped plan's sharing is strictly better.) Uses the plain parquet
    table: a union input would show one site per union branch from
    ordinary project-through-union pushdown, which is orthogonal."""
    import re

    plain_docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = minhash_lsh_candidates(plain_docs, num_hashes=16, bands=8, bucket_cap=64)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the adaptive plan string appends the pre-adaptive "Initial Plan"
    # section — only the FINAL plan reflects what actually ran
    final = plan.split("== Initial Plan ==")[0]
    n_minhash_sites = len(re.findall(r"array_min\(transform", final)) // 16
    assert n_minhash_sites == 1, final[:2000]
    assert "ReusedExchange" in final, final[:2000]


def test_ivf_partitioned_layout_prunes(spark, emb, tmp_path):
    """The documented IVF at-scale layout: vectors written partitioned
    by ivf_cluster; an nprobe query's cluster filter must prune at the
    directory level (PartitionFilters on ivf_cluster in the scan), so
    a probe reads ~nprobe/n_centroids of the data."""
    cents = ivf_train_centroids(emb, n_centroids=8)
    assigned = ivf_assign(emb, cents)
    path = str(tmp_path / "ivf_vectors")
    assigned.write.mode("overwrite").partitionBy("ivf_cluster").parquet(path)

    stored = spark.read.parquet(path)
    pdf = emb.toPandas()
    query = [float(x) for x in pdf[pdf.vec_id == 11].embedding.iloc[0]]
    out = ivf_topk(stored, cents, query, k=5, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:200]
    assert "ivf_cluster" in seg, seg
    # and the probe still returns sane neighbors
    got = set(out.toPandas()["vec_id"])
    exact = set(_numpy_topk(pdf, query, 5))
    assert len(got & exact) >= 2


def test_ngram_contamination_planted(spark):
    """Planted ground truth: an eval doc copied verbatim from train
    reads contamination 1.0; an eval doc with no shared 3-gram reads
    0.0; a half-overlapping doc lands strictly between."""
    from fluvio_jolt_spark.operators.dedup import ngram_contamination

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs")],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),   # exact copy
         (101, "completely novel words appear here only zz"),     # disjoint
         (102, "the quick brown fox ate something else entirely")],  # partial
        "doc_id long, text string",
    )
    out = (
        ngram_contamination(train, eval_df)
        .toPandas()
        .set_index("doc_id")["contamination"]
    )
    assert out[100] == 1.0
    assert out[101] == 0.0
    assert 0.0 < out[102] < 1.0


def test_ngram_contamination_bloom_parity(spark, docs):
    """The bloom pre-pass is output-invariant: bloom on (even absurdly
    small, forcing many false positives) equals bloom off bit-for-bit,
    in both hash families, with duplicate grams preserved in n_grams."""
    from fluvio_jolt_spark.operators.dedup import ngram_contamination

    eval_df = docs.filter(F.col("doc_id") % 5 == 0)
    train = docs.filter(F.col("doc_id") % 5 != 0)
    for fam in ("xxhash64", "md5"):
        base = (
            ngram_contamination(train, eval_df, hash_family=fam, bloom_bits=None)
            .orderBy("doc_id")
            .collect()
        )
        for bits in (1 << 10, 1 << 20):  # tiny -> mostly false positives
            got = (
                ngram_contamination(train, eval_df, hash_family=fam, bloom_bits=bits)
                .orderBy("doc_id")
                .collect()
            )
            assert got == base, (fam, bits)


def test_ngram_contamination_bloom_no_false_negatives(spark):
    """Planted exact-copy eval doc still reads contamination 1.0 with
    the bloom on (a bloom can only over-admit, never drop a member),
    and the executed plan contains the bloom build (bit_or aggregate)
    plus broadcast probes."""
    from fluvio_jolt_spark.operators.dedup import ngram_contamination

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven")],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta"),
         (101, "nothing here overlaps with training text")],
        "doc_id long, text string",
    )
    df = ngram_contamination(train, eval_df, bloom_bits=1 << 16)
    out = df.toPandas().set_index("doc_id")
    assert out.loc[100, "contamination"] == 1.0
    assert out.loc[101, "n_hit"] == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bit_or" in plan and "BroadcastHashJoin" in plan


def test_connected_components_chain_and_islands(spark):
    """Chain 1-2-3-4 collapses to component 1; separate pair (10,11)
    to 10; vertex order / edge direction irrelevant."""
    import pandas as pd
    from fluvio_jolt_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": [2, 3, 4, 11], "id_b": [1, 2, 3, 10]})
    )
    got = {
        r["v"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_nonconvergence_raises(spark):
    """A path longer than max_iter must raise, never return partial
    labels (HashMin needs ecc(min) rounds + 1 confirmation round)."""
    import pandas as pd
    import pytest
    from fluvio_jolt_spark.operators.dedup import connected_components

    # path 0-1-2-3-4-5: min label needs 5 propagation rounds
    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(5)), "id_b": list(range(1, 6))})
    )
    # small_graph_edges=0 forces the iterative HashMin path — the
    # union-find fast path needs no rounds and cannot non-converge
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=3, small_graph_edges=0)
    ok = {
        r["v"]: r["component"]
        for r in connected_components(edges, max_iter=10, small_graph_edges=0).collect()
    }
    assert set(ok.values()) == {0}


def test_connected_components_paths_agree(spark):
    """The single-task union-find fast path and the iterative HashMin
    path must produce identical (v, component) labelings on the same
    random graph (mixed chains, cliques, islands, self-loops)."""
    import random

    import pandas as pd
    from fluvio_jolt_spark.operators.dedup import connected_components

    rng = random.Random(42)
    edges = []
    # random sparse graph over 300 vertices + a long chain + a clique
    edges += [(rng.randrange(300), rng.randrange(300)) for _ in range(200)]
    edges += [(1000 + i, 1001 + i) for i in range(40)]
    edges += [(2000 + a, 2000 + b) for a in range(8) for b in range(a)]
    pdf = pd.DataFrame(edges, columns=["id_a", "id_b"])
    df = spark.createDataFrame(pdf)
    fast = {
        (r["v"], r["component"])
        for r in connected_components(df).collect()
    }
    slow = {
        (r["v"], r["component"])
        for r in connected_components(df, max_iter=60, small_graph_edges=0).collect()
    }
    assert fast == slow and len(fast) > 0


# ------------------------------------------------------- group minhash


def _mk_groups(spark):
    """Synthetic turn-shaped corpus: conv A and B are whole-conversation
    duplicates (same member texts), C is A permuted across rows, D is
    disjoint."""
    import pandas as pd

    turns = {
        "A": ["alpha beta gamma delta epsilon", "zeta eta theta iota kappa",
              "lam mu nu xi omicron"],
        "B": ["alpha beta gamma delta epsilon", "zeta eta theta iota kappa",
              "lam mu nu xi omicron"],
        "C": ["lam mu nu xi omicron", "alpha beta gamma delta epsilon",
              "zeta eta theta iota kappa"],
        "D": ["pi rho sigma tau upsilon", "phi chi psi omega aleph",
              "beth gimel daleth he vav"],
    }
    rows = [
        {"conv_id": g, "text": t}
        for g, texts in turns.items()
        for t in texts
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


@pytest.mark.parametrize("family", ["xxhash64", "md5"])
def test_group_minhash_signature_is_union_min(spark, family):
    """Group signature == elementwise min over member signatures, and is
    invariant to member row order (min is commutative) — the property
    that makes conversation-level dedup a plain hash aggregate."""
    from fluvio_jolt_spark.operators.dedup import (
        group_minhash_signatures,
        minhash_signatures,
    )

    df = _mk_groups(spark)
    gsig = {
        r["conv_id"]: r["minhash"]
        for r in group_minhash_signatures(
            df, "conv_id", num_hashes=16, hash_family=family
        ).collect()
    }
    per_row = minhash_signatures(
        df, "text", "conv_id", num_hashes=16, hash_family=family
    ).collect()
    by_group: dict = {}
    for r in per_row:
        by_group.setdefault(r["conv_id"], []).append(r["minhash"])
    for g, sigs in by_group.items():
        expect = [min(s[i] for s in sigs) for i in range(16)]
        assert gsig[g] == expect
    # duplicate conversations, any row order -> identical signatures
    assert gsig["A"] == gsig["B"] == gsig["C"]
    assert gsig["A"] != gsig["D"]


@pytest.mark.parametrize("family", ["xxhash64", "md5"])
def test_group_minhash_lsh_pairs_duplicate_conversations(spark, family):
    from fluvio_jolt_spark.operators.dedup import group_minhash_lsh_candidates

    df = _mk_groups(spark)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in group_minhash_lsh_candidates(
            df, "conv_id", num_hashes=16, bands=8, hash_family=family
        ).collect()
    }
    assert {("A", "B"), ("A", "C"), ("B", "C")} <= pairs
    assert not any("D" in p for p in pairs)


def test_group_minhash_bucket_cap(spark):
    """A mass-duplicated conversation cluster is tamed by the same
    bucket-cap contract as the per-document lane."""
    import pandas as pd

    from fluvio_jolt_spark.operators.dedup import group_minhash_lsh_candidates

    rows = [
        {"conv_id": f"g{i}", "text": t}
        for i in range(40)
        for t in ["same turn text every time", "identical second turn here"]
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    capped = group_minhash_lsh_candidates(
        df, "conv_id", num_hashes=16, bands=8, bucket_cap=8
    )
    assert capped.count() == 0  # every bucket over cap -> dropped
    uncapped = group_minhash_lsh_candidates(df, "conv_id", num_hashes=16, bands=8)
    assert uncapped.count() == 40 * 39 // 2


# --------------------------------------------------- group centroids


def test_group_centroids_match_numpy(spark, emb):
    from fluvio_jolt_spark.operators.similarity import group_centroids

    got = {
        r["label"]: (r["n"], np.array(r["centroid"]))
        for r in group_centroids(emb, group_col="label").collect()
    }
    pdf = emb.toPandas()
    for lab, grp in pdf.groupby("label"):
        v = np.stack(grp["embedding"].map(np.asarray)).astype(np.float64)
        n, c = got[lab]
        assert n == len(grp)
        assert np.allclose(c, v.mean(axis=0), atol=1e-12)


def test_centroid_pairwise_cosine_matches_numpy(spark, emb):
    from fluvio_jolt_spark.operators.similarity import (
        centroid_pairwise_cosine,
        group_centroids,
    )

    cent = group_centroids(emb, group_col="label")
    got = {
        (r["group_a"], r["group_b"]): r["cos_sim"]
        for r in centroid_pairwise_cosine(cent, group_col="label").collect()
    }
    pdf = emb.toPandas()
    cents = {
        lab: np.stack(grp["embedding"].map(np.asarray)).astype(np.float64).mean(0)
        for lab, grp in pdf.groupby("label")
    }
    labs = sorted(cents)
    n_pairs = 0
    for i, a in enumerate(labs):
        for b in labs[i + 1:]:
            ca, cb = cents[a], cents[b]
            want = float(ca @ cb / (np.linalg.norm(ca) * np.linalg.norm(cb)))
            assert abs(got[(a, b)] - want) < 1.1e-4
            n_pairs += 1
    assert len(got) == n_pairs


def test_span_dup_stats_planted_shared_spans(spark):
    """Two docs share a 5-word boilerplate span; a third is unique.
    n_spans counts DISTINCT spans per doc; dup spans are those seen in
    >= 2 docs."""
    import pandas as pd

    from fluvio_jolt_spark.operators.dedup import span_dup_stats

    boiler = "this license block is boilerplate"
    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": [
                boiler + " alpha beta gamma delta",
                boiler + " epsilon zeta eta theta",
                "totally different words here with no overlap at all",
            ],
        })
    )
    for family in ("xxhash64", "md5"):
        rows = {
            r["doc_id"]: r
            for r in span_dup_stats(docs, shingle_n=5, hash_family=family).collect()
        }
        # doc1: 9 words -> 5 distinct 5-gram spans; only the pure boiler
        # span (words 1-5) also appears in doc2
        assert rows[1]["n_spans"] == 5
        assert rows[1]["n_dup_spans"] == 1
        assert rows[1]["span_dup_frac"] == 0.2
        assert rows[2]["n_dup_spans"] == 1
        assert rows[3]["n_dup_spans"] == 0
        assert rows[3]["span_dup_frac"] == 0.0


def test_novelty_stats_arrival_order(spark):
    """First-occurrence novelty by ascending doc_id: a doc re-stating
    earlier content scores low; an exact re-crawl scores 0."""
    import pandas as pd

    from fluvio_jolt_spark.operators.dedup import novelty_stats

    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": [
                "a b c d e",        # 3 grams, all first here
                "a b c d e f",      # 4 grams, only "d e f" is new
                "a b c d e",        # exact re-crawl of doc 1
            ],
        })
    )
    for family in ("xxhash64", "md5"):
        rows = {
            r["doc_id"]: r
            for r in novelty_stats(docs, shingle_n=3, hash_family=family).collect()
        }
        assert rows[1]["n_grams"] == 3 and rows[1]["novelty_frac"] == 1.0
        assert rows[2]["n_grams"] == 4 and rows[2]["n_novel"] == 1
        assert rows[2]["novelty_frac"] == 0.25
        assert rows[3]["n_novel"] == 0 and rows[3]["novelty_frac"] == 0.0


def test_novelty_vs_corpus_planted(spark):
    """Batch-vs-corpus novelty: membership is against the existing
    corpus only (batch docs don't see each other), and a doc shorter
    than the shingle width degrades to its whole text as one gram."""
    import pandas as pd

    from fluvio_jolt_spark.operators.dedup import novelty_vs_corpus

    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["a b c d e"]})
    )
    batch = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [10, 11, 12],
            "text": [
                "a b c d e f",     # only "d e f" unseen
                "p q r s t",       # fully novel
                "x y",             # short doc -> single whole-text gram
            ],
        })
    )
    for family in ("xxhash64", "md5"):
        rows = {
            r["doc_id"]: r
            for r in novelty_vs_corpus(
                batch, corpus, shingle_n=3, hash_family=family
            ).collect()
        }
        assert rows[10]["n_grams"] == 4 and rows[10]["n_novel"] == 1
        assert rows[11]["novelty_frac"] == 1.0
        assert rows[12]["n_grams"] == 1 and rows[12]["novelty_frac"] == 1.0


def test_quantize_embeddings_roundtrip_bound(spark):
    import pandas as pd
    from fluvio_jolt_spark.operators.similarity import quantize_embeddings

    pdf = pd.DataFrame({
        "vec_id": [1, 2, 3],
        "embedding": [
            [0.0, 1.0, 0.5, 0.25],      # span 1.0 -> scale 1/255
            [-2.0, 2.0, 0.0, 1.9],      # span 4.0
            [3.25, 3.25, 3.25, 3.25],   # constant vector: scale 0
        ],
    })
    out = (
        quantize_embeddings(spark.createDataFrame(pdf), "embedding")
        .toPandas().set_index("vec_id")
    )
    # max error of uniform quantization <= scale/2
    assert out.loc[1, "max_abs_err"] <= (1.0 / 255) / 2 + 1e-12
    assert out.loc[2, "max_abs_err"] <= (4.0 / 255) / 2 + 1e-12
    # codes within [0, 255]; extremes map to 0 and 255
    assert min(out.loc[1, "q_codes"]) == 0 and max(out.loc[1, "q_codes"]) == 255
    # constant vector: all codes 0, zero error, scale 0
    assert list(out.loc[3, "q_codes"]) == [0, 0, 0, 0]
    assert out.loc[3, "mean_abs_err"] == 0.0 and out.loc[3, "q_scale"] == 0.0


def test_quantize_embeddings_mean_le_max(spark):
    import pandas as pd
    import numpy as np
    from fluvio_jolt_spark.operators.similarity import quantize_embeddings

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "vec_id": list(range(20)),
        "embedding": [rng.normal(size=16).tolist() for _ in range(20)],
    })
    out = quantize_embeddings(spark.createDataFrame(pdf), "embedding").toPandas()
    assert (out["mean_abs_err"] <= out["max_abs_err"] + 1e-15).all()
    assert (out["n_dims"] == 16).all()


# ------------------------------------------------- segment_dedup_rewrite


def test_segment_dedup_unique_docs_unchanged(spark):
    """Documents with no shared segments survive byte-identical."""
    from fluvio_jolt_spark.operators.dedup import segment_dedup_rewrite

    rows = [
        (1, " ".join(f"a{i}" for i in range(40))),
        (2, " ".join(f"b{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in segment_dedup_rewrite(df, width=16).collect()}
    for did, text in rows:
        assert out[did].text_kept == text
        assert out[did].n_kept == out[did].n_segments == 3


def test_segment_dedup_full_duplicate_doc_emptied(spark):
    """An exact duplicate of an earlier doc loses every segment; the
    earlier (lower doc_id) copy keeps all of them."""
    from fluvio_jolt_spark.operators.dedup import segment_dedup_rewrite

    text = " ".join(f"w{i}" for i in range(32))
    df = spark.createDataFrame([(7, text), (9, text)], ["doc_id", "text"])
    out = {r.doc_id: r for r in segment_dedup_rewrite(df, width=16).collect()}
    assert out[7].text_kept == text and out[7].n_kept == 2
    assert out[9].text_kept == "" and out[9].n_kept == 0
    assert out[9].n_segments == 2


def test_segment_dedup_strips_embedded_boilerplate(spark):
    """A repeated 16-token block inside an otherwise-unique doc is
    removed from the later doc only — the C4 line-dedup behavior
    whole-doc dedup cannot express."""
    from fluvio_jolt_spark.operators.dedup import segment_dedup_rewrite

    boiler = " ".join(f"bp{i}" for i in range(16))
    a = boiler + " " + " ".join(f"a{i}" for i in range(16))
    b = boiler + " " + " ".join(f"b{i}" for i in range(16))
    df = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    out = {r.doc_id: r for r in segment_dedup_rewrite(df, width=16).collect()}
    assert out[1].text_kept == a
    assert out[2].text_kept == " ".join(f"b{i}" for i in range(16))
    assert (out[2].n_segments, out[2].n_kept) == (2, 1)


def test_segment_dedup_short_doc_single_segment(spark):
    """Docs shorter than one width still form exactly one segment."""
    from fluvio_jolt_spark.operators.dedup import segment_dedup_rewrite

    df = spark.createDataFrame([(1, "x y z")], ["doc_id", "text"])
    (r,) = segment_dedup_rewrite(df, width=16).collect()
    assert (r.n_segments, r.n_kept, r.text_kept) == (1, 1, "x y z")


def test_segment_dedup_hash_families_agree_on_census(spark):
    """xxhash64 production lane and md5 oracle lane pick identical
    survivors (no collisions at this scale)."""
    from fluvio_jolt_spark.operators.dedup import segment_dedup_rewrite

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = sorted(map(tuple, segment_dedup_rewrite(docs, hash_family="md5").collect()))
    b = sorted(map(tuple, segment_dedup_rewrite(docs, hash_family="xxhash64").collect()))
    assert a == b


def test_prefix_dup_candidates_planted(spark):
    """Truncations (even cut mid-whitespace-run) are detected; unrelated
    docs and sub-window docs are not; equal-length pairs are excluded."""
    from fluvio_jolt_spark.operators.dedup import prefix_dup_candidates

    full = "The  QUICK brown\tfox jumps over the lazy dog " * 4
    rows = [
        (1, full),
        (2, full[: len(full) // 2]),          # clean truncation
        (3, full[:47]),                        # cut inside whitespace run
        (4, "completely different text that stands alone here"),
        (5, "short"),                          # below window -> out of scope
        (6, full),                             # exact dup of 1: equal len, excluded
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = prefix_dup_candidates(df, window=32, hash_family="md5").toPandas()
    pairs = set(zip(out["dup_id"], out["container_id"]))
    assert (2, 1) in pairs and (3, 1) in pairs
    assert (2, 6) in pairs and (3, 6) in pairs  # container family both ways
    assert (3, 2) in pairs                      # 3 is also a prefix of 2
    assert not any(d == 4 or c == 4 for d, c in pairs)
    assert not any(d == 5 or c == 5 for d, c in pairs)
    assert (1, 6) not in pairs and (6, 1) not in pairs  # strict len only
    assert (out["len_dup"] < out["len_container"]).all()


def test_prefix_dup_blocking_is_narrow(spark):
    """The blocking self-join's shuffle must not carry the text column:
    no Exchange in the candidate stage includes 'norm'."""
    from fluvio_jolt_spark.operators.dedup import prefix_dup_candidates

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("document body padding padding padding number "),
                 F.col("id")).alias("text"),
    )
    out = prefix_dup_candidates(df, window=16)
    plan = out._jdf.queryExecution().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_label_agreement_plants_noisy_label(spark):
    """Five near-identical vectors, one mislabeled: the odd one out is
    flagged (agreement 0 with 4 neighbors); the majority agree 3/4 and
    are not suspects; an isolated vector reports 0 neighbors, NULL
    agreement, not suspect."""
    from fluvio_jolt_spark.operators.similarity import label_agreement

    base = [1.0, 0.2, 0.1, 0.05]
    rows = [(i, [x + 0.001 * i for x in base], 7) for i in range(4)]
    rows.append((4, [x + 0.004 for x in base], 99))       # mislabeled
    rows.append((5, [-1.0, 0.9, -0.8, 0.7], 7))           # isolated
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])

    out = (label_agreement(df, n_planes=4, threshold=0.9, n_tables=2,
                           min_neighbors=3)
           .orderBy("vec_id").toPandas())
    noisy = out[out["vec_id"] == 4].iloc[0]
    assert noisy["n_neighbors"] == 4 and noisy["n_agree"] == 0
    assert noisy["agreement"] == 0.0 and bool(noisy["suspect"])
    majority = out[out["vec_id"] < 4]
    assert (majority["n_neighbors"] == 4).all()
    assert (majority["n_agree"] == 3).all()
    assert not majority["suspect"].any()
    iso = out[out["vec_id"] == 5].iloc[0]
    assert iso["n_neighbors"] == 0 and not bool(iso["suspect"])
    import math
    assert math.isnan(iso["agreement"]) or iso["agreement"] is None


def test_hard_negatives_band_and_labels(spark):
    """Negatives come only from OTHER labels inside the cosine band;
    same-label near neighbors and out-of-band vectors are excluded;
    per-anchor cap respected with deterministic ranking."""
    from fluvio_jolt_spark.operators.similarity import hard_negatives

    import math
    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [
        (0, unit(0.0), 1),            # anchor
        (1, unit(0.05), 1),           # same label, very close: excluded
        (2, unit(0.9), 2),            # cos ~0.62: in band, other label
        (3, unit(1.1), 2),            # cos ~0.45: in band, other label
        (4, unit(1.2), 3),            # cos ~0.36: in band, other label
        (5, [-1.0, 0.0, 0.0, 0.0], 2) # cos -1: below band
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = hard_negatives(df, sim_lo=0.2, sim_hi=0.8, per_anchor=2,
                         n_planes=3, n_tables=4).toPandas()
    a0 = out[out["anchor_id"] == 0].sort_values("neg_rank")
    assert list(a0["negative_id"]) == [2, 3]      # top-2 by cosine desc
    assert (a0["negative_label"] != 1).all()
    assert ((a0["cos_sim"] >= 0.2) & (a0["cos_sim"] < 0.8)).all()
    assert 1 not in set(out["negative_id"][out["anchor_id"] == 0])
    assert 5 not in set(out["negative_id"])
    assert (out.groupby("anchor_id")["neg_rank"].max() <= 2).all()
