"""Deduplication operators for large-scale training-data pipelines.

All variants are shuffle-structured for 100 TB operation:

* exact:       one hash-aggregate on a 64-bit content hash (never
               groupBy the raw text — the hash is 8 bytes vs KBs).
* minhash-LSH: shingle → k minhashes → band buckets → candidates via a
               self-equi-join on (band, bucket-hash). The join key is
               tiny and uniformly distributed; verification runs only on
               bucket collisions (the classic Broder scheme).
* simhash:     64-bit near-dup fingerprint; candidates pair on rotated
               prefix blocks (Charikar/Manku-Jain-Sarma style 4-table
               scheme) — equality joins only.
* ngram-jaccard: exact verification metric, used standalone on small
               candidate sets or as the LSH verify stage.
* embedding cosine near-dup: see similarity.py.

Hash functions: Spark's built-in ``xxhash64`` (JVM-side, codegen'd,
seedable via a leading literal argument) — deterministic across
executors and runs. Where a DuckDB-checkable oracle is needed, the
``hash_family="md5"`` variants derive a 60-bit value from the md5 hex
digest (``conv(substr(md5(x),1,15),16,10)``), which DuckDB reproduces
exactly as ``('0x' || substr(md5(x),1,15))::BIGINT``; md5 is slower
than xxhash64, so it is the verification path, not the default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fluvio_jolt_spark.operators.partitioning import fan_out


def _cap_buckets(exploded: DataFrame, key_cols: "list[str]", cap: int) -> DataFrame:
    """Drop rows belonging to over-populated LSH buckets before the
    candidate self-join.

    Why: a mass-duplicated document (boilerplate, spam cluster) puts
    every copy in the SAME bucket, and a bucket of b members emits
    b*(b-1)/2 candidate pairs — 10^6 copies = 10^12 pairs from one key.
    AQE skew-split spreads the shuffle but cannot shrink that output
    cardinality; the only scale-safe move is to cap the bucket itself
    (standard MinHashLSH practice, e.g. Spark MLlib users pre-filter
    frequent buckets the same way).

    Recall note (caller contract): members of a dropped bucket can still
    pair through their OTHER bands (minhash) / blocks (simhash) — only
    pairs whose every shared bucket is over-cap are lost. Exact
    duplicates are the common way a bucket overflows, so run
    ``exact_dedup`` first (see ``near_dup_candidates_scaled``) and the
    cap then only fires on pathological near-dup clusters, where
    returning the O(cap^2) within-cluster pairs is what callers want to
    avoid anyway.

    Cost: one window count partitioned by the join key — the window's
    hash-partitioning equals the self-join's, so the plan keeps a single
    exchange of the exploded frame (no extra shuffle)."""
    w = Window.partitionBy(*key_cols)
    return (
        exploded.withColumn("_bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_bucket_n") <= cap)
        .drop("_bucket_n")
    )

def md5_60(col) -> "F.Column":
    """60-bit hash from the md5 hex digest — the cross-engine-checkable
    family: DuckDB computes the identical value as
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``. Slower than xxhash64
    (full md5 per value), so used for verification paths, not defaults."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_rot_pair(i: int) -> tuple[int, int]:
    """Fixed per-member rotation offsets for the md5 minhash family.
    Both offsets are always in 1..59 — never 0 — so every member gets a
    genuine rotation of both digest halves (7·i mod 59 is injective for
    i < 59, so the pairs are distinct per member)."""
    return 1 + (7 * i) % 59, 1 + (13 * i) % 59


def _rot60(expr: str, r: int) -> str:
    """Rotate a 60-bit value left by r (1..59) without overflowing a
    64-bit long: mask the bits that would leave the 60-bit window
    BEFORE the left shift — the exact same expression DuckDB evaluates
    (its << is overflow-checked, so an unmasked rotate would throw).
    A Spark SQL fragment over the long-valued SQL expression ``expr``."""
    low = (1 << (60 - r)) - 1
    return f"(shiftleft({expr} & {low}, {r}) | shiftrightunsigned({expr}, {60 - r}))"


def content_hash(col) -> "F.Column":
    """64-bit content hash of a string column: xxhash64 (built-in,
    JVM-side) — collision odds at 10^12 docs ≈ 2.7e-2 within a single
    birthday bound; pair with a length check for exactness."""
    return F.xxhash64(col)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group by (hash, length) and keep the minimum id as canonical.
    Returns (id, canonical_id, n_copies, is_canonical)."""
    h = content_hash(F.col(text_col)).alias("_h")
    ln = F.length(text_col).alias("_len")
    keyed = fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), h, ln
    )
    groups = keyed.groupBy("_h", "_len").agg(
        F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies")
    )
    return (
        keyed.join(groups, ["_h", "_len"])
        .select(
            id_col,
            "canonical_id",
            "n_copies",
            (F.col(id_col) == F.col("canonical_id")).alias("is_canonical"),
        )
    )


def word_shingles(text_col: str, n: int = 3) -> "F.Column":
    """Distinct word n-gram shingles as an array<string> (Catalyst-only:
    split + transform + filter + array_distinct)."""
    words = F.split(F.col(text_col), " ")
    if n == 1:
        return F.array_distinct(words)
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    gram = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n))
    )
    return F.array_distinct(
        F.when(F.size(words) >= n, gram).otherwise(F.array(F.concat_ws(" ", words)))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-doc minhash signature as array<long> of length num_hashes.

    Default family (xxhash64): each shingle string is hashed ONCE; the
    i-th family member re-mixes the 8-byte hash with a seed column —
    hashing the string k times would dominate the cost. Everything
    stays in Catalyst higher-order functions (ANSI-safe: xxhash64 wraps
    internally). O(|shingles| * k) cheap mixes per doc, embarrassingly
    parallel, no shuffle.

    md5 family: ONE md5 per shingle (same hash count as the default);
    the digest's two disjoint 60-bit halves are remixed into the k
    members with rotate/xor (masked-shift rotations, so DuckDB's
    overflow-checked ``<<`` reproduces them exactly) — byte-identical
    in SQL, which is what makes the LSH pipeline oracle-checkable
    end-to-end."""
    sh = word_shingles(text_col, shingle_n).alias("_shingles")
    df = fan_out(df.select(F.col(id_col), F.col(text_col)))
    if hash_family == "md5":
        base = (
            df.select(F.col(id_col), sh)
            .withColumn("_hx", F.transform("_shingles", lambda s: F.md5(s)))
            .withColumn(
                "_h1",
                F.transform(
                    "_hx", lambda x: F.conv(F.substring(x, 1, 15), 16, 10).cast("long")
                ),
            )
            .withColumn(
                "_h2",
                F.transform(
                    "_hx", lambda x: F.conv(F.substring(x, 16, 15), 16, 10).cast("long")
                ),
            )
        )

        def _minhash(i: int) -> str:
            r1, r2 = md5_rot_pair(i)
            return (f"array_min(zip_with(_h1, _h2, (a, b) -> "
                    f"{_rot60('a', r1)} ^ {_rot60('b', r2)}))")

    else:
        base = df.select(F.col(id_col), sh).withColumn(
            "_hashes", F.transform("_shingles", lambda s: F.xxhash64(s))
        )

        def _minhash(i: int) -> str:
            return f"array_min(transform(_hashes, h -> xxhash64({i}, h)))"

    # the k-member array as ONE SQL string: the same Catalyst expressions
    # as k chains of Column calls, built in a single py4j round-trip
    sig = ", ".join(_minhash(i) for i in range(num_hashes))
    return base.select(id_col, F.expr(f"array({sig})").alias("minhash"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    bucket_cap: "int | None" = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) that share at least
    one LSH band bucket. rows_per_band = num_hashes // bands controls
    the similarity threshold ~ (1/bands)^(1/rows_per_band).

    hash_family="md5" additionally keeps band buckets as the raw
    comma-joined signature slice (a string) instead of hashing it —
    byte-reproducible in SQL. The default hashes the slice to a compact
    8-byte join key (the shuffle-friendly production shape).

    bucket_cap caps bucket membership before the self-join so one
    mass-duplicated document cannot make a single bucket quadratic —
    see ``_cap_buckets`` for the recall contract. At corpus scale,
    compose with exact-dedup-first (``near_dup_candidates_scaled``)."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, hash_family)
    return lsh_candidates_from_signatures(
        sigs, id_col=id_col, num_hashes=num_hashes, bands=bands,
        hash_family=hash_family, bucket_cap=bucket_cap,
    )


def lsh_candidates_from_signatures(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    hash_family: str = "xxhash64",
    bucket_cap: "int | None" = None,
) -> DataFrame:
    """Band/bucket/self-join stage of minhash LSH over precomputed
    signatures (a ``minhash`` array<long> column) — shared by the
    per-document path (``minhash_lsh_candidates``) and the group-level
    path (``group_minhash_lsh_candidates``)."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands

    def bucket(b: int) -> str:
        members = ", ".join(
            f"CAST(element_at(minhash, {b * r + j + 1}) AS STRING)" for j in range(r)
        )
        if hash_family == "md5":
            return f"concat_ws(',', {members})"
        return f"xxhash64(concat_ws(',', {b}, {members}))"

    # all band keys as ONE SQL string (see minhash_signatures)
    structs = ", ".join(
        f"struct({b} AS band, {bucket(b)} AS bucket)" for b in range(bands)
    )
    exploded = sigs.select(
        id_col, F.expr(f"explode(array({structs}))").alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    if bucket_cap is not None:
        exploded = _cap_buckets(exploded, ["band", "bucket"], bucket_cap)

    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return pairs


def group_minhash_signatures(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Minhash signature of a GROUP of texts (a conversation's turns, a
    crawl domain's pages) without ever concatenating the member texts.

    min over the union of shingle sets == elementwise min of the
    members' signatures, so the group signature is one hash-aggregate
    over per-row signatures: ``groupBy(group).agg(min(sig[i]) ...)``.
    Partial (map-side) aggregation applies — at 10^12 turns the shuffle
    carries only k longs per group per map partition, never text. This
    is the conversation-granularity dedup primitive for transcript
    corpora (per-turn near-dup misses conversations duplicated as a
    whole; concatenating turns would shuffle the full payload).

    Returns (group_col, minhash array<long>)."""
    sigs = minhash_signatures(
        df, text_col, group_col, num_hashes, shingle_n, hash_family
    )
    mins = ", ".join(f"min(element_at(minhash, {i + 1}))" for i in range(num_hashes))
    return sigs.groupBy(group_col).agg(F.expr(f"array({mins})").alias("minhash"))


def group_minhash_lsh_candidates(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    bucket_cap: "int | None" = None,
) -> DataFrame:
    """Near-duplicate GROUP pairs (id_a < id_b on the group key): LSH
    banding over union-of-members signatures from
    ``group_minhash_signatures``. Same banded equi-self-join and
    bucket-cap contract as the per-document path."""
    sigs = group_minhash_signatures(
        df, group_col, text_col, num_hashes, shingle_n, hash_family
    )
    return lsh_candidates_from_signatures(
        sigs, id_col=group_col, num_hashes=num_hashes, bands=bands,
        hash_family=hash_family, bucket_cap=bucket_cap,
    )


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact word-shingle Jaccard on candidate pairs only (the cheap
    verify stage after LSH blocking).

    r6: |A ∪ B| is computed as |A| + |B| − |A ∩ B| (exact: word_shingles
    arrays are distinct within a doc, i.e. true sets) instead of
    materializing the union array per pair — one set-build per pair
    instead of two, same integer counts, bit-identical jaccard."""
    sh = fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("sh")
    )
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"),
        F.size("sh").alias("_na"),
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"),
        F.size("sh").alias("_nb"),
    )
    joined = candidates.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.col("_na") + F.col("_nb")).cast("double") - inter
    return (
        joined.select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """64-bit simhash over word tokens: sum ±1 per bit weighted by token
    frequency, sign → bit. Catalyst-only: explode tokens → per-bit
    aggregation via bit tricks on the token hash.

    hash_family="md5" uses the 60-bit md5-derived token hash (bits
    60-63 are then always 0 — an effectively-60-bit fingerprint), which
    DuckDB reproduces exactly: the oracle-checkable variant.

    The per-bit aggregate is ``sum((h >> i) & 1)`` with one shared
    token count, and the sign test ``2*s_i > n`` (≡ sum(±1) > 0, since
    sum(±1) = 2*s_i − n): branch-free inner expressions codegen ~2×
    faster than 64 ``sum(when(...))`` branches — fingerprints are
    bit-identical (tested), so the SQL oracle keeps the textbook
    ±1 formulation."""
    token_hash = md5_60 if hash_family == "md5" else F.xxhash64
    toks = fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).select(id_col, token_hash(F.col("tok")).alias("h"))
    # the 64 per-bit sums and the 64-term fingerprint as ONE SQL string:
    # the same Catalyst aggregate and arithmetic as ~1,000 Column calls,
    # built in a single py4j round-trip
    fp = " + ".join(
        f"(CASE WHEN sum(shiftrightunsigned(h, {i}) & 1) * 2 > count(1) "
        f"THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END * "
        f"{1 << i if i < 63 else -(1 << 63)})"
        for i in range(64)
    )
    return toks.groupBy(id_col).agg(F.expr(fp).alias("simhash"))


def hamming64(a, b) -> "F.Column":
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    hash_family: str = "xxhash64",
    bucket_cap: "int | None" = None,
) -> DataFrame:
    """Near-dup candidates by the block-permutation trick: split the
    64-bit fingerprint into `blocks` chunks; any pair within
    max_hamming <= blocks-1 must agree on >=1 chunk (pigeonhole), so an
    equality join per chunk finds all of them; verify with bit_count.

    bucket_cap drops over-populated (blk, chunk) buckets before the
    self-join (see ``_cap_buckets``) — the pigeonhole guarantee then
    holds only for pairs with at least one under-cap shared block."""
    fps = simhash(df, text_col, id_col, hash_family)
    width = 64 // blocks
    chunked = fps.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", F.col("c.blk").alias("blk"), F.col("c.chunk").alias("chunk"))
    if bucket_cap is not None:
        chunked = _cap_buckets(chunked, ["blk", "chunk"], bucket_cap)
    a, b = chunked.alias("a"), chunked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def _bloom_positions(gh: "F.Column", n_bits: int, k: int) -> "list[F.Column]":
    """k bloom bit positions for a 64-bit gram hash: independent
    xxhash64 remixes (seeded by member index) reduced mod n_bits.
    Shared by the build side and the probe side — same arithmetic, no
    false negatives possible."""
    return [F.pmod(F.xxhash64(F.lit(i), gh), F.lit(n_bits)) for i in range(k)]


def build_gram_bloom(
    train_grams: DataFrame, n_bits: int = 1 << 22, k: int = 2
) -> DataFrame:
    """Distributed bloom filter over a column of gram hashes ``_gh``:
    each hash sets k bits; bits pack into 64-bit words via a bit_or
    hash-aggregate. Output is the SPARSE word table (word_idx, word) —
    at most n_bits/64 rows regardless of corpus size, partial-agg'd
    map-side so the 10^12-gram build shuffles only (word_idx, word)
    pairs, never grams."""
    pos = F.explode(F.array(*_bloom_positions(F.col("_gh"), n_bits, k))).alias("_pos")
    return (
        train_grams.select(pos)
        .select(
            F.shiftright(F.col("_pos"), 6).alias("word_idx"),
            # python-side shiftleft requires a literal shift count; the
            # SQL form takes a column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))").alias(
                "_bit"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_bit").alias("word"))
    )


def bloom_maybe_contains(
    grams: DataFrame, bloom_words: DataFrame, n_bits: int, k: int
) -> DataFrame:
    """Append ``_maybe`` to a frame with a ``_gh`` hash column: true iff
    ALL k bloom bits are set (possible member), false = definite
    non-member. Row-preserving (duplicate grams stay duplicated): one
    broadcast left-join of the sparse word table per bloom member —
    k is small (2-4), and each join is against the SAME broadcast
    relation. The word table is n_bits/64 longs — a size a deployment
    chooses; beyond broadcast range the hint drops to a shuffled hash
    join on word_idx with the same semantics."""
    out = grams
    set_flags = []
    for i, pos in enumerate(_bloom_positions(F.col("_gh"), n_bits, k)):
        widx, word = f"_widx{i}", f"_word{i}"
        out = out.withColumn(f"_pos{i}", pos).withColumn(
            widx, F.shiftright(F.col(f"_pos{i}"), 6)
        )
        words_i = bloom_words.select(
            F.col("word_idx").alias(widx + "_r"), F.col("word").alias(word)
        )
        out = out.join(
            F.broadcast(words_i), out[widx] == words_i[widx + "_r"], "left"
        )
        set_flags.append(
            F.expr(
                f"shiftright({word}, CAST(_pos{i} % 64 AS INT)) & 1"
            )
            == 1
        )
    maybe = set_flags[0]
    for flag in set_flags[1:]:
        maybe = maybe & flag
    out = out.withColumn("_maybe", F.coalesce(maybe, F.lit(False)))
    drop = [c for i in range(k) for c in (f"_pos{i}", f"_widx{i}", f"_widx{i}_r", f"_word{i}")]
    return out.drop(*drop)


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    bloom_bits: "int | None" = 1 << 22,
    bloom_k: int = 2,
) -> DataFrame:
    """Train/eval contamination check (decontamination stage of a
    training pipeline): for each eval document, the fraction of its
    word n-grams that occur anywhere in the training corpus.
    Returns (id, n_grams, n_hit, contamination).

    Scale shape: the train side collapses to DISTINCT n-gram hashes
    (8-byte keys, partial-agg'd map-side — the corpus text never
    shuffles); a BLOOM FILTER over the train gram hashes (built
    distributed: k xxhash64 remixes -> bit_or word aggregate; in a
    real decontamination deployment it is built once per corpus and
    reused across eval sets) pre-screens the eval grams so definite
    non-members skip the exact join entirely; surviving grams
    LEFT-join the train hash set for exact per-gram hit flags, then
    one hash-agg per eval doc. Bloom false positives are caught by the
    exact join and a bloom has no false negatives, so the output is
    bit-identical with the pre-pass on or off (bloom_bits=None)
    — which is also why the md5-family driver oracle needs no bloom
    arithmetic. Size bloom_bits at ~10-16 bits per expected distinct
    train gram for a useful false-positive rate.

    hash_family="md5" is the cross-engine-checkable family (the
    driver oracle recomputes the same 60-bit hashes in SQL)."""
    gram_hash = md5_60 if hash_family == "md5" else F.xxhash64
    train_grams = (
        fan_out(train.select(F.col(text_col))).select(
            F.explode(word_shingles(text_col, shingle_n)).alias("_g")
        )
        .select(gram_hash(F.col("_g")).alias("_gh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    eval_grams = fan_out(eval_df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("_g")
    ).select(id_col, gram_hash(F.col("_g")).alias("_gh"))

    if bloom_bits is not None:
        bloom = build_gram_bloom(
            train_grams.select("_gh"), n_bits=bloom_bits, k=bloom_k
        )
        flagged = bloom_maybe_contains(eval_grams, bloom, bloom_bits, bloom_k)
        survivors = flagged.filter(F.col("_maybe")).drop("_maybe")
        pruned = (
            flagged.filter(~F.col("_maybe"))
            .drop("_maybe")
            .withColumn("_hit", F.lit(None).cast("int"))
        )
        joined = survivors.join(train_grams, "_gh", "left").unionByName(pruned)
    else:
        joined = eval_grams.join(train_grams, "_gh", "left")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        F.round(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("contamination"),
    )


def near_dup_candidates_scaled(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    bucket_cap: int = 1000,
) -> DataFrame:
    """The 100-TB near-dup pipeline shape: exact-dedup FIRST, then
    capped minhash-LSH over canonical representatives only.

    Exact duplicates are the overwhelmingly common way an LSH bucket
    overflows (identical text ⇒ identical signature ⇒ every copy in the
    same bucket of every band). Collapsing them first:

    * shrinks the LSH input to distinct contents — a mass-duplicate
      cluster of 10^6 copies costs one hash-agg row, not 10^12
      candidate pairs;
    * preserves recall — copies pair with their canonical trivially via
      ``exact_dedup``'s groups, no LSH needed;
    * leaves ``bucket_cap`` as a backstop for pathological NEAR-dup
      clusters only (where emitting O(cluster^2) pairs is exactly what
      a caller needs to avoid; members can still pair through other
      bands — see ``_cap_buckets``).

    Returns candidate pairs (id_a < id_b) over canonical doc ids.
    Exact-duplicate membership (copy → canonical) comes from running
    ``exact_dedup`` separately; this function re-derives only the
    canonical id set, which Catalyst computes once per plan.
    """
    # r6: derive the canonical id set directly — min(id) per
    # (hash, length) group IS the canonical set, so the full
    # exact_dedup output (which joins the groups back to every row to
    # flag copies) is not needed here; one aggregate replaces an
    # aggregate plus a join. Same ids, same candidate pairs.
    keyed = fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        content_hash(F.col(text_col)).alias("_h"),
        F.length(text_col).alias("_len"),
    )
    canon_ids = keyed.groupBy("_h", "_len").agg(F.min(id_col).alias(id_col)).select(
        id_col
    )
    canon = df.join(canon_ids, id_col, "left_semi")
    return minhash_lsh_candidates(
        canon,
        text_col,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        hash_family=hash_family,
        bucket_cap=bucket_cap,
    )


# Below this many (symmetrized) edges the whole candidate graph goes
# through a single-task union-find instead of iterated HashMin rounds —
# the same shape as Spark's broadcast-join threshold: 5M edges is
# ~80 MB of longs, trivially one-task work, while each HashMin round
# costs two shuffles + an action. LSH candidate graphs are vanishingly
# small relative to the corpus (pairs ≪ docs), so at validation scale
# this path almost always fires; a 100 TB corpus with billions of
# candidate pairs takes the iterative path unchanged.
SMALL_GRAPH_EDGE_THRESHOLD = 5_000_000


def _union_find_components(batches):
    """Single-partition union-find with path compression; emits
    (v, component=min vertex id of the component). Runs as one task —
    only ever invoked under SMALL_GRAPH_EDGE_THRESHOLD."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            # root at the smaller id so the final label IS min(component)
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    for pdf in batches:
        for a, b in zip(pdf["a"].to_numpy(), pdf["b"].to_numpy()):
            a = int(a)
            b = int(b)
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            union(a, b)
    vs = sorted(parent)
    yield pd.DataFrame({"v": vs, "component": [find(v) for v in vs]})


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    small_graph_edges: int = SMALL_GRAPH_EDGE_THRESHOLD,
) -> DataFrame:
    """Connected components over an undirected candidate-pair graph —
    the last step of a dedup pipeline: every near-dup component gets a
    canonical label (its minimum vertex id), so "keep one per cluster"
    is ``filter(v == component)``.

    Physical strategy is size-dispatched like a broadcast join: at or
    under ``small_graph_edges`` candidate pairs the whole graph runs
    through a single-task union-find (``_union_find_components``) —
    zero shuffle rounds; above it, HashMin label propagation: each
    vertex's label is the min of its own and its neighbors', iterated
    to fixpoint. Convergence takes
    exactly ecc(min-vertex) ≤ diameter iterations; near-dup components
    are dense clusters of copies with tiny diameter (a candidate
    generator that emits long chains of pairwise-similar-but-globally-
    different docs is broken upstream), so this terminates in a handful
    of rounds. Each round is one narrow (vertex, label) shuffle joined
    against the static symmetrized edge list — labels never carry
    payload. ``localCheckpoint`` truncates lineage per round so the
    plan stays O(1) deep. For adversarial high-diameter graphs the
    published O(log^2 n)-round alternative is large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond"); ``max_iter`` guards against silently wrong output —
    non-convergence raises rather than returning partial labels.

    Returns (v, component) with component = min vertex id reachable;
    vertices not present in ``edges`` are absent (singletons are the
    caller's docs minus this frame — coalesce on join-back).
    """
    half = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).persist()
    # Broadcast-threshold-style dispatch: one cheap count on the (needed
    # anyway) candidate frame picks the physical strategy, exactly like
    # Catalyst sizing a join side. Small graph → single-task union-find
    # (zero shuffle rounds); big graph → iterated HashMin below.
    if half.count() <= small_graph_edges:
        out = half.coalesce(1).mapInPandas(
            _union_find_components, "v long, component long"
        ).localCheckpoint(eager=True)
        half.unpersist()
        return out
    sym = half.union(
        half.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()
    labels = sym.select(F.col("a").alias("v")).distinct().withColumn(
        "lbl", F.col("v")
    )
    converged = False
    for _ in range(max_iter):
        nbr = sym.join(labels, sym["b"] == labels["v"]).groupBy("a").agg(
            F.min("lbl").alias("nlbl")
        )
        stepped = (
            labels.join(nbr, labels["v"] == nbr["a"], "left")
            .select(
                labels["v"],
                labels["lbl"].alias("prev"),
                F.least(
                    labels["lbl"], F.coalesce(nbr["nlbl"], labels["lbl"])
                ).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.filter(F.col("lbl") < F.col("prev")).count()
        labels = stepped.drop("prev")
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    half.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "the candidate graph has a path longer than max_iter — raise "
            "max_iter or switch to star-contraction for this input"
        )
    return labels.select("v", F.col("lbl").alias("component"))


def span_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Substring-level duplication stats per document: the fraction of a
    document's word n-gram spans that also occur in at least one OTHER
    document — the signal behind exact-substring training-data dedup
    (boilerplate headers, license blocks, templated passages inflate
    span_dup_frac long before whole-document dedup fires).

    Returns (id, n_spans, n_dup_spans, span_dup_frac) where n_spans
    counts the doc's DISTINCT spans (word_shingles dedups per doc, so
    within-doc repetition — with_repetition_stats' job — doesn't count
    here; this operator measures CROSS-document sharing).

    Scale shape: spans collapse to 8-byte hashes at the map side (text
    never shuffles); corpus span frequency is one partial-agg'd
    groupBy on the hash; the join back to (id, hash) rides the same
    hash partitioning; the final per-doc rollup is a second
    partial-agg'd groupBy. Because spans are distinct within a doc,
    count(*) per hash == number of docs sharing the span — no
    count_distinct needed. hash_family="md5" is the cross-engine-
    checkable family (driver oracle recomputes the 60-bit hashes).

    r6: the corpus span frequency attaches via count() OVER
    (PARTITION BY hash) instead of a groupBy+self-join — the span
    pipeline (explode + hash) is computed ONCE and crosses one
    exchange, where the join form evaluated it twice (once under the
    frequency aggregate, once as the probe side) and at corpus scale
    would have to broadcast or re-shuffle a gram-frequency table with
    one entry per distinct span. Output is identical: span hashes are
    never null, so the window partition count equals the join's
    per-hash match count row for row."""
    gram_hash = md5_60 if hash_family == "md5" else F.xxhash64
    spans = fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("_g")
    ).select(id_col, gram_hash(F.col("_g")).alias("_gh"))
    spans = spans.withColumn(
        "_nd", F.count(F.lit(1)).over(Window.partitionBy("_gh"))
    )
    return (
        spans
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("_nd") >= 2).cast("long")).alias("n_dup_spans"),
            F.round(
                F.sum((F.col("_nd") >= 2).cast("long"))
                / F.count(F.lit(1)),
                4,
            ).alias("span_dup_frac"),
        )
    )


def novelty_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Arrival-order n-gram novelty per document: the fraction of a
    document's distinct word n-grams whose FIRST corpus occurrence (by
    ascending ``id_col``, the crawl/ingest order) is this document.
    This is the incremental-crawl value signal: a re-crawled or
    templated document scores ~0 (everything it says arrived earlier)
    while genuinely new content scores near 1 — the complement of
    ``span_dup_stats``, which measures sharing regardless of direction.

    Returns (id, n_grams, n_novel, novelty_frac) with n_grams counting
    the doc's DISTINCT grams (within-doc repetition doesn't dilute).

    100-TB shape: grams collapse to 8-byte hashes map-side (text never
    shuffles); first-occurrence is ONE partial-agg'd min() groupBy on
    the gram hash; the join back to (id, hash) rides the same hash
    partitioning (exchange reuse); the per-doc rollup is a second
    partial-agg'd groupBy on the id. No windows, no explode of
    anything wider than (id, hash). hash_family="md5" is the
    cross-engine-checkable family (the driver oracle recomputes the
    60-bit hashes in DuckDB); xxhash64 is the production default.

    r6: first-occurrence attaches via min(id) OVER (PARTITION BY hash)
    instead of a groupBy+self-join — the gram pipeline is computed once
    and crosses one exchange (see span_dup_stats for the same rewrite's
    rationale); gram hashes are never null so the window min equals the
    join's per-hash min row for row."""
    gram_hash = md5_60 if hash_family == "md5" else F.xxhash64
    grams = fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("_g")
    ).select(id_col, gram_hash(F.col("_g")).alias("_gh"))
    grams = grams.withColumn(
        "_first", F.min(id_col).over(Window.partitionBy("_gh"))
    )
    return (
        grams
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("_first") == F.col(id_col)).cast("long")).alias("n_novel"),
            F.round(
                F.sum((F.col("_first") == F.col(id_col)).cast("long"))
                / F.count(F.lit(1)),
                4,
            ).alias("novelty_frac"),
        )
    )


def novelty_vs_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Batch-vs-corpus n-gram novelty: score an incoming crawl batch
    against the EXISTING corpus — per new document, the fraction of its
    distinct word n-grams that appear nowhere in ``corpus_df``. The
    production companion to ``novelty_stats`` (which scores a single
    corpus against its own arrival order): crawl schedulers drop or
    down-weight batches whose novelty collapses.

    Returns (id, n_grams, n_novel, novelty_frac) for ``new_df`` rows.

    100-TB shape: the corpus side collapses to DISTINCT 8-byte gram
    hashes before the join (the heavy text never shuffles and the
    corpus gram table is its only shuffled form — the same reduction
    ``ngram_contamination`` uses, dedup.py:533); the membership test is
    a left join on the hash with a literal flag, aggregated per doc.
    A bloom pre-pass (``build_gram_bloom``) composes in front of the
    join exactly as in decontamination when the corpus gram table is
    still too large to co-shuffle comfortably."""
    gram_hash = md5_60 if hash_family == "md5" else F.xxhash64
    new_grams = fan_out(new_df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("_g")
    ).select(id_col, gram_hash(F.col("_g")).alias("_gh"))
    corpus_grams = (
        fan_out(corpus_df.select(F.col(text_col))).select(
            F.explode(word_shingles(text_col, shingle_n)).alias("_g")
        )
        .select(gram_hash(F.col("_g")).alias("_gh"))
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    return (
        new_grams.join(corpus_grams, "_gh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("_seen").isNull().cast("long")).alias("n_novel"),
            F.round(
                F.sum(F.col("_seen").isNull().cast("long")) / F.count(F.lit(1)),
                4,
            ).alias("novelty_frac"),
        )
    )


def segment_dedup_rewrite(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 16,
    hash_family: str = "md5",
) -> DataFrame:
    """Corpus-wide duplicate-SEGMENT removal with document rewrite —
    the C4 "deduplicate at the line level across the corpus" rule for
    token-stream documents: split each document into non-overlapping
    ``width``-token segments, keep only the FIRST occurrence of each
    distinct segment corpus-wide (first = lowest (doc_id, seg_idx)),
    and reassemble each document from its surviving segments in
    original order. Unlike whole-doc dedup this strips repeated
    boilerplate embedded inside otherwise-unique documents.

    100-TB shape: segments are built per-row with sequence/slice (no
    token explode); the dedup key that rides the corpus-wide shuffle
    is the segment's 60/64-bit hash (``hash_family``: md5 for the
    cross-engine oracle lane, xxhash64 production) — the window that
    picks the first occurrence partitions on that fixed-width key, so
    the text crosses the exchange exactly once (it must: the survivor
    carries its bytes to the rebuild); the rebuild groupBy(doc_id) is
    the second and last shuffle. Ties inside one hash bucket order by
    (doc_id, seg_idx) — deterministic under any partitioning.

    Returns (id, n_segments, n_kept, text_kept) — text_kept is "" when
    every segment of a document occurred earlier in the corpus."""
    gram_hash = md5_60 if hash_family == "md5" else F.xxhash64
    toks = F.split(F.col(text_col), " ")
    n_seg = F.floor((F.size(toks) + F.lit(width - 1)) / F.lit(width)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(F.slice(toks, i * width + 1, width), " "),
    )
    e = fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.posexplode(segs).alias("seg_idx", "_seg")
    ).select(
        id_col, "seg_idx", "_seg", gram_hash(F.col("_seg")).alias("_gh")
    )
    w = Window.partitionBy("_gh").orderBy(id_col, "seg_idx")
    r = e.withColumn("_rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("_rn") == 1, F.struct(F.col("seg_idx"), F.col("_seg"))
    )
    return (
        r.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("_rn") == 1).cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["_seg"],
                ),
                " ",
            ).alias("text_kept"),
        )
    )


def prefix_dup_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 32,
    bucket_cap: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Truncation-duplicate detection: verified pairs (dup, container)
    where the shorter document's normalized text is a strict prefix of
    the longer's — the re-crawl / paywall / render-cutoff case that
    exact dedup misses (hashes differ) and shingle LSH only catches
    when the truncation keeps most of the shingles.

    Normalization matches ``with_fingerprint`` (lowercase + whitespace
    runs collapsed), under which truncation is prefix-stable: cutting
    raw text anywhere — even mid-whitespace-run — leaves a normalized
    string that is still a character prefix of the normalized full
    document.

    100-TB shape: block on the hash of the first ``window`` normalized
    chars; the blocking self-join shuffles only (id, prefix-hash, len)
    — text never rides it.  ``_cap_buckets`` bounds pathological
    buckets (shared boilerplate openers) exactly as the LSH family
    does.  Verification re-joins the normalized text BY ID for the
    surviving candidate pairs only, then checks true prefix equality,
    so the wide column moves for candidates, not the corpus.  Docs
    shorter than ``window`` after normalization are out of scope (no
    stable block key); route them through exact dedup.

    Returns (dup_id, container_id, len_dup, len_container)."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"[ \t\n\r]+", " "))
    h = md5_60 if hash_family == "md5" else F.xxhash64
    base = (
        fan_out(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col).cast("long").alias("id"), norm.alias("norm"))
        .withColumn("len", F.length("norm"))
        .filter(F.col("len") >= int(window))
    )
    keyed = base.select(
        "id", "len", h(F.substring("norm", 1, int(window))).alias("pk")
    )
    capped = _cap_buckets(keyed, ["pk"], bucket_cap)
    a = capped.select(
        F.col("pk"), F.col("id").alias("dup_id"), F.col("len").alias("len_dup")
    )
    b = capped.select(
        F.col("pk").alias("pk_b"),
        F.col("id").alias("container_id"),
        F.col("len").alias("len_container"),
    )
    cand = a.join(
        b,
        (F.col("pk") == F.col("pk_b")) & (F.col("len_dup") < F.col("len_container")),
    ).select("dup_id", "container_id", "len_dup", "len_container")
    na = base.select(F.col("id").alias("dup_id"), F.col("norm").alias("_norm_a"))
    nb = base.select(
        F.col("id").alias("container_id"), F.col("norm").alias("_norm_b")
    )
    return (
        cand.join(na, "dup_id")
        .join(nb, "container_id")
        .filter(
            F.col("_norm_b").substr(F.lit(1), F.col("len_dup")) == F.col("_norm_a")
        )
        .select("dup_id", "container_id", "len_dup", "len_container")
    )
