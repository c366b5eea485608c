"""Text-analysis operators for document pipelines — all Catalyst
expressions (no Python in the hot path): token counting, document
fingerprinting, quality and repetition filters, and corpus statistics.

These run per-row with no shuffle; at 100 TB they pipeline directly
over the parquet scan with column pruning (only `text` is read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fluvio_jolt_spark.operators.partitioning import fan_out

# English stopwords for quality_filter's stopword-ratio rule.
_EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that"]


def tokens_col(text_col: str = "text"):
    return F.split(F.col(text_col), r"\s+")


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens plus a BPE-ish subword estimate (≈ chars/4,
    the common heuristic for byte-pair vocabularies)."""
    toks = tokens_col(text_col)
    return (
        df.withColumn("n_tokens", F.size(toks))
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(toks)))
        .withColumn("n_chars", F.length(text_col))
        .withColumn("n_subwords_est", F.ceil(F.length(text_col) / F.lit(4.0)).cast("int"))
    )


def with_repetition_stats(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Within-document repetition features (the Gopher/MassiveText
    quality-filter family): fraction of duplicated words and of
    duplicated word n-grams —

        dup_word_frac    = 1 - distinct(words)  / count(words)
        dup_{n}gram_frac = 1 - distinct(ngrams) / count(ngrams)

    Highly repetitive documents (boilerplate, keyword stuffing,
    degenerate generations) score near 1. Pure per-row Catalyst array
    expressions — no explode, no shuffle, no Python: the 100-TB shape
    is a map-only scan that composes with any downstream filter.
    NULL when the document has no tokens (no n-grams for the gram
    lane): ratios over empty sets are undefined, not 0.
    """
    df = fan_out(df)
    toks = tokens_col(text_col)
    nt = F.size(toks)
    # n-grams by zipping n shifted slices — O(len) per doc. The obvious
    # transform(sequence(...), i -> slice(toks, i+1, n)) materializes a
    # fresh sub-array per gram and measures 5x slower at sf0.1.
    m = nt - F.lit(n - 1)
    shifted = F.slice(toks, 1, m)
    for k in range(1, n):
        shifted = F.zip_with(
            shifted, F.slice(toks, k + 1, m), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    grams = F.when(nt >= n, shifted).otherwise(
        F.expr("array()").cast("array<string>")
    )
    ng = F.size(grams)
    dup_word = F.when(
        nt > 0, F.lit(1.0) - F.size(F.array_distinct(toks)) / nt.cast("double")
    )
    dup_gram = F.when(
        ng > 0, F.lit(1.0) - F.size(F.array_distinct(grams)) / ng.cast("double")
    )
    return df.withColumn("dup_word_frac", dup_word).withColumn(
        f"dup_{n}gram_frac", dup_gram
    )


def with_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    window: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Document fingerprint: hash of the whitespace-normalized text plus
    a prefix rolling-window hash (first `window` chars) for fast
    prefix-dup detection. hash_family='md5' is the cross-engine-
    checkable variant (driver oracle); xxhash64 is the production
    default (same plan, cheaper mixer)."""
    from fluvio_jolt_spark.operators.dedup import md5_60

    h = md5_60 if hash_family == "md5" else F.xxhash64
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return df.withColumn("fingerprint", h(norm)).withColumn(
        "prefix_fingerprint", h(F.substring(norm, 1, window))
    )


def with_pii_scan(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redaction-pipeline pre-scan: per-document counts of common PII
    surface patterns (emails, URLs, long digit runs standing in for
    phone/account numbers). Pure Catalyst regexp_count — column-pruned,
    no shuffle, linear scan; the patterns use the regex subset that
    Java (Spark) and RE2 (DuckDB/most scanners) interpret identically,
    so the counts are engine-reproducible. A flagged document would be
    routed to a redaction stage; here we only count."""
    def _count(pattern: str):
        return F.regexp_count(F.col(text_col), F.lit(pattern))

    return (
        df.withColumn(
            "n_emails", _count(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
        )
        .withColumn("n_urls", _count(r"https?://[^\s]+"))
        .withColumn("n_long_digit_runs", _count(r"[0-9]{7,}"))
        .withColumn(
            "pii_flag",
            (
                (F.col("n_emails") > 0)
                | (F.col("n_urls") > 0)
                | (F.col("n_long_digit_runs") > 0)
            ).cast("int"),
        )
    )


def mixture_sample(
    df: DataFrame,
    rates: "dict[str, float]",
    class_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Deterministic weighted mixture sampling (dataset mixing for
    training runs): keep each row with probability rates[class] via a
    pure hash test on the row id — reproducible across runs, engines
    and partitionings (no RNG state), and exact in expectation per
    class. hash_family='md5' is the cross-engine-checkable variant.

    At 100 TB this is a scan-side filter (no shuffle); changing the
    mixture re-runs only the filter, not any upstream stage."""
    from fluvio_jolt_spark.operators.dedup import md5_60

    h = (
        md5_60(F.col(id_col).cast("string"))
        if hash_family == "md5"
        else F.xxhash64(F.col(id_col))
    )
    # uniform in [0,1): low 30 bits of the (non-negative) hash
    u = F.pmod(h, F.lit(1 << 30)).cast("double") / F.lit(float(1 << 30))
    rate = None
    for cls, r in sorted(rates.items()):
        cond = F.col(class_col) == cls
        rate = F.when(cond, F.lit(float(r))) if rate is None else rate.when(cond, F.lit(float(r)))
    rate = rate.otherwise(F.lit(float(default_rate))) if rate is not None else F.lit(float(default_rate))
    return df.withColumn("_u", u).filter(F.col("_u") < rate).drop("_u")


def pack_documents(
    df: DataFrame,
    budget_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Concat-and-chunk sequence packing (the standard pretraining
    batch-packing shape): documents are deterministically ordered into
    n_buckets independent streams (hash of id), each stream's text is
    conceptually concatenated, and every document is assigned to the
    fixed-size token window containing its START offset. Consumers
    materialize pack p of bucket b by concatenating its docs in order
    and chunking at the budget boundary (a doc may straddle into the
    next window — exactly how concat-then-chunk tokenization behaves).

    Returns (id, bucket, pack_id, n_tokens, start_offset).

    Scale shape: one window per bucket stream (PARTITIONED — bucket
    count bounds the sort width; never a global sort), prefix-sum of
    token counts, pure arithmetic after. Deterministic across runs,
    partitionings and engines; hash_family='md5' is the
    cross-engine-checkable variant (driver oracle).

    Choosing n_buckets: the window sorts only the keyed projection
    (id, hash, bucket, n_tokens — ~32 B/row), never the text, so the
    per-bucket sort holds ~32 B x n_docs / n_buckets. Size n_buckets so
    each bucket stays within one executor's in-memory sort budget
    (~32M rows ~ 1 GB is comfortable): n_buckets ~ n_docs / 32e6,
    rounded up to a power of two, floor 64 — see
    ``suggest_pack_buckets``. At 1e9 docs (a ~100 TB corpus of ~100 KB
    docs) the default 64 gives ~16M rows ~ 0.5 GB per sort — fine; only
    short-doc corpora (1e11+ docs) need more buckets. More buckets =
    more parallelism and smaller sorts at the cost of more partially
    filled final packs (one per bucket tail); packing quality is
    otherwise independent of n_buckets."""
    from fluvio_jolt_spark.operators.dedup import md5_60

    h = (
        md5_60(F.col(id_col).cast("string"))
        if hash_family == "md5"
        else F.xxhash64(F.col(id_col))
    )
    n_tokens = F.size(F.split(F.col(text_col), " "))
    keyed = df.select(
        F.col(id_col),
        h.alias("_h"),
        F.pmod(h, F.lit(n_buckets)).cast("int").alias("bucket"),
        n_tokens.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return keyed.select(
        id_col,
        "bucket",
        F.floor(start / budget_tokens).cast("long").alias("pack_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        start.cast("long").alias("start_offset"),
    )


def suggest_pack_buckets(n_docs: int, target_rows_per_bucket: int = 32_000_000) -> int:
    """Derive ``pack_documents(n_buckets=...)`` from corpus size: the
    smallest power of two (floor 64) keeping each bucket's window sort
    under ``target_rows_per_bucket`` rows of the ~32 B/row keyed
    projection (~1 GB at the default — comfortably one executor's
    in-memory sort). See the sizing discussion in ``pack_documents``."""
    import math

    need = max(1, -(-int(n_docs) // int(target_rows_per_bucket)))  # ceil div
    return max(64, 1 << math.ceil(math.log2(need)))


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    oov_alpha: float = 0.5,
    total_tokens: "int | None" = None,
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram model — the CCNet-style language-model quality filter:
    documents whose tokens are "normal" for the corpus score high
    (closer to 0), keyboard mash / boilerplate / wrong-language text
    scores low. score(d) = mean over tokens t of ln(count(t) / N),
    with tokens rarer than ``min_count`` treated as OOV at a smoothed
    floor ln(oov_alpha / N).

    100-TB shape: token counts are a partial-agg'd groupBy; the
    token-vocab join shuffles on the token key (the vocabulary is
    corpus-sized — NOT broadcast, same reasoning as TF-IDF's df table);
    ``min_count`` prunes the hapax tail, which at web scale is most of
    the vocabulary rows. N is one bounded driver-side count (catalog
    statistic folded in as a literal — a lit-keyed 1-row join would
    constant-fold into a nested-loop join). In a train/serve split the
    caller passes ``total_tokens`` and persists the vocab table.
    round(.,4) absorbs cross-engine libm ln() and sum-order noise.
    """
    toks = fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        id_col, F.explode(F.split(text_col, " ")).alias("tok")
    )
    if total_tokens is None:
        # map-only: sum(size(split)) equals count(explode(split)) without
        # materializing the token stream for a driver count (one pruned
        # scan, no shuffle — the bigram_logprob idiom)
        total_tokens = df.select(
            F.sum(F.size(F.split(F.col(text_col), " ")))
        ).collect()[0][0]
    n = float(total_tokens)
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= int(min_count))
    )
    lp = F.when(
        F.col("c").isNotNull(), F.log(F.col("c") / F.lit(n))
    ).otherwise(F.log(F.lit(float(oov_alpha)) / F.lit(n)))
    return (
        toks.join(vocab, "tok", "left")
        .groupBy(id_col)
        .agg(F.round(F.avg(lp), 4).alias("unigram_logprob"))
    )


def token_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    decimals: int = 4,
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution plus the
    type-token ratio — the information-density quality signals: spam /
    keyword-stuffed / template text has low entropy and low TTR for its
    length, while natural prose sits in a narrow band (a standard
    pre-training corpus filter alongside the Gopher repetition rules in
    ``with_repetition_stats``).

    H(d) = -sum_t p_t ln p_t over the doc's token counts, computed in
    the numerically-stable single-division form ln(n) - sum(c ln c)/n
    so every ln argument is an exact integer count (cross-engine float
    noise enters only in the final few ops; round(.,decimals) absorbs
    it). ttr = distinct/total tokens.

    100-TB shape: explode → groupBy (doc, token) → groupBy doc; both
    aggregates partial-combine map-side and share the doc-key shuffle
    (the second groupBy's key is a prefix of the first's). No joins, no
    broadcast, no vocabulary table — strictly per-document work.

    Returns (id_col, n_tokens, n_distinct, ttr, entropy)."""
    toks = fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        id_col, F.explode(F.split(text_col, " ")).alias("tok")
    )
    counts = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    c_ln_c = F.sum(F.col("c") * F.log(F.col("c")))
    return counts.groupBy(id_col).agg(
        n.cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(F.count(F.lit(1)) / n, decimals).alias("ttr"),
        F.round(F.log(n) - c_ln_c / n, decimals).alias("entropy"),
    )


def with_charset_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Encoding-health stats per document — the mojibake/binary-junk
    filter that runs in front of every web-scale text pipeline:
    documents with control characters, U+FFFD replacement characters
    (the utf-8 decode-failure tombstone), or a low ASCII ratio get
    routed to re-decode/drop. Pure Catalyst regexp_count over patterns
    in the Java/RE2-identical subset (same contract as with_pii_scan);
    column-pruned, zero shuffle.

    Adds: n_non_ascii, ascii_ratio, n_control (C0 controls minus
    tab/newline/CR), n_replacement (U+FFFD). Char length lives in
    with_token_counts — the column names are kept disjoint so the
    helpers compose on one frame (and `documents` already carries
    n_chars)."""
    ln = F.length(text_col)

    def _count(pattern: str):
        return F.regexp_count(F.col(text_col), F.lit(pattern))

    non_ascii = _count(r"[^\x00-\x7F]")
    return (
        df.withColumn("n_non_ascii", non_ascii)
        .withColumn(
            "ascii_ratio",
            F.when(ln > 0, F.round(1.0 - non_ascii / ln, 4)).otherwise(
                F.lit(None).cast("double")
            ),
        )
        .withColumn("n_control", _count(r"[\x00-\x08\x0b\x0c\x0e-\x1f]"))
        .withColumn("n_replacement", _count("�"))
    )


def unigram_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    total_tokens: "int | None" = None,
) -> DataFrame:
    """Per-group token-distribution drift vs the whole corpus: KL(p‖q)
    and Jensen–Shannon divergence between each group's unigram
    distribution p and the corpus distribution q — the source-level
    companion to psi_drift for TEXT: which slice of the mixture reads
    "unlike the rest" (different language, boilerplate, template spam)
    and by how much, in nats.

    JS needs the corpus tokens a group never uses; materializing a
    (group × vocab) frame for those would explode, so the absent-token
    mass folds in closed form: for p=0 the JS term is q·ln2/2, and
    summing over absent tokens gives (1 − Q_g)·ln2/2 with
    Q_g = Σ_{t∈g} q(t) — one extra aggregate over rows that already
    exist.  KL is finite as-is (every group token appears in the
    corpus, so q > 0).

    100-TB shape: one (group, token) partial-agg'd groupBy is the only
    big shuffle; the corpus distribution re-aggregates those partials
    on the token key (vocabulary-sized — NOT broadcast, the TF-IDF df
    reasoning); per-group totals are a tiny frame broadcast back.  N is
    one bounded driver-side count (catalog-stat pattern — a lit-keyed
    1-row join would constant-fold into a nested-loop join).
    round(.,4) absorbs cross-engine libm ln() and sum-order noise.

    Returns one row per group: (group, n_tokens, kl, js)."""
    toks = df.select(group_col, F.explode(F.split(text_col, " ")).alias("tok"))
    if total_tokens is None:
        total_tokens = toks.count()
    n = float(total_tokens)

    gc = toks.groupBy(group_col, "tok").agg(F.count(F.lit(1)).alias("c_g"))
    corpus = gc.groupBy("tok").agg(F.sum("c_g").alias("c_all"))
    tot_g = gc.groupBy(group_col).agg(F.sum("c_g").alias("n_g"))

    j = gc.join(corpus, "tok")
    # rename the totals-side key: tot_g descends from gc, so a same-name
    # join condition would lean on dataset-id disambiguation
    b = F.broadcast(tot_g.withColumnRenamed(group_col, "__tot_g"))
    j = j.join(b, j[group_col].eqNullSafe(F.col("__tot_g"))).drop("__tot_g")

    p = F.col("c_g").cast("double") / F.col("n_g").cast("double")
    q = F.col("c_all").cast("double") / F.lit(n)
    m = (p + q) / F.lit(2.0)
    kl_term = p * F.log(p / q)
    js_present = (p * F.log(p / m) + q * F.log(q / m)) / F.lit(2.0)

    ln2 = 0.6931471805599453
    return (
        j.groupBy(group_col)
        .agg(
            F.max("n_g").alias("n_tokens"),
            F.round(F.sum(kl_term), 4).alias("kl"),
            F.sum(js_present).alias("_js_p"),
            F.sum(q).alias("_q_g"),
        )
        .withColumn(
            "js",
            F.round(
                F.col("_js_p") + (F.lit(1.0) - F.col("_q_g")) * F.lit(ln2 / 2.0),
                4,
            ),
        )
        .drop("_js_p", "_q_g")
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
    total_tokens: "int | None" = None,
) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    interpolated bigram model — the second-order upgrade of
    unigram_logprob: p(w2|w1) = λ·c(w1w2)/c(w1·) + (1−λ)·c(w2)/N, so
    word-salad documents whose unigrams are individually common but
    never co-occur (shuffled boilerplate, keyword stuffing) score low
    where the unigram filter is blind.  Interpolation (rather than
    backoff) keeps every observed bigram's probability positive without
    discount bookkeeping.

    100-TB shape: the bigram stream explodes once and is aggregated on
    the (w1, w2) key; continuation totals c(w1·) REUSE those partials
    (one more tiny agg, no second pass over text); both count tables
    join back on their own keys — bigram-vocabulary-sized, never
    broadcast (the TF-IDF df reasoning).  N is a bounded driver-side
    count (catalog-stat pattern).  Documents with fewer than two
    tokens emit no bigrams and are absent from the output (the guard
    matters: Spark's sequence(1, 0) would count DOWN).  round(.,4)
    absorbs cross-engine libm ln() and sum-order noise."""
    l = F.split(F.col(text_col), " ")
    n = F.size(l)
    # r6: build (w1, w2) pairs by zipping two shifted slices and explode
    # the pair structs directly. The previous index-explode carried the
    # ENTIRE token array in every exploded row (one copy per bigram —
    # O(len²) bytes per document through the generator) just to
    # element_at two words out of it.
    m = n - F.lit(1)
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(l, 1, m),
            F.slice(l, 2, m),
            lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    narrow = fan_out(df.select(F.col(id_col), F.col(text_col)))
    bi = narrow.select(F.col(id_col), F.explode(pairs).alias("_p")).select(
        id_col, F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2")
    )

    uni = narrow.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    if total_tokens is None:
        # map-only: sum(size(split)) equals count(explode(split)) —
        # including empty tokens from repeated separators — without
        # materializing the token stream for a driver count
        total_tokens = df.select(
            F.sum(F.size(F.split(F.col(text_col), " ")))
        ).collect()[0][0]
    n_corpus = float(total_tokens)

    c_bi = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bi"))
    c_w1 = c_bi.groupBy("w1").agg(F.sum("c_bi").alias("c_w1"))
    c_uni = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c_uni"))

    # p(w2|w1) depends only on the bigram TYPE, so fold the three count
    # tables into one vocab-sized probability table first (joins over
    # bigram-vocabulary cardinality) and hit the heavy exploded bigram
    # STREAM with a single join — same IEEE ops per bigram, one stream
    # shuffle instead of three
    p = (
        F.lit(float(lam)) * F.col("c_bi").cast("double") / F.col("c_w1").cast("double")
        + F.lit(1.0 - float(lam)) * F.col("c_uni").cast("double") / F.lit(n_corpus)
    )
    p_tbl = (
        c_bi.join(c_w1, "w1")
        .join(c_uni.withColumnRenamed("tok", "w2"), "w2")
        .select("w1", "w2", F.log(p).alias("lp"))
    )
    return bi.join(p_tbl, ["w1", "w2"]).groupBy(id_col).agg(
        F.round(F.avg("lp"), 4).alias("bigram_logprob"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: "list[str]",
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    stats: "tuple[int, float, list[int]] | None" = None,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed term set
    — the classic sparse-retrieval scorer (and the standard "find
    training docs about X" triage query). Uses the Lucene-style
    non-negative idf, idf(t) = ln((N − df_t + 0.5)/(df_t + 0.5) + 1).

    100-TB shape: per-document term frequencies are pure array
    expressions over the tokenized text (map-only, no explode — the
    term set is tiny and fixed, so tf comes from size(filter(...)) per
    term, not a token shuffle); corpus statistics (N, avgdl, df_t) are
    ONE bounded driver-side aggregate row folded back as literals
    (catalog-stat pattern — a lit-keyed 1-row join would constant-fold
    into a nested-loop join). Callers with a persisted stats table pass
    ``stats=(n_docs, avg_dl, [df_t per term])`` and the scan is a
    single map-only pass. idf is computed driver-side on exact-half
    rationals, so both engines see bit-identical doubles; round(.,4)
    absorbs tf-normalization division noise.

    Returns (id, bm25, n_terms_hit) — top-k is the caller's
    orderBy(desc, id).limit(k), which plans as TakeOrderedAndProject.
    """
    import math

    toks = F.split(F.col(text_col), " ")

    # closure factory, NOT a default-arg lambda: a 2-param lambda would make
    # F.filter pass the element INDEX as the second argument
    def _eq(word):
        return lambda t: t == F.lit(word)

    tf_cols = [
        F.size(F.filter(toks, _eq(w))).alias(f"_tf_{i}")
        for i, w in enumerate(query_terms)
    ]
    s = df.select(F.col(id_col), F.size(toks).alias("_dl"), *tf_cols)

    if stats is None:
        row = s.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("_dl").alias("avgdl"),
            *[
                F.sum((F.col(f"_tf_{i}") > 0).cast("long")).alias(f"_df_{i}")
                for i in range(len(query_terms))
            ],
        ).first()
        n_docs, avg_dl = int(row["n"]), float(row["avgdl"])
        dfs = [int(row[f"_df_{i}"]) for i in range(len(query_terms))]
    else:
        n_docs, avg_dl, dfs = int(stats[0]), float(stats[1]), list(stats[2])

    norm = F.lit(float(k1)) * (
        F.lit(1.0 - float(b))
        + F.lit(float(b)) * F.col("_dl").cast("double") / F.lit(avg_dl)
    )
    score = F.lit(0.0)
    hits = F.lit(0)
    for i in range(len(query_terms)):
        idf = math.log((n_docs - dfs[i] + 0.5) / (dfs[i] + 0.5) + 1.0)
        tf = F.col(f"_tf_{i}").cast("double")
        score = score + F.lit(idf) * tf * F.lit(float(k1) + 1.0) / (tf + norm)
        hits = hits + (F.col(f"_tf_{i}") > 0).cast("int")
    return s.select(
        F.col(id_col),
        F.round(score, 4).alias("bm25"),
        hits.alias("n_terms_hit"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 20,
    max_words: int = 10_000,
    min_mean_wl: float = 3.0,
    max_mean_wl: float = 10.0,
    min_stopword_ratio: float = 0.01,
    max_dup_word_frac: float = 0.6,
    max_dup_3gram_frac: float = 0.15,
) -> DataFrame:
    """Gopher/C4-style composite keep/drop decision with per-rule
    reason flags: word-count band, mean-word-length band, minimum
    stopword ratio, and repetition caps (duplicated-word and
    duplicated-3-gram fractions). One boolean per rule so downstream
    audits can census WHY documents were dropped, plus the final
    ``keep`` conjunction.

    100-TB shape: every rule is a pure per-row array expression over
    one tokenization — map-only, zero shuffle, zero Python; pipelines
    directly over the scan with only ``text`` read. Comparisons happen
    on exact integer-ratio doubles (no rounding needed: both engines
    compute identical IEEE values from identical integers)."""
    df = fan_out(df)
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    nd = n.cast("double")
    mean_wl = (F.length(text_col).cast("double") - (nd - 1)) / nd
    stop = (
        F.size(F.filter(toks, lambda t: t.isin(*_EN_STOPWORDS))).cast("double") / nd
    )
    dup_word = F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / nd
    # 3-grams by zipping shifted slices (the with_repetition_stats idiom —
    # transform(sequence, i -> slice(...)) re-evaluates the split per
    # element and measures ~50x slower at sf0.1)
    m = n - F.lit(2)
    shifted = F.slice(toks, 1, m)
    for k in range(1, 3):
        shifted = F.zip_with(
            shifted, F.slice(toks, k + 1, m), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    grams = F.when(n >= 3, shifted).otherwise(F.array().cast("array<string>"))
    n_grams = F.size(grams).cast("double")
    dup_3gram = F.when(
        n >= 3,
        F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / n_grams,
    ).otherwise(F.lit(0.0))

    flag_short = n < F.lit(int(min_words))
    flag_long = n > F.lit(int(max_words))
    flag_word_len = (mean_wl < F.lit(float(min_mean_wl))) | (
        mean_wl > F.lit(float(max_mean_wl))
    )
    flag_low_stopword = stop < F.lit(float(min_stopword_ratio))
    flag_repetitive = (dup_word > F.lit(float(max_dup_word_frac))) | (
        dup_3gram > F.lit(float(max_dup_3gram_frac))
    )
    keep = ~(
        flag_short | flag_long | flag_word_len | flag_low_stopword | flag_repetitive
    )
    return df.select(
        F.col(id_col),
        flag_short.alias("flag_short"),
        flag_long.alias("flag_long"),
        flag_word_len.alias("flag_word_len"),
        flag_low_stopword.alias("flag_low_stopword"),
        flag_repetitive.alias("flag_repetitive"),
        keep.alias("keep"),
    )


def mixture_weights(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    totals: "tuple[int, int] | None" = None,
) -> DataFrame:
    """Per-source resampling weights that rebalance the corpus token
    mixture to uniform across sources — the training-mix planning
    query (how much to up/down-sample each source so every source
    contributes equal token mass): weight_g = (1/S) / share_g where
    share_g = tokens_g / N.

    100-TB shape: one partial-agg'd groupBy(source) is the only
    shuffle; corpus totals (N tokens, S sources) are a bounded
    driver-side aggregate over the already-grouped S-row frame, folded
    back as literals (catalog-stat pattern — avoids both a lit-key
    BNLJ and a global window over the grouped frame). Callers with a
    persisted stats row pass ``totals=(total_tokens, n_groups)``."""
    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col(text_col), " "))).alias("n_tokens"),
    )
    if totals is None:
        row = g.agg(
            F.sum("n_tokens").alias("t"), F.count(F.lit(1)).alias("s")
        ).first()
        total_tokens, n_groups = int(row["t"]), int(row["s"])
    else:
        total_tokens, n_groups = int(totals[0]), int(totals[1])
    share = F.col("n_tokens").cast("double") / F.lit(float(total_tokens))
    weight = F.lit(float(total_tokens)) / (
        F.lit(float(n_groups)) * F.col("n_tokens").cast("double")
    )
    return g.select(
        group_col,
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("token_share"),
        F.round(weight, 6).alias("weight"),
    )


def boilerplate_prefixes(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    prefix_len: int = 24,
    top_k: int = 1,
) -> DataFrame:
    """Boilerplate detection: the most common fixed-length normalized
    document prefixes per group (source/domain) and the fraction of the
    group's documents sharing each — the signal a C4/CCNet-style
    pipeline uses to find and strip shared headers, cookie banners and
    license preambles before dedup (boilerplate inflates near-dup
    similarity and wastes training tokens).

    Normalization matches ``with_fingerprint``: lowercase + whitespace
    runs collapsed to single spaces, so cosmetic formatting differences
    don't split a boilerplate bucket.

    100-TB shape: a map-side substring projection followed by two-level
    hash aggregation on (group, prefix) — partial aggregation collapses
    each partition to its distinct prefixes before the shuffle, so the
    exchange carries ~unique-prefix rows, not documents; the per-group
    top-k and share are a row_number/sum window over that already-tiny
    aggregate (never over raw docs).  Raising prefix_len sharpens
    precision at the cost of bucket fragmentation."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"[ \t\n\r]+", " "))
    counts = (
        df.select(
            F.col(group_col).alias("grp"),
            F.substring(norm, 1, int(prefix_len)).alias("prefix"),
        )
        .groupBy("grp", "prefix")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    by_grp = Window.partitionBy("grp")
    ranked = counts.withColumn("grp_total", F.sum("n_docs").over(by_grp)).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("grp").orderBy(
                F.col("n_docs").desc(), F.col("prefix").asc()
            )
        ),
    )
    return ranked.filter(F.col("rank") <= int(top_k)).select(
        F.col("grp").alias(group_col),
        "prefix",
        "n_docs",
        "grp_total",
        (F.col("n_docs").cast("double") / F.col("grp_total").cast("double")).alias(
            "share"
        ),
        F.col("rank"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking (RAG / context-window prep):
    split each document's whitespace tokens into fixed-size chunks with
    a fixed overlap, preserving provenance — (id, chunk_idx, start_tok,
    end_tok, n_chunk_tokens, chunk_text).  The last chunk may be short;
    a chunk is emitted only if it starts before the end of the doc, so
    every token lands in at least one chunk and no empty chunks are
    produced.

    Deterministic pure-array arithmetic: chunk starts are the sequence
    0, stride, 2*stride, ... (stride = chunk - overlap), sliced from
    the token array and re-joined — no Python, no UDFs.

    100-TB shape: map-only (explode is row-local generation — zero
    shuffle); output size is input x (1 + overlap/stride), which the
    caller prices by choosing the overlap.  Downstream embedding /
    indexing stages consume the chunks with provenance intact."""
    if chunk_tokens < 1 or not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError("need chunk_tokens >= 1 and 0 <= overlap < chunk")
    stride = int(chunk_tokens - overlap_tokens)
    toks = F.split(F.col(text_col), r"\s+")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    exploded = (
        df.select(
            F.col(id_col).alias("id"),
            toks.alias("_toks"),
            F.posexplode(starts).alias("chunk_idx", "start_tok"),
        )
    )
    end_tok = F.least(F.col("start_tok") + F.lit(int(chunk_tokens)), F.size("_toks"))
    chunk = F.slice(F.col("_toks"), F.col("start_tok") + 1, F.lit(int(chunk_tokens)))
    return exploded.select(
        F.col("id").alias(id_col),
        "chunk_idx",
        "start_tok",
        (end_tok - 1).alias("end_tok"),
        (end_tok - F.col("start_tok")).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def vocab_tail_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Vocabulary-tail audit per group: vocabulary size, hapax
    legomena count (types occurring exactly once) and hapax ratio,
    plus total token mass — the classic corpus-health stat: a high
    hapax ratio signals OCR noise / mojibake / boilerplate IDs, a very
    low one signals template or duplicated text.

    100-TB shape: one shuffle keyed on (group, token) with map-side
    partial counts (token strings cross the exchange once, already
    combined per partition), then a per-group roll-up of the
    already-small type table.  Same exchange shape as document
    frequency; no windows, no Python.

    Returns (group, n_tokens, n_vocab, n_hapax, hapax_ratio)."""
    toks = F.explode(F.split(F.col(text_col), r"\s+")).alias("tok")
    counts = (
        df.select(F.col(group_col).alias("grp"), toks)
        .groupBy("grp", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counts.groupBy("grp")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_vocab"),
            F.sum((F.col("n") == 1).cast("long")).alias("n_hapax"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "n_vocab",
            "n_hapax",
            F.round(
                F.col("n_hapax").cast("double") / F.col("n_vocab"), 6
            ).alias("hapax_ratio"),
        )
    )
