"""Text-analysis operators over documents (Catalyst-only plan checks +
value sanity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluvio_jolt_spark.operators.text_analysis import (
    with_charset_stats,
    with_fingerprint,
    with_pii_scan,
    with_token_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_token_counts(spark, docs):
    out = with_token_counts(docs).limit(50).toPandas()
    for _, r in out.iterrows():
        toks = r.text.split()
        assert r.n_tokens == len(toks)
        assert r.n_distinct_tokens == len(set(toks))
        assert r.n_chars == len(r.text)


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different text")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.fingerprint for r in with_fingerprint(df).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_text_ops_are_narrow(spark, docs):
    out = with_charset_stats(with_pii_scan(with_fingerprint(with_token_counts(docs))))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # no Python UDFs in the hot path


def test_pii_scan_planted(spark):
    """Planted positives/negatives for every pattern class."""
    df = spark.createDataFrame(
        [
            (0, "contact me at alice.smith+work@example.co.uk thanks"),
            (1, "see https://example.com/a?b=1 and http://x.io"),
            (2, "card 12345678901234 and phone 5551234567"),
            (3, "no personal data in this row at all"),
            (4, "mixed: bob@x.org https://y.z 99999999"),
        ],
        "id long, text string",
    )
    out = with_pii_scan(df).toPandas().set_index("id")
    assert out.loc[0, "n_emails"] == 1 and out.loc[0, "pii_flag"] == 1
    assert out.loc[1, "n_urls"] == 2 and out.loc[1, "n_emails"] == 0
    assert out.loc[2, "n_long_digit_runs"] == 2
    assert out.loc[3, "pii_flag"] == 0
    assert (
        out.loc[4, ["n_emails", "n_urls", "n_long_digit_runs"]].tolist() == [1, 1, 1]
    )


def test_mixture_sample_deterministic_and_weighted(spark):
    """The hash draw is reproducible (same rows across runs and
    repartitionings) and tracks the requested per-class rates."""
    from fluvio_jolt_spark.operators.text_analysis import mixture_sample

    df = spark.range(20_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    rates = {"en": 0.5, "de": 0.1}
    a = mixture_sample(df, rates).toPandas()
    b = mixture_sample(df.repartition(13), rates).toPandas()
    assert sorted(a.doc_id) == sorted(b.doc_id)
    frac = a.groupby("lang").size() / 10_000
    assert abs(frac["en"] - 0.5) < 0.03 and abs(frac["de"] - 0.1) < 0.02


def test_pack_documents_invariants(spark):
    """Packing invariants: per-bucket offsets are a contiguous prefix
    sum in (hash, id) order; pack_id == start_offset // budget; the
    assignment is identical under repartitioning."""
    from fluvio_jolt_spark.operators.text_analysis import pack_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = pack_documents(docs, budget_tokens=256, n_buckets=4).toPandas()
    b = pack_documents(docs.repartition(11), budget_tokens=256, n_buckets=4).toPandas()
    key = ["doc_id"]
    assert a.sort_values(key).reset_index(drop=True).equals(
        b.sort_values(key).reset_index(drop=True)
    )
    assert (a.pack_id == a.start_offset // 256).all()
    for _, grp in a.groupby("bucket"):
        g = grp.sort_values("start_offset")
        # contiguous: each start = previous start + previous tokens
        starts = g.start_offset.to_numpy()
        toks = g.n_tokens.to_numpy()
        assert starts[0] == 0
        assert (starts[1:] == starts[:-1] + toks[:-1]).all()


def test_pack_documents_high_bucket_count(spark):
    """n_buckets is a pure parallelism knob: at 4096 buckets (the
    short-doc-corpus setting from suggest_pack_buckets) every doc still
    appears exactly once, total tokens are preserved, offsets stay
    contiguous prefix sums per bucket, and bucket assignment follows
    pmod(hash, n_buckets)."""
    from fluvio_jolt_spark.operators.text_analysis import pack_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = pack_documents(docs, budget_tokens=256, n_buckets=64).toPandas()
    wide = pack_documents(docs, budget_tokens=256, n_buckets=4096).toPandas()
    assert len(wide) == len(base) == docs.count()
    assert wide.doc_id.is_unique
    # token counts are a property of the doc, not the bucketing
    assert (
        wide.set_index("doc_id").n_tokens.sort_index()
        == base.set_index("doc_id").n_tokens.sort_index()
    ).all()
    assert (wide.pack_id == wide.start_offset // 256).all()
    assert wide.bucket.between(0, 4095).all()
    for _, grp in wide.groupby("bucket"):
        g = grp.sort_values("start_offset")
        starts = g.start_offset.to_numpy()
        toks = g.n_tokens.to_numpy()
        assert starts[0] == 0
        assert (starts[1:] == starts[:-1] + toks[:-1]).all()


def test_suggest_pack_buckets():
    from fluvio_jolt_spark.operators.text_analysis import suggest_pack_buckets

    assert suggest_pack_buckets(1_000) == 64
    assert suggest_pack_buckets(1_000_000_000) == 64  # ~100 TB of 100 KB docs
    assert suggest_pack_buckets(10_000_000_000) == 512
    assert suggest_pack_buckets(100_000_000_000) == 4096


def test_repetition_stats_bruteforce(spark):
    import pandas as pd

    from fluvio_jolt_spark.operators.text_analysis import with_repetition_stats

    texts = [
        "the cat sat on the mat the cat sat again",   # repeated words+grams
        "buy now buy now buy now buy now",            # degenerate spam
        "all words here are fully distinct tokens",   # no repetition
        "tiny doc",                                   # < 3 tokens: gram NULL
        "one",                                        # single token
        "a a a",                                      # all same
    ]
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    got = with_repetition_stats(df, n=3).toPandas().set_index("doc_id")

    import re

    for i, t in enumerate(texts):
        toks = re.split(r"\s+", t)
        grams = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        want_w = 1.0 - len(set(toks)) / len(toks)
        assert got.loc[i, "dup_word_frac"] == pytest.approx(want_w, abs=1e-12)
        if grams:
            want_g = 1.0 - len(set(grams)) / len(grams)
            assert got.loc[i, "dup_3gram_frac"] == pytest.approx(want_g, abs=1e-12)
        else:
            assert pd.isna(got.loc[i, "dup_3gram_frac"])

    # degenerate spam ranks above clean prose on both axes
    assert got.loc[1, "dup_word_frac"] > got.loc[2, "dup_word_frac"]
    assert got.loc[1, "dup_3gram_frac"] > 0.5


def test_unigram_logprob_oov_floor(spark):
    """Common tokens score ln(c/N); hapax tokens hit the OOV floor
    ln(alpha/N); per-doc score is the token mean."""
    import math
    import pandas as pd
    from fluvio_jolt_spark.operators.text_analysis import unigram_logprob

    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": ["the cat", "the dog", "zzz"],
        })
    )
    got = {
        r["doc_id"]: r["unigram_logprob"]
        for r in unigram_logprob(docs, min_count=2, oov_alpha=0.5).collect()
    }
    n = 5.0  # the, cat, the, dog, zzz
    lp_the = math.log(2 / n)
    lp_oov = math.log(0.5 / n)
    assert got[1] == round((lp_the + lp_oov) / 2, 4)
    assert got[2] == round((lp_the + lp_oov) / 2, 4)
    assert got[3] == round(lp_oov, 4)


def test_token_entropy_hand_computed(spark):
    import math
    import pandas as pd
    from fluvio_jolt_spark.operators.text_analysis import token_entropy

    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": ["a a b b", "a a a a", "x"],
        })
    )
    rows = {r["doc_id"]: r for r in token_entropy(docs).collect()}
    # uniform over 2 types -> ln 2; constant -> 0; singleton -> 0
    assert rows[1]["n_tokens"] == 4 and rows[1]["n_distinct"] == 2
    assert rows[1]["ttr"] == 0.5
    assert rows[1]["entropy"] == round(math.log(2), 4)
    assert rows[2]["entropy"] == 0.0 and rows[2]["ttr"] == 0.25
    assert rows[3]["n_tokens"] == 1 and rows[3]["entropy"] == 0.0


def test_token_entropy_matches_bruteforce(spark):
    import math
    from collections import Counter

    from fluvio_jolt_spark.operators.text_analysis import token_entropy

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    got = {r["doc_id"]: r for r in token_entropy(docs).collect()}
    for row in docs.collect():
        c = Counter(row["text"].split(" "))
        n = sum(c.values())
        h = math.log(n) - sum(v * math.log(v) for v in c.values()) / n
        g = got[row["doc_id"]]
        assert g["n_tokens"] == n
        assert g["n_distinct"] == len(c)
        assert abs(g["entropy"] - h) < 1.1e-4
        assert abs(g["ttr"] - len(c) / n) < 1.1e-4


def test_charset_stats_planted_mojibake(spark):
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1, 2, 3, 4],
            "text": [
                "clean ascii text",
                "café naïve résumé",      # 4 non-ascii
                "bad � decode � here",                 # 2 tombstones
                "ctrl\x01chars\x1fhere",                          # 2 C0 controls
            ],
        })
    )
    rows = {r["doc_id"]: r for r in with_charset_stats(docs).collect()}
    assert rows[1]["n_non_ascii"] == 0 and rows[1]["ascii_ratio"] == 1.0
    assert rows[1]["n_control"] == 0 and rows[1]["n_replacement"] == 0
    assert rows[2]["n_non_ascii"] == 4
    assert rows[2]["ascii_ratio"] == round(1 - 4 / len("café naïve résumé"), 4)
    assert rows[3]["n_replacement"] == 2
    assert rows[3]["n_non_ascii"] == 2  # U+FFFD is itself non-ascii
    assert rows[4]["n_control"] == 2


def test_unigram_divergence_identical_groups_zero(spark):
    import pandas as pd
    from fluvio_jolt_spark.operators.text_analysis import unigram_divergence

    # both sources have the SAME token distribution -> p == q -> KL = JS = 0
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "source": ["a", "a", "b", "b"],
        "text": ["x y z", "x y", "x y z", "x y"],
    })
    out = unigram_divergence(spark.createDataFrame(pdf)).toPandas()
    assert (out["kl"] == 0.0).all() and (out["js"] == 0.0).all()


def test_unigram_divergence_disjoint_vocab_max_js(spark):
    import math
    import pandas as pd
    from fluvio_jolt_spark.operators.text_analysis import unigram_divergence

    # disjoint vocabularies, equal sizes: q = p/2 on own tokens ->
    # KL(p||q) = ln 2; JS vs the 50/50 corpus mix:
    #   present half: p*ln(2p/(p+p/2))/2 + q*ln(2q/(p+q))/2 summed = ...
    # just pin bounds + symmetry: 0 < js <= ln2, kl = ln2 exactly
    pdf = pd.DataFrame({
        "doc_id": [1, 2],
        "source": ["a", "b"],
        "text": ["x y z w", "p q r s"],
    })
    out = unigram_divergence(spark.createDataFrame(pdf)).toPandas()
    ln2 = math.log(2.0)
    assert (abs(out["kl"] - round(ln2, 4)) < 1e-9).all()
    assert (out["js"] > 0).all() and (out["js"] <= round(ln2, 4)).all()
    # symmetric setup -> identical divergence for both groups
    assert out["kl"].nunique() == 1 and out["js"].nunique() == 1


def test_unigram_divergence_total_tokens_passthrough(spark):
    import pandas as pd
    from fluvio_jolt_spark.operators.text_analysis import unigram_divergence

    pdf = pd.DataFrame({
        "doc_id": [1, 2],
        "source": ["a", "b"],
        "text": ["x y", "x z"],
    })
    df = spark.createDataFrame(pdf)
    a = unigram_divergence(df).toPandas().sort_values("source")
    b = unigram_divergence(df, total_tokens=4).toPandas().sort_values("source")
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


def test_bigram_logprob_coherent_beats_salad(spark):
    import pandas as pd
    from fluvio_jolt_spark.operators.text_analysis import bigram_logprob

    # docs 1-3 repeat the same bigrams; doc 4 uses the same WORDS in an
    # order whose bigrams never repeat -> lower interpolated score
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            "the cat sat on the mat",
            "the cat sat on the mat",
            "the cat sat on the mat",
            "mat the on sat cat the",
        ],
    })
    out = (
        bigram_logprob(spark.createDataFrame(pdf))
        .toPandas().set_index("doc_id")
    )
    assert out.loc[4, "bigram_logprob"] < out.loc[1, "bigram_logprob"]
    assert (out["n_bigrams"] == 5).all()


def test_bigram_logprob_short_docs_absent(spark):
    import pandas as pd
    from fluvio_jolt_spark.operators.text_analysis import bigram_logprob

    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["one", "", "two words"],
    })
    out = bigram_logprob(spark.createDataFrame(pdf)).toPandas()
    # only doc 3 has a bigram ("two words"); sequence(1,0) guard works
    assert list(out["doc_id"]) == [3]
    assert out["n_bigrams"].iloc[0] == 1


# ---------------------------------------------------------------- bm25


def test_bm25_hand_computed(spark):
    """3-doc corpus, one term — verify against a hand BM25 (k1=1.2,
    b=0.75, Lucene idf)."""
    import math

    from fluvio_jolt_spark.operators.text_analysis import bm25_scores

    rows = [
        (1, "cat cat dog"),
        (2, "cat bird bird bird"),
        (3, "fish fish fish"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: (r.bm25, r.n_terms_hit)
        for r in bm25_scores(df, ["cat"]).collect()
    }
    n, avgdl, dft = 3, 10 / 3, 2
    idf = math.log((n - dft + 0.5) / (dft + 0.5) + 1.0)

    def score(tf, dl):
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    assert out[1] == (round(score(2, 3), 4), 1)
    assert out[2] == (round(score(1, 4), 4), 1)
    assert out[3] == (0.0, 0)


def test_bm25_stats_passthrough_matches_self_computed(spark):
    """Passing precomputed (n, avgdl, dfs) must reproduce the
    self-computed scores — the persisted-stats serving path."""
    from fluvio_jolt_spark.operators.text_analysis import bm25_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    terms = ["spark", "window"]
    auto = bm25_scores(docs, terms)
    toks = F.split(F.col("text"), " ")
    row = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.size(toks)).alias("avgdl"),
        *[
            F.sum(F.array_contains(toks, t).cast("long")).alias(f"d{i}")
            for i, t in enumerate(terms)
        ],
    ).first()
    manual = bm25_scores(
        docs, terms, stats=(row["n"], row["avgdl"], [row["d0"], row["d1"]])
    )
    a = sorted(map(tuple, auto.collect()))
    b = sorted(map(tuple, manual.collect()))
    assert a == b


def test_bm25_term_frequency_monotone(spark):
    """More occurrences of the query term (same doc length) never
    lowers the score."""
    from fluvio_jolt_spark.operators.text_analysis import bm25_scores

    rows = [
        (1, "cat pad pad pad"),
        (2, "cat cat pad pad"),
        (3, "cat cat cat pad"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.bm25 for r in bm25_scores(df, ["cat"]).collect()}
    assert out[1] <= out[2] <= out[3]


def test_bm25_plan_is_map_only(spark):
    """The scoring pass after stats folding must be shuffle-free."""
    from fluvio_jolt_spark.operators.text_analysis import bm25_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = bm25_scores(docs, ["spark"], stats=(500, 55.0, [100]))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ------------------------------------------------------- quality_filter


def test_quality_filter_planted_rules(spark):
    """Each rule trips on a purpose-built document."""
    from fluvio_jolt_spark.operators.text_analysis import quality_filter

    good = "the quick brown fox jumps over a lazy dog near the old stone " \
           "bridge while a cold wind blows through the tall green trees today"
    rows = [
        (1, good),                                  # keeps
        (2, "the a of short"),                      # flag_short
        (3, "the " + "abcdefghijklmnop " * 39 + "the"),  # flag_word_len (long words)
        (4, "alpha beta gamma delta " * 10),        # flag_low_stopword + repetitive
        (5, ("the a " * 15) + "of and to in is that now then"),  # repetitive dup words
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.asDict() for r in quality_filter(df).collect()}
    assert out[1]["keep"] is True
    assert out[2]["flag_short"] and not out[2]["keep"]
    assert out[3]["flag_word_len"] and not out[3]["keep"]
    assert out[4]["flag_low_stopword"] and out[4]["flag_repetitive"]
    assert out[5]["flag_repetitive"] and not out[5]["keep"]


def test_quality_filter_plan_is_map_only(spark):
    from fluvio_jolt_spark.operators.text_analysis import quality_filter

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = quality_filter(docs)._jdf.queryExecution().executedPlan().toString()
    # map-only: no keyed (hash/range) shuffle anywhere in the plan. A
    # RoundRobinPartitioning exchange is permitted: that's fan_out's
    # input-skew repair when the source file arrives in fewer
    # partitions than cores (r6), not a data-dependent shuffle.
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


# ------------------------------------------------------ mixture_weights


def test_mixture_weights_rebalance_identity(spark):
    """share·weight = 1/S for every group, and shares sum to 1."""
    from fluvio_jolt_spark.operators.text_analysis import mixture_weights

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = mixture_weights(docs).collect()
    s = len(rows)
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert abs(r.token_share * r.weight - 1.0 / s) < 1e-4


def test_mixture_weights_totals_passthrough(spark):
    from fluvio_jolt_spark.operators.text_analysis import mixture_weights

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    auto = mixture_weights(docs)
    total = sum(r.n_tokens for r in auto.collect())
    manual = mixture_weights(docs, totals=(total, auto.count()))
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, manual.collect())
    )


def test_boilerplate_prefixes_planted(spark):
    """Plant a shared header in 6 of 9 docs of one source; the detector
    must surface it as the top prefix with share 6/9, and normalization
    must fold case/whitespace variants into the same bucket."""
    from fluvio_jolt_spark.operators.text_analysis import boilerplate_prefixes

    header = "COOKIE  Notice:\tplease accept our terms "
    rows = [(i, header + f"unique body {i}", "web") for i in range(6)]
    rows += [(i, f"organic document {i} with no header", "web")
             for i in range(6, 9)]
    rows += [(100 + i, f"other source doc {i}", "wiki") for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])

    out = boilerplate_prefixes(df, group_col="source", prefix_len=24,
                               top_k=1).toPandas()
    web = out[out["source"] == "web"].iloc[0]
    # lowercased + whitespace-collapsed prefix of the planted header
    assert web["prefix"] == "cookie notice: please ac"
    assert web["n_docs"] == 6 and web["grp_total"] == 9
    assert abs(web["share"] - 6 / 9) < 1e-12
    assert web["rank"] == 1
    assert (out[out["source"] == "wiki"]["grp_total"] == 4).all()


def test_boilerplate_prefixes_tiebreak_and_topk(spark):
    """Equal-count prefixes order lexicographically; top_k returns that
    many per group."""
    from fluvio_jolt_spark.operators.text_analysis import boilerplate_prefixes

    rows = [(1, "bbbb x", "s"), (2, "bbbb y", "s"),
            (3, "aaaa x", "s"), (4, "aaaa y", "s")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = (boilerplate_prefixes(df, group_col="source", prefix_len=4,
                                top_k=2)
           .orderBy("rank").toPandas())
    assert list(out["prefix"]) == ["aaaa", "bbbb"]
    assert list(out["rank"]) == [1, 2]


def test_chunk_documents_coverage_and_overlap(spark):
    """Every token is covered; consecutive chunks overlap by exactly
    overlap_tokens; reassembling stride-prefixes reproduces the doc."""
    from fluvio_jolt_spark.operators.text_analysis import chunk_documents

    words = " ".join(f"w{i}" for i in range(150))
    df = spark.createDataFrame([(1, words), (2, "a b c"), (3, "solo")],
                               ["doc_id", "text"])
    out = (chunk_documents(df, chunk_tokens=64, overlap_tokens=16)
           .orderBy("doc_id", "chunk_idx").toPandas())

    d1 = out[out["doc_id"] == 1]
    assert list(d1["start_tok"]) == [0, 48, 96, 144]
    assert list(d1["end_tok"]) == [63, 111, 149, 149]
    assert list(d1["n_chunk_tokens"]) == [64, 64, 54, 6]
    # overlap: chunk k's first 16 tokens == chunk k-1's last 16 (full chunks)
    c0, c1 = d1.iloc[0]["chunk_text"].split(), d1.iloc[1]["chunk_text"].split()
    assert c0[48:] == c1[:16]
    # reassembly: the stride-prefix of every chunk concatenated in order
    # reproduces the original token sequence
    rebuilt = []
    for _, r in d1.iterrows():
        toks = r["chunk_text"].split()
        rebuilt.extend(toks[:48])
    assert rebuilt[:150] == words.split()

    d2 = out[out["doc_id"] == 2]
    assert len(d2) == 1 and d2.iloc[0]["chunk_text"] == "a b c"
    d3 = out[out["doc_id"] == 3]
    assert len(d3) == 1 and d3.iloc[0]["n_chunk_tokens"] == 1


def test_chunk_documents_rejects_bad_params(spark):
    from fluvio_jolt_spark.operators.text_analysis import chunk_documents

    with pytest.raises(ValueError):
        chunk_documents(None, chunk_tokens=8, overlap_tokens=8)
    with pytest.raises(ValueError):
        chunk_documents(None, chunk_tokens=0, overlap_tokens=0)


def test_vocab_tail_stats_hand_computed(spark):
    """tokens: a=3, b=1, c=1 in s1 -> vocab 3, hapax 2; s2 all-template
    -> hapax 0."""
    from fluvio_jolt_spark.operators.text_analysis import vocab_tail_stats

    df = spark.createDataFrame(
        [(1, "a a b a c", "s1"), (2, "x x", "s2"), (3, "x x", "s2")],
        ["doc_id", "text", "source"],
    )
    out = vocab_tail_stats(df).orderBy("source").toPandas()
    s1 = out.iloc[0]
    assert (s1["n_tokens"], s1["n_vocab"], s1["n_hapax"]) == (5, 3, 2)
    assert abs(s1["hapax_ratio"] - 2 / 3) < 1e-6
    s2 = out.iloc[1]
    assert (s2["n_tokens"], s2["n_vocab"], s2["n_hapax"]) == (4, 1, 0)
    assert s2["hapax_ratio"] == 0.0
