"""Plan-build cost guard: py4j commands the driver sends while building
the heaviest registry frames on tiny inputs.

A deterministic count, not a timing, so it holds on a noisy host. It
catches a change that brings back per-Column chatter: call-site capture
switched back on in ``build_session`` (about four extra round-trips per
Column call), or a wide expression (simhash's 64 per-bit sums, the
minhash signature array, the LSH band keys) rebuilt from hundreds of
Column calls instead of one SQL string. Budgets sit about 1.5x above the
current counts (339, 286 and 380 commands). With call-site capture on
and per-Column wide expressions the same builds sent 11,132, 2,019 and
865; with capture off alone, 2,912, 1,369 and 385."""

from __future__ import annotations

import threading

import pytest
from py4j import protocol

from fluvio_jolt_spark.operators.dedup import minhash_lsh_candidates, simhash_candidates
from fluvio_jolt_spark.operators.similarity import embedding_near_dup

BUILDS = {
    "simhash_candidates": (
        "docs", lambda docs: simhash_candidates(docs, hash_family="md5", bucket_cap=64), 500),
    "minhash_lsh_candidates": (
        "docs", lambda docs: minhash_lsh_candidates(docs, num_hashes=16, bands=8, bucket_cap=64),
        430),
    # embedding_near_dup samples one row for its dims and checkpoints the
    # blocking frame, so its count includes those two small jobs
    "embedding_near_dup": (
        "emb", lambda emb: embedding_near_dup(emb, n_planes=6, threshold=0.4, n_tables=3,
                                              bucket_cap=64), 570),
}


@pytest.fixture(scope="module")
def inputs(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "lorem ipsum dolor sit amet")],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i)]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    return {"docs": docs, "emb": emb}


@pytest.mark.parametrize("name", sorted(BUILDS))
def test_plan_build_py4j_commands_within_budget(spark, inputs, monkeypatch, name):
    source, build, budget = BUILDS[name]
    build(inputs[source])  # warm the lazily loaded JVM handles first
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []
    this_thread = threading.get_ident()
    # py4j's finalizer thread releases collected JVM handles whenever
    # Python's garbage collector runs; those deletes are not build work
    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

    def counting(command, *args, **kwargs):
        if threading.get_ident() == this_thread and not command.startswith(release):
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    build(inputs[source])
    monkeypatch.undo()
    assert 0 < len(sent) <= budget, f"{name}: {len(sent)} py4j commands > {budget}"
