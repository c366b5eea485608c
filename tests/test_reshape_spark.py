"""The vectorized Jolt stage through Spark: parity with the pure-Python
engine record-by-record, dead-letter behavior, and plan shape."""

from __future__ import annotations

import json

import pytest

from fluvio_jolt_spark.operators.reshape import jolt_reshape, reference_bench_spec


def test_reshape_matches_pure_python(spark, transcripts_small):
    """Record-by-record parity with the pure-Python engine; input columns
    pass through byte-equal, and the output columns are the input
    columns followed by ``text_reshaped``, ``text_error``."""
    from fluvio_jolt_spark.jolt import transform, dumps_canonical

    df, _ = transcripts_small
    spec = reference_bench_spec()
    out = jolt_reshape(df.limit(200), spec, columns="text")
    n_in = len(df.columns)
    assert out.columns == df.columns + ["text_reshaped", "text_error"]
    inputs = {(r.conv_id, r.turn_idx): tuple(r) for r in df.collect()}
    rows = out.collect()
    assert rows, "no rows back from reshape"
    for r in rows:
        assert tuple(r)[:n_in] == inputs[(r.conv_id, r.turn_idx)]
        assert r.text_error is None
        expected = dumps_canonical(transform(json.loads(r.text), json.loads(spec)))
        assert r.text_reshaped == expected


def test_reshape_output_content(spark):
    spec = reference_bench_spec()
    record = {
        "_id": "x",
        "balance": "$9.99",
        "age": 30,
        "name": "A B",
        "gender": "male",
        "company": "C",
        "email": "e@x",
        "phone": "1",
        "friends": [],
        "favoriteFruit": "kiwi",
    }
    df = spark.createDataFrame([(json.dumps(record),)], "text string")
    row = jolt_reshape(df, spec).collect()[0]
    got = json.loads(row.text_reshaped)
    assert got == {
        "balance": "$9.99",
        "personal_details": {"age": 30, "name": "A B", "gender": "male"},
        "contacts": {"company": "C", "email": "e@x", "phone": "1"},
        "account_type": "CHECKING",
    }
    # key order is part of the contract
    assert list(got.keys()) == ["balance", "personal_details", "contacts", "account_type"]


def test_reshape_dead_letter(spark):
    spec = json.dumps([{"operation": "shift", "spec": {"a": {"@(1,missing)": "out"}}}])
    df = spark.createDataFrame(
        [('{"a": {"b": 1}}',), ("not json at all",), ('{"ok": 1}',), (None,)],
        "text string",
    )
    rows = jolt_reshape(df, spec).collect()
    by_text = {r.text: r for r in rows}
    assert "KeyNotFound" in by_text['{"a": {"b": 1}}'].text_error
    assert by_text['{"a": {"b": 1}}'].text_reshaped is None
    assert "JSONDecodeError" in by_text["not json at all"].text_error
    assert by_text['{"ok": 1}'].text_error is None
    assert by_text[None].text_reshaped is None and by_text[None].text_error is None


def test_reshape_fail_mode(spark):
    spec = json.dumps([{"operation": "shift", "spec": {"a": {"@(1,missing)": "out"}}}])
    df = spark.createDataFrame([('{"a": {"b": 1}}',)], "text string")
    with pytest.raises(Exception):
        jolt_reshape(df, spec, on_error="fail").collect()


def test_reshape_invalid_spec_fails_on_driver(spark):
    df = spark.createDataFrame([('{"a":1}',)], "text string")
    from fluvio_jolt_spark.jolt.errors import SpecError

    with pytest.raises(SpecError):
        jolt_reshape(df, json.dumps([{"operation": "sort", "spec": {}}]))


def test_all_golden_fixtures_through_spark_stage(spark):
    """Every reference golden fixture replayed through the actual
    mapInArrow stage (SURVEY §5 test plan item (b)); tree equality like
    the reference's own assertion. One Spark job per distinct spec."""
    from jolt_fixtures import iter_fixtures, reference_available

    if not reference_available():
        pytest.skip("reference fixture corpus not present")

    fixtures = list(iter_fixtures())
    assert len(fixtures) == 66
    failures = []
    for f in fixtures:
        df = spark.createDataFrame([(json.dumps(f.input),)], "text string")
        row = jolt_reshape(df, json.dumps(f.spec)).collect()[0]
        if row.text_error is not None:
            failures.append((f.suite, f.name, row.text_error))
            continue
        got = json.loads(row.text_reshaped) if row.text_reshaped is not None else None
        if got != f.expected:
            failures.append((f.suite, f.name, got))
    assert not failures, failures[:3]


def test_reshape_is_narrow_no_shuffle(spark, transcripts_small):
    """The reshape stage must not introduce an exchange."""
    df, _ = transcripts_small
    out = jolt_reshape(df, reference_bench_spec())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
