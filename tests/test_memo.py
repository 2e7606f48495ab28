"""session.spark_memo: driver-side UDF/Column builders cached on the live
SparkContext, so a new context rebuilds them."""

from __future__ import annotations

import types

from pyspark import SparkContext

from bigtrees_spark.config import DEFAULT_CONFIG
from bigtrees_spark.functions.spark_udfs import make_fingerprint_udf, make_winnow_udf
from bigtrees_spark.operators import substring, textstats
from bigtrees_spark.session import spark_memo


def test_same_context_returns_same_object(spark):
    assert make_fingerprint_udf(DEFAULT_CONFIG) is make_fingerprint_udf(
        DEFAULT_CONFIG, True
    )
    assert make_fingerprint_udf() is make_fingerprint_udf(compute_simhash=True)
    assert make_fingerprint_udf() is not make_fingerprint_udf(compute_simhash=False)
    assert make_winnow_udf() is make_winnow_udf(DEFAULT_CONFIG)
    assert substring._slice_cols(DEFAULT_CONFIG, "l") is substring._slice_cols(
        DEFAULT_CONFIG, "l"
    )
    assert textstats._lang_cols("text") is textstats._lang_cols(text_col="text")


def test_new_context_runs_the_builder_again(spark, monkeypatch):
    calls = []

    @spark_memo
    def build(x, y=2):
        calls.append((x, y))
        return object()

    first = build(1)
    assert build(1, 2) is first and build(x=1) is first
    assert len(calls) == 1
    live_udf = make_winnow_udf()

    monkeypatch.setattr(SparkContext, "_active_spark_context", types.SimpleNamespace())
    second = build(1)
    assert second is not first and len(calls) == 2
    assert build(1) is second
    assert make_winnow_udf() is not live_udf

    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    build(1)
    build(1)
    assert len(calls) == 4  # no live context: nothing to cache on

    monkeypatch.undo()
    assert build(1) is first
