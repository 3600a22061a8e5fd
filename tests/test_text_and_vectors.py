"""Unit tests for scalar text / vector expression libraries."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from hierarchical_graph_db_spark.functions.text import (
    language_id,
    quality_metrics,
    tokens,
)
from hierarchical_graph_db_spark.functions.vectors import (
    cosine_similarity,
    dot,
    l2_norm,
)
from hierarchical_graph_db_spark.functions.hashing import dedupe_key, fingerprint


def test_tokens_blank_and_basic(spark):
    df = spark.createDataFrame([Row(t="  hello   world "), Row(t="   "), Row(t="one")])
    out = [r[0] for r in df.select(tokens("t")).collect()]
    assert out == [["hello", "world"], [], ["one"]]


def test_language_id_thresholds(spark):
    df = spark.createDataFrame([
        Row(t="the cat sat on the mat and the dog"),   # stopword-dense → en
        Row(t="zzz qqq xxx yyy www vvv uuu ttt sss rrr nnn mmm lll kkk jjj "
              "iii hhh ggg fff eee ddd ccc bbb aaa z1 z2 z3 z4 z5 z6"),  # → other
        Row(t=""),                                      # → und
    ])
    out = [r[0] for r in df.select(language_id(tokens("t"))).collect()]
    assert out == ["en", "other", "und"]


def test_quality_metrics_values(spark):
    df = spark.createDataFrame([Row(t="Ab1, cd!")])
    m = quality_metrics("t")
    row = df.select(*[v.alias(k) for k, v in m.items()]).collect()[0]
    assert row["n_chars"] == 8
    assert row["n_tokens"] == 2
    # alpha: A b c d = 4/8; digit: 1/8; punct: , ! = 2/8
    assert math.isclose(row["alpha_ratio"], 0.5)
    assert math.isclose(row["digit_ratio"], 0.125)
    assert math.isclose(row["punct_ratio"], 0.25)
    assert math.isclose(row["mean_token_len"], 3.5)  # "Ab1,cd!" = 7 chars / 2 toks


def test_dot_cosine(spark):
    df = spark.createDataFrame([Row(a=[1.0, 2.0, 3.0], b=[4.0, 5.0, 6.0])])
    row = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        l2_norm(F.col("a")).alias("na"),
        cosine_similarity(F.col("a"), F.col("b")).alias("cos"),
    ).collect()[0]
    assert math.isclose(row["d"], 32.0)
    assert math.isclose(row["na"], math.sqrt(14.0))
    assert math.isclose(row["cos"], 32.0 / (math.sqrt(14) * math.sqrt(77)))


def test_cosine_zero_norm_guard(spark):
    df = spark.createDataFrame([Row(a=[0.0, 0.0], b=[1.0, 1.0])])
    assert df.select(cosine_similarity(F.col("a"), F.col("b"))).collect()[0][0] == 0.0


def test_dedupe_key_coalesce(spark):
    """message_id wins when present; else 'hash_'+sha256 (parsing_agent.py:41-47)."""
    df = spark.createDataFrame([
        Row(message_id="<m1>", f="a@x", to=["b@x"], date="2001-01-01",
            subject="s", body="b"),
        Row(message_id=None, f="a@x", to=["b@x"], date="2001-01-01",
            subject="s", body="b"),
        Row(message_id="  ", f="a@x", to=["b@x"], date="2001-01-01",
            subject="s", body="b"),
    ])
    out = [r[0] for r in df.select(
        dedupe_key(F.col("message_id"), F.col("f"), F.col("to"),
                   F.col("date"), F.col("subject"), F.col("body"))
    ).collect()]
    assert out[0] == "<m1>"
    assert out[1].startswith("hash_") and len(out[1]) == 5 + 64
    assert out[2] == out[1]  # blank message_id → same content hash


def test_fingerprint_deterministic(spark):
    df = spark.createDataFrame([Row(t="Hello  World"), Row(t="hello world")])
    out = [r[0] for r in df.select(fingerprint("t")).collect()]
    assert out[0] == out[1]  # normalization collapses case/whitespace


def test_bm25_ranking_invariants(spark, sf_dir):
    """BM25 top-10: dense 1..n ranks, scores non-increasing and positive
    (the query terms are the corpus's top-df terms, so matches exist)."""
    from hierarchical_graph_db_spark.queries import load

    out = sorted(load()["text_bm25_topk"].run(spark, sf_dir).collect(),
                 key=lambda r: r["rnk"])
    assert 0 < len(out) <= 10
    assert [r["rnk"] for r in out] == list(range(1, len(out) + 1))
    scores = [r["score"] for r in out]
    assert all(a >= b for a, b in zip(scores, scores[1:]))
    assert all(s > 0 for s in scores)


def test_fastlit_empty_arrays_keep_element_type(spark):
    """An empty literal array keeps its element type; a bare ``array()``
    parses to ``array<void>``."""
    from hierarchical_graph_db_spark.functions.fastlit import (
        lit_double_array,
        lit_double_matrix,
        lit_index_array,
        lit_int_array,
        lit_long_array,
    )

    df = spark.range(1).select(
        lit_double_array([]).alias("d"),
        lit_double_matrix([]).alias("m"),
        lit_long_array([]).alias("l"),
        lit_int_array([]).alias("i"),
        lit_index_array([]).alias("x"),
        lit_long_array([7]).alias("l1"),
    )
    assert dict(df.dtypes) == {
        "d": "array<double>", "m": "array<array<double>>",
        "l": "array<bigint>", "i": "array<int>", "x": "array<int>",
        "l1": "array<bigint>"}
    assert tuple(df.first()) == ([], [], [], [], [], [7])
