"""Equivalence of the Arrow/numpy sketch twins with the Catalyst folds.

The r06 optimization swapped the interpreted HOF folds (MinHash
signature, SimHash majority vote) for vectorized pandas UDFs
(operators/sketch_np.py). The folds are kept as private references
(``dedup._minhash_fold`` / ``dedup._simhash_fold``); these tests pin
bit-identical values between them and the public sketch functions,
including the degenerate rows (empty text, null text, single word)
whose fold-over-nothing semantics are easy to get wrong.
"""

import pytest
from pyspark.sql import functions as F

from embulk_filter_timestamp_format_spark.operators import dedup as D


@pytest.fixture()
def sketch_inputs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "completely different text with other words entirely here"),
        (4, ""),
        (5, None),
        (6, "one"),
        (7, "two words"),
        (8, "  leading   and trailing   whitespace   "),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    return df.select(
        "doc_id",
        D.shingle_keys(F.col("text")).alias("sh"),
        D.word_hashes60(F.col("text")).alias("wh"),
    )


def _collect_both(df, fold, sketch, col):
    def run(fn):
        return {
            r["doc_id"]: r["v"]
            for r in df.select("doc_id", fn(F.col(col)).alias("v")).collect()
        }

    return run(fold), run(sketch)


def test_minhash_signature_engines_identical(sketch_inputs):
    cat, arw = _collect_both(
        sketch_inputs, D._minhash_fold, D.minhash_signature, "sh"
    )
    assert cat.keys() == arw.keys()
    for k in cat:
        a = None if cat[k] is None else list(cat[k])
        b = None if arw[k] is None else list(arw[k])
        assert a == b, f"doc {k}: {a} != {b}"


def test_simhash60_engines_identical(sketch_inputs):
    cat, arw = _collect_both(sketch_inputs, D._simhash_fold, D.simhash60, "wh")
    assert cat == arw


def test_minhash_empty_array_is_init_vector(spark):
    df = spark.createDataFrame([(1, [])], "doc_id long, sh array<long>")
    row = df.select(D.minhash_signature(F.col("sh")).alias("v")).first()
    assert list(row["v"]) == [(1 << 63) - 1] * 32


def test_simhash_empty_array_matches_fold_degenerate(spark):
    df = spark.createDataFrame([(1, [])], "doc_id long, wh array<long>")
    row = df.select(D.simhash60(F.col("wh")).alias("v")).first()
    assert row["v"] == (1 << D.SIMHASH_BITS) - 1
