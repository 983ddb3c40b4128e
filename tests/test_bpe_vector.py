"""Columnar output of the BPE apply kernel, axis by axis.

The test names date from a second, vectorised (``mapInArrow``) apply
kernel that these tests pinned to the ``mapInPandas`` loop; BENCH.md
(round 5) measured it at 0.56x of the loop and it is removed. Each test
now checks the one loop kernel against the driver-side reference
(``_py_words`` + ``_segment``) on the axis its parity test covered:
token strings, token ids, the unseeded cache, the output schema, the
default plan, an empty corpus and a random mixed-content corpus.
"""

from __future__ import annotations

import pytest

from polars_genson_spark.operators.tokenizer import (
    bpe_tokenize,
    bpe_tokenize_ids,
    train_bpe_with_vocab,
)
from test_tokenizer import TEXTS, _key, _random_rows, _reference


def _expected_strings(rows, merges):
    return sorted(
        (i or "", toks, len(toks)) for i, toks in _reference(rows, merges)
    )


def _expected_ids(rows, merges, vocab):
    return sorted(
        (i or "", [vocab.get(s, 0) for s in toks], len(toks))
        for i, toks in _reference(rows, merges)
    )


@pytest.fixture(scope="module")
def corpus(spark):
    df = spark.createDataFrame(TEXTS, "doc_id string, text string")
    merges, vocab, words = train_bpe_with_vocab(
        df, n_merges=60, return_words=True
    )
    return df, merges, vocab, words


def test_vector_matches_loop_token_strings(corpus):
    df, merges, _, words = corpus
    got = bpe_tokenize(df, merges, seed_words=words)
    assert _key(got.collect()) == _expected_strings(TEXTS, merges)


def test_vector_matches_loop_token_ids(corpus):
    df, merges, vocab, words = corpus
    got = bpe_tokenize_ids(df, merges, vocab, seed_words=words)
    assert _key(got.collect()) == _expected_ids(TEXTS, merges, vocab)


def test_vector_matches_loop_unseeded_cache(corpus):
    """No seed → every word goes through the cache path."""
    df, merges, vocab, _ = corpus
    got = bpe_tokenize_ids(df, merges, vocab)
    assert _key(got.collect()) == _expected_ids(TEXTS, merges, vocab)


def test_vector_schema_and_dtypes(corpus):
    df, merges, vocab, words = corpus
    ids = bpe_tokenize_ids(df, merges, vocab, seed_words=words)
    assert [f.simpleString() for f in ids.schema.fields] == [
        "doc_id:string",
        "tokens:array<int>",
        "n_tok:int",
    ]
    strs = bpe_tokenize(df, merges, seed_words=words)
    assert strs.schema["bpe_tokens"].dataType.simpleString() == (
        "array<string>"
    )


def test_vector_is_default(corpus):
    """The default call applies BPE through the one ``mapInPandas``
    kernel (no ``MapInArrow`` node in the plan) and gives the reference
    output."""
    df, merges, vocab, words = corpus
    default = bpe_tokenize_ids(df, merges, vocab, seed_words=words)
    plan = default._jdf.queryExecution().analyzed().toString()
    assert "MapInPandas" in plan and "MapInArrow" not in plan
    assert _key(default.collect()) == _expected_ids(TEXTS, merges, vocab)


def test_vector_empty_corpus(spark):
    df = spark.createDataFrame([], "doc_id string, text string")
    merges = [("t", "h"), ("th", "e</w>")]
    vocab = {"<unk>": 0, "</w>": 1, "t": 2, "h": 3, "e": 4,
             "th": 5, "the</w>": 6}
    assert bpe_tokenize_ids(df, merges, vocab).count() == 0


def test_vector_random_parity(spark):
    """Random mixed-content corpus (ascii words, unicode, numbers,
    punctuation runs, long words) over 7 partitions equals the
    reference exactly."""
    rows = _random_rows()
    df = spark.createDataFrame(rows, "doc_id string, text string").repartition(7)
    merges, vocab, words = train_bpe_with_vocab(
        df, n_merges=120, return_words=True
    )
    got = bpe_tokenize_ids(df, merges, vocab, seed_words=words)
    assert _key(got.collect()) == _expected_ids(rows, merges, vocab)
