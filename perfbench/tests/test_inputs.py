"""The benchmark's inputs are a function of the seed and of in-repo
generators only."""

import pytest

from html_parser_spark.spark import transcripts
from perfbench import inputs


def _digest(rows):
    return inputs.digest(inputs.to_table(rows))


@pytest.mark.parametrize("make,n", [(inputs.chat_rows, 3000),
                                    (inputs.dense_rows, 2)])
def test_same_seed_same_inputs(make, n):
    assert _digest(make(n, 7)) == _digest(make(n, 7))


@pytest.mark.parametrize("make,n", [(inputs.chat_rows, 3000),
                                    (inputs.dense_rows, 2)])
def test_other_seed_other_inputs(make, n):
    assert _digest(make(n, 7)) != _digest(make(n, 8))


CHAT_2000_SEED1 = (
    "110ee58386c6371ab98709d6a4c03b1fd81c74786afa7c874fb3fe2de8b42b56")
DENSE_2_SEED1 = (
    "4f140d72cb1884aaf9ffeeebe17204fd07362e2392e2e0ac00cb6df89396b51d")


def test_pinned_digests():
    # A change here means the benchmark's inputs changed: runs before
    # and after such a change are not comparable.
    assert _digest(inputs.chat_rows(2000, 1)) == CHAT_2000_SEED1
    assert _digest(inputs.dense_rows(2, 1)) == DENSE_2_SEED1


def test_warmup_input_comes_from_another_seed():
    _, _, n_warm = inputs.SIZES["html_dense"]
    warm = _digest(inputs.workload_rows("html_dense", 3, warmup=True))
    assert warm != _digest(inputs.dense_rows(n_warm, 3))
    assert warm == _digest(inputs.dense_rows(
        n_warm, 3 + inputs.WARMUP_SEED_OFFSET))


def test_never_reads_reference_fixtures(monkeypatch):
    def fail():
        raise AssertionError("looked for reference fixtures")

    monkeypatch.setattr(transcripts, "_fixture_texts", fail)
    assert len(inputs.chat_rows(500, 3)) == 500


def test_dense_documents_are_large_unique_and_markup_only():
    rows = inputs.dense_rows(3, 5)
    texts = [r[3] for r in rows]
    assert len(set(texts)) == 3
    assert all(len(t) >= inputs.DENSE_DOC_CHARS for t in texts)
    assert all("<" in t for t in texts)  # no '<'-free fast-path rows
