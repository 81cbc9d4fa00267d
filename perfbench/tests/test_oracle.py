"""The oracle comparison counts every wrong turn, and the kernel's own
output passes it."""

import pyarrow as pa
import pytest

from html_parser_spark.spark.pipeline import PASSTHROUGH
from html_parser_spark.spark.udfs import make_extract_map_in_arrow
from perfbench import inputs, oracle


@pytest.fixture(scope="module")
def chat():
    return inputs.to_table(inputs.chat_rows(400, 11))


@pytest.fixture(scope="module")
def expected(chat):
    return oracle.normalize(oracle.results_table(chat, "fragment", "div"))


def _kernel_output(table, mode="fragment"):
    fn = make_extract_map_in_arrow(PASSTHROUGH, mode, "div")
    batches = table.select(PASSTHROUGH + ["text"]).to_batches(100)
    return pa.Table.from_batches(list(fn(iter(batches))))


def _replace_row(table, i, column, value):
    col = table.column(column).to_pylist()
    col[i] = value
    return table.set_column(table.schema.get_field_index(column), column,
                            pa.array(col, table.schema.field(column).type))


def _key(table, i):
    return (table.column("conv_id")[i].as_py(),
            table.column("turn_idx")[i].as_py())


def test_kernel_output_matches(chat, expected):
    assert oracle.compare(expected,
                          oracle.normalize(_kernel_output(chat))) == set()


def test_dense_kernel_output_matches():
    docs = inputs.to_table(inputs.dense_rows(2, 4))
    exp = oracle.normalize(oracle.results_table(docs, "document", "div"))
    got = oracle.normalize(_kernel_output(docs, "document"))
    assert oracle.compare(exp, got) == set()


def test_catches_one_planted_mismatch(expected):
    planted = _replace_row(expected, 5, "extracted_text", "planted")
    assert oracle.compare(expected, planted) == {_key(expected, 5)}
    planted = _replace_row(expected, 9, "parse_errors", 12345)
    assert oracle.compare(expected, planted) == {_key(expected, 9)}


def test_catches_a_dropped_turn(expected):
    dropped = pa.concat_tables([expected.slice(0, 7), expected.slice(8)])
    assert oracle.compare(expected, dropped) == {_key(expected, 7)}


def test_catches_duplicate_and_unknown_turns(expected):
    dup = oracle.normalize(pa.concat_tables([expected, expected.slice(3, 1)]))
    assert oracle.compare(expected, dup) == {_key(expected, 3)}
    extra = _replace_row(expected.slice(0, 1), 0, "conv_id", "nobody")
    got = oracle.normalize(pa.concat_tables([expected, extra]))
    assert oracle.compare(expected, got) == {("nobody",
                                              _key(expected, 0)[1])}


def test_rank_errors():
    t = pa.table({"conv_id": ["a", "a", "a", "b"],
                  "turn_idx": pa.array([0, 1, 5, 2], pa.int32()),
                  "turn_rank": [1, 2, 3, 1]})
    assert oracle.rank_errors(t) == set()
    swapped = t.set_column(2, "turn_rank", pa.array([2, 1, 3, 1]))
    assert oracle.rank_errors(swapped) == {("a", 0), ("a", 1)}
