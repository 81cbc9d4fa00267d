"""Per-turn oracle.

The oracle parses every input turn with ``udfs.parse_turn`` in separate
single-thread processes (one per slice of the input files) that run with
the C fast-scan and the worker parse cache disabled (``HP_FASTSCAN=0
HP_PARSE_CACHE=0``), so they share neither accelerator with the code
under test. Their results are built into Arrow by pyarrow's generic
conversion, not by the kernel's own array builders, and every turn of
the program's output is compared with them.

Run as a script: ``python3 perfbench/oracle.py MODE CONTEXT OUT FILE...``.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ORACLE_ENV = {"HP_FASTSCAN": "0", "HP_PARSE_CACHE": "0"}
KEYS = ["conv_id", "turn_idx"]
SPAN_TYPE = pa.list_(pa.struct([("start", pa.int32()), ("end", pa.int32()),
                                ("path", pa.string())]))
SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("extracted_text", pa.string()),
    ("spans", SPAN_TYPE),
    ("parse_errors", pa.int32()),
    ("node_count", pa.int32()),
    ("doc_encoding", pa.string()),
    ("parse_error_texts", pa.list_(pa.string())),
])


def start(files: list, mode: str, context: str, out_dir: str,
          procs: int) -> list:
    """Launch `procs` oracle processes over disjoint slices of `files`;
    the caller waits on each."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, **ORACLE_ENV)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p)
    os.makedirs(out_dir, exist_ok=True)
    running = []
    for i in range(procs):
        part = files[i::procs]
        if part:
            out = os.path.join(out_dir, f"part-{i:03d}.parquet")
            running.append(subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), mode, context,
                 out, *part], env=env, stdout=subprocess.DEVNULL,
                stderr=subprocess.PIPE))
    return running


def wait(running: list) -> None:
    errors = []
    for proc in running:
        _, err = proc.communicate()
        if proc.returncode != 0:
            errors.append(err.decode(errors="replace"))
    if errors:
        raise RuntimeError("oracle failed:\n" + "\n".join(errors))


def normalize(table: pa.Table) -> pa.Table:
    """The extract columns of `table` in SCHEMA's types, sorted by key."""
    table = table.select(SCHEMA.names).cast(SCHEMA)
    return table.sort_by([(k, "ascending") for k in KEYS])


def compare(expected: pa.Table, actual: pa.Table) -> set:
    """Keys of wrong turns: expected turns that are missing, differ or
    appear more than once, plus output rows for turns not in the input.
    Both tables are normalized."""
    if expected.num_rows == actual.num_rows and all(
            expected.column(c).equals(actual.column(c))
            for c in SCHEMA.names):
        return set()
    exp = {tuple(r[k] for k in KEYS): r for r in expected.to_pylist()}
    act: dict = {}
    for r in actual.to_pylist():
        act.setdefault(tuple(r[k] for k in KEYS), []).append(r)
    wrong = {key for key, row in exp.items() if act.get(key) != [row]}
    return wrong | (act.keys() - exp.keys())


def rank_errors(table: pa.Table) -> set:
    """Keys of turns whose turn_rank is not their 1-based position in
    turn_idx order within the conversation."""
    t = table.select(KEYS + ["turn_rank"]).sort_by(
        [(k, "ascending") for k in KEYS])
    wrong = set()
    prev, pos = None, 0
    for conv, idx, rank in zip(*(c.to_pylist() for c in t.columns)):
        pos = pos + 1 if conv == prev else 1
        prev = conv
        if rank != pos:
            wrong.add((conv, idx))
    return wrong


def results_table(table: pa.Table, mode: str, context: str) -> pa.Table:
    """Oracle results for the conv_id, turn_idx and text columns of
    `table`, in SCHEMA."""
    from html_parser_spark.spark.udfs import parse_turn

    results = [parse_turn(text, mode, context)
               for text in table.column("text").to_pylist()]
    cols = list(zip(*results)) if results else [()] * 6
    arrays = [table.column("conv_id"), table.column("turn_idx")] + [
        pa.array(list(col), f.type) for col, f in zip(cols, list(SCHEMA)[2:])]
    return pa.Table.from_arrays(arrays, schema=SCHEMA)


def main(argv) -> int:
    mode, context, out, *files = argv
    for name, value in ORACLE_ENV.items():
        if os.environ.get(name) != value:
            raise SystemExit(f"oracle must run with {name}={value}")
    table = pa.concat_tables(
        pq.read_table(f, columns=KEYS + ["text"]) for f in files)
    pq.write_table(results_table(table, mode, context), out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
