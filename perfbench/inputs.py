"""Seeded, hermetic benchmark inputs.

Every input is generated from the ``--seed`` argument by generators that
live in this repository (``transcripts.generate_rows`` and the
``tools/fuzz_diff.py`` shape generators); nothing outside the checkout is
opened, so the same seed gives byte-identical inputs on every host.
"""

from __future__ import annotations

import datetime
import hashlib
import importlib.util
import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from html_parser_spark.spark.transcripts import (
    _HTML_TEMPLATES, _PLAIN_WORDS, generate_rows,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Workload -> (mode, rows in a timed pass, rows in the warm-up input).
# chat_mixed counts turns, html_dense ~50 KB documents. Parse time per
# document varies by about 45% (open-element depth builds up at random),
# so html_dense uses many documents to keep a pass's work steady.
SIZES = {
    "chat_mixed": ("fragment", 100_000, 100_000),
    "html_dense": ("document", 160, 16),
}
DENSE_DOC_CHARS = 50_000
# The warm-up input comes from another seed, so no timed pass re-reads
# a row the warm-up has parsed.
WARMUP_SEED_OFFSET = 1_000_003

_EPOCH = datetime.datetime(2020, 1, 1, tzinfo=datetime.timezone.utc)

# Foreign content (svg/math) followed by a raw-text tag or CDATA makes
# the C fast-scan bail for the whole document, so only "foreign"
# documents carry these templates.
_FOREIGN_TEMPLATES = [t for t in _HTML_TEMPLATES
                      if "<svg" in t or "<math" in t]
_HTML_ONLY_TEMPLATES = [t for t in _HTML_TEMPLATES
                        if t not in _FOREIGN_TEMPLATES]
# The document mix is a coverage choice, not a measured one: no traffic
# or in-repo corpus gives a distribution of whole documents. Drawing
# every chunk uniformly from _HTML_TEMPLATES, as generate_rows draws
# turns, would put foreign content into nearly every ~50 KB document,
# so the fast-scan would bail on all of them and only the Python
# tokenizer would be measured. Instead this share of documents carries
# foreign chunks (the fast-scan then bails on about 30% of documents
# and bytes), and the chunk weights in dense_document give the
# transcript templates most of each document and the fuzz shapes and
# plain paragraphs the rest. The traced run reports the resulting
# fastscan.accept.* ratios and fastscan.bail.* counts.
_FOREIGN_DOC_SHARE = 0.3


def _fuzz_shapes():
    path = os.path.join(ROOT, "tools", "fuzz_diff.py")
    spec = importlib.util.spec_from_file_location("_perfbench_fuzz", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _fill(rng: random.Random, template: str) -> str:
    return template.format(w0=rng.choice(_PLAIN_WORDS),
                           w1=rng.choice(_PLAIN_WORDS),
                           w2=rng.choice(_PLAIN_WORDS))


def dense_document(rng: random.Random, shapes, index: int) -> str:
    """One ~50 KB byte-unique HTML document: filled transcript
    templates, plain paragraphs and fuzz-shape chunks (formatting and
    table stress; foreign-content stress in foreign documents)."""
    foreign = rng.random() < _FOREIGN_DOC_SHARE
    parts = ["<!DOCTYPE html><html><head><title>doc %d</title></head><body>"
             % index]
    size = len(parts[0])
    while size < DENSE_DOC_CHARS:
        r = rng.random()
        if r < 0.62:
            chunk = _fill(rng, rng.choice(_HTML_ONLY_TEMPLATES))
        elif r < 0.74:
            words = [rng.choice(_PLAIN_WORDS)
                     for _ in range(rng.randint(5, 60))]
            chunk = "<p>" + " ".join(words) + "</p>"
        elif r < 0.84:
            chunk = shapes.gen_formatting(rng)
        elif r < 0.94:
            chunk = shapes.gen_tables(rng)
        elif foreign:
            chunk = (shapes.gen_foreign(rng) if r < 0.97
                     else _fill(rng, rng.choice(_FOREIGN_TEMPLATES)))
        else:
            chunk = _fill(rng, rng.choice(_HTML_ONLY_TEMPLATES))
        parts.append(chunk)
        size += len(chunk)
    parts.append("</body></html>")
    return "".join(parts)


def dense_rows(n_docs: int, seed: int) -> list:
    rng = random.Random(seed)
    shapes = _fuzz_shapes()
    return [(f"doc{i:05d}", 0, "user", dense_document(rng, shapes, i),
             None, _EPOCH) for i in range(n_docs)]


def chat_rows(n_turns: int, seed: int) -> list:
    # the reference fixtures are not part of the repository: the
    # generator must never look for them
    rows = generate_rows(n_turns, seed=seed, include_fixtures=False)
    return [(c, t, r, x, tool, ts.replace(tzinfo=datetime.timezone.utc))
            for c, t, r, x, tool, ts in rows]


def workload_rows(workload: str, seed: int, warmup: bool = False) -> list:
    mode, n, n_warm = SIZES[workload]
    if warmup:
        seed, n = seed + WARMUP_SEED_OFFSET, n_warm
    if mode == "document":
        return dense_rows(n, seed)
    return chat_rows(n, seed)


_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def to_table(rows: list) -> pa.Table:
    cols = list(zip(*rows))
    return pa.Table.from_arrays(
        [pa.array(col, f.type) for col, f in zip(cols, _SCHEMA)],
        schema=_SCHEMA)


def write_parquet(table: pa.Table, path: str, files: int) -> list:
    """Materialize `table` as `files` parquet files in `path` (the
    layout a Spark job would read); returns the file paths."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    out = []
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            out.append(os.path.join(path, f"part-{i:05d}.parquet"))
            pq.write_table(part, out[-1])
    return out


def digest(table: pa.Table) -> str:
    """sha256 of the table's Arrow IPC stream."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return hashlib.sha256(sink.getvalue()).hexdigest()


def text_bytes(table: pa.Table) -> int:
    return pc.sum(pc.binary_length(table.column("text"))).as_py()
