"""Single-thread kernel split, measured from outside the kernel.

``replay`` walks a workload's rows in per-partition scan order, in
batches of the Arrow batch size, and makes the layer calls
``udfs.parse_turn`` makes for each turn (the '<'-free fast path, or null
replacement, tree build and text/span extraction), then builds the Arrow
output as ``make_extract_map_in_arrow`` does. Each call gets a span.

Tree build tokenizes internally, out of reach of a span from outside, so
each parsed turn is tokenized once more on its own: by the C fast-scan
(``make_feed`` plus draining the feed) when it accepts the turn, else by
the Python ``Tokenizer``. ``treebuilder.self`` is build minus that
tokenize time; the standalone tokenizer gets no tree-builder feedback,
so the split is an estimate.
"""

from __future__ import annotations

import time
from collections import Counter

import pyarrow as pa

from html_parser_spark.kernel import api, fastscan
from html_parser_spark.kernel import encoding as enc
from html_parser_spark.kernel.extract import (
    count_nodes, extract_text_with_spans,
)
from html_parser_spark.kernel.tokenizer import (
    TOKEN_EOF, Tokenizer, replace_nulls,
)
from html_parser_spark.kernel.treebuilder import build_document, build_fragment
from html_parser_spark.spark import udfs

from .oracle import KEYS

BAIL_REASONS = ("precheck", "raw-tag-after-foreign", "cdata-after-foreign",
                "attr-name-too-long", "python-gate", "unavailable", "other")

_now = time.perf_counter_ns


def _drain(feed) -> None:
    while feed.next().type != TOKEN_EOF:
        pass


def _bail_reason(clean: str, ctx) -> str:
    # make_feed's Python-side gates return None without running the C
    # scanner, and bail_reason() then still names the previous scan's
    # reason; those bails are counted apart
    if not clean or (ctx and (ctx[:31].lower() in fastscan._NON_DATA_CONTEXTS
                              or "<![CDATA[" in clean)):
        return "python-gate"
    reason = fastscan.bail_reason()
    return reason if reason in BAIL_REASONS else "other"


def _build(clean: str, text: str, ctx, document: bool, errors: list):
    """Tree build as api.parse_fragment / api.parse_document do it for
    str input. Returns (doc, encoding)."""
    if not document:
        doc, _ = build_fragment(clean, ctx, "UTF-8", enc.CONF_TENTATIVE,
                                errors=errors)
        return doc, "UTF-8"
    doc, change, _ = build_document(clean, "UTF-8", enc.CONF_TENTATIVE,
                                    errors=errors, want_change_encoding=True)
    if doc is None and change is not None:
        # a <meta> charset re-encode: take the API's whole re-parse
        res = api.parse_document(text)
        errors[:] = res.errors
        return res.doc, res.encoding or "UTF-8"
    return doc, "UTF-8"


def _arrow_build(out: list) -> pa.RecordBatch:
    ext_l, spans_l, errs_l, nodes_l, enc_l, etexts_l = zip(*out)
    return pa.RecordBatch.from_arrays([
        pa.array(ext_l, pa.string()),
        udfs._spans_array(spans_l),
        pa.array(errs_l, pa.int32()),
        pa.array(nodes_l, pa.int32()),
        pa.array(enc_l, pa.string()),
        udfs._str_list_array(etexts_l),
    ], schema=pa.schema(udfs.EXTRACT_FIELDS))


def replay(tracer, partitions: list, mode: str, context: str,
           batch_rows: int):
    """partitions: lists of ((conv_id, turn_idx), text) in scan order.
    Returns (Arrow table of keys and extract results, Counter of kernel
    counts)."""
    document = mode == "document"
    ctx = None if document else context
    raw_ctx = context in udfs._RAW_CONTEXTS
    ids = {n: tracer.name_id(n) for n in (
        "udfs.fast_path", "tokenizer.replace_nulls", "treebuilder.build",
        "extract.spans", "fastscan.tokenize", "fastscan.bail_scan",
        "tokenizer.tokenize")}
    add = tracer.add
    keys: list = []
    batches: list = []
    c: Counter = Counter()
    for part in partitions:
        for b in range(0, len(part), batch_rows):
            batch = part[b:b + batch_rows]
            c["batches"] += 1
            out = []
            with tracer.span("udfs.batch"):
                for _, text in batch:
                    t0 = _now()
                    if "<" not in text and not raw_ctx:
                        out.append(udfs.fast_extract(text, mode, context))
                        add(ids["udfs.fast_path"], t0, _now())
                        c["fast"] += 1
                        continue
                    # the '<' test is the fast path's cost on every turn
                    t1 = _now()
                    add(ids["udfs.fast_path"], t0, t1)
                    errors: list = []
                    clean = replace_nulls(text, errors)
                    t2 = _now()
                    add(ids["tokenizer.replace_nulls"], t1, t2)
                    doc, encoding = _build(clean, text, ctx, document, errors)
                    t3 = _now()
                    add(ids["treebuilder.build"], t2, t3)
                    ext, spans = extract_text_with_spans(doc)
                    nodes = count_nodes(doc)
                    t4 = _now()
                    add(ids["extract.spans"], t3, t4)
                    out.append((ext, spans, len(errors), nodes, encoding,
                                errors))
                    feed = fastscan.make_feed(clean, [], ctx)
                    n_bytes = len(clean.encode("utf-8", "surrogatepass"))
                    if feed is not None:
                        _drain(feed)
                        add(ids["fastscan.tokenize"], t4, _now())
                        c["accepted"] += 1
                        c["accepted_bytes"] += n_bytes
                    else:
                        t5 = _now()
                        add(ids["fastscan.bail_scan"], t4, t5)
                        c["bail." + _bail_reason(clean, ctx)] += 1
                        _drain(Tokenizer(clean, ctx, errors=[],
                                         reuse_token=True))
                        add(ids["tokenizer.tokenize"], t5, _now())
                    c["parsed"] += 1
                    c["parsed_bytes"] += n_bytes
                    c["nodes"] += nodes
                    c["parse_errors"] += len(errors)
                with tracer.span("udfs.arrow_build"):
                    batches.append(_arrow_build(out))
            for key, text in batch:
                keys.append(key)
                c["rows"] += 1
                c["bytes"] += len(text.encode("utf-8", "surrogatepass"))
    results = pa.Table.from_batches(batches)
    conv, idx = zip(*keys)
    table = pa.Table.from_arrays(
        [pa.array(conv, pa.string()), pa.array(idx, pa.int32())]
        + results.columns, names=KEYS + results.column_names)
    return table, c


def cache_hit_ratio(partitions: list, mode: str, context: str,
                    workers: int) -> float:
    """Replay of udfs._parse_turn_cached's worker cache over the rows in
    per-partition scan order, partition p on worker p mod `workers`,
    each worker's cache starting empty as in a one-shot job."""
    if not udfs._CACHE_ON:
        return 0.0
    caches = [set() for _ in range(workers)]
    hits = lookups = 0
    for p, part in enumerate(partitions):
        cache = caches[p % workers]
        for _, text in part:
            key = (text, mode, context, False)
            lookups += 1
            if key in cache:
                hits += 1
                continue
            if len(cache) >= udfs._CACHE_SIZE:
                cache.clear()
            cache.add(key)
    return hits / lookups
