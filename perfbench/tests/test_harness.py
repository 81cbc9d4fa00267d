"""Spans, the session's parallelism, the kernel replay, and the metric
names BENCHMARK.json declares."""

import json
import os
import subprocess

from perfbench import inputs, kernel_split, oracle, run, session
from perfbench.spans import NullTracer, Tracer


def test_self_time_excludes_children():
    tr = Tracer("t")
    outer = tr.open("outer")
    a = tr.name_id("child")
    start = tr.start[outer]
    tr.add(a, start + 2_000, start + 5_000)
    tr.add(a, start + 6_000, start + 7_000)
    tr.close(outer)
    tr.end[outer] = start + 10_000
    totals = tr.totals()
    assert totals["outer"] == (10e-6, 6e-6, 1)
    assert totals["child"] == (4e-6, 4e-6, 2)


def test_local_parallelism_follows_nproc(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    nproc = int(subprocess.run(["nproc"], env=env, capture_output=True,
                               text=True, check=True).stdout)
    assert session.cpus() == nproc
    assert session.master_url() == f"local[{nproc}]"


def test_kernel_replay_reproduces_parse_turn():
    chat = inputs.to_table(inputs.chat_rows(600, 21))
    keys = zip(chat.column("conv_id").to_pylist(),
               chat.column("turn_idx").to_pylist())
    rows = list(zip(keys, chat.column("text").to_pylist()))
    tr = Tracer("t")
    table, counts = kernel_split.replay(tr, [rows[:250], rows[250:]],
                                        "fragment", "div", 100)
    expected = oracle.normalize(oracle.results_table(chat, "fragment", "div"))
    assert oracle.compare(expected, oracle.normalize(table)) == set()
    assert counts["rows"] == 600 and counts["batches"] == 3 + 4
    assert counts["fast"] + counts["parsed"] == 600
    bails = sum(counts["bail." + r] for r in kernel_split.BAIL_REASONS)
    assert counts["accepted"] + bails == counts["parsed"]
    totals = tr.totals()
    assert totals["udfs.fast_path"][2] == 600
    assert totals["treebuilder.build"][2] == counts["parsed"]
    # the overhead baseline makes the same calls and records nothing
    untraced, untraced_counts = kernel_split.replay(
        NullTracer(), [rows[:250], rows[250:]], "fragment", "div", 100)
    assert untraced.equals(table) and untraced_counts == counts


def test_cache_replay_counts_repeats_per_worker():
    part = [(("c", i), t) for i, t in enumerate(["a", "b", "a", "a"])]
    # partitions 0 and 2 share worker 0 at two workers
    assert kernel_split.cache_hit_ratio(
        [part, part, part], "fragment", "div", 2) == 8 / 12


def test_benchmark_json_declares_the_reported_metrics():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert ([(m["name"], m["unit"]) for m in bench["end_to_end"]]
            == run.E2E)
    assert ([(m["name"], m["unit"]) for m in bench["per_layer"]]
            == run.PER_LAYER)
    names = {n for n, _ in run.PER_LAYER}
    assert {"fastscan.bail." + r for r in kernel_split.BAIL_REASONS} <= names
