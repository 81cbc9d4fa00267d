#!/usr/bin/env python3
"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload chat_mixed --seed 1 --seconds 15 \
        --trace 0

Run from the repository root. It generates the workload's inputs from the
seed, starts Spark at local[nproc], warms up on an input from another
seed, then times passes for --seconds, emptying the Python workers'
parse cache before each pass. Every turn of the timed input is checked
against the oracle (perfbench/oracle.py). --trace 0 reports the
end-to-end metrics; --trace 1 reports the per-layer metrics from a
separate traced run and writes its spans under .perfbench_work/traces/.
The last line of stdout is the JSON result; lines before it give each
metric with its unit and sample count. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("chat_mixed", "html_dense")
CONTEXT = "div"
CHECKPOINT_BUCKETS = 16
MIN_PASSES = 3  # and the least number of rounds in a traced run
# Passes over the warm-up input before timing. A fresh JVM keeps getting
# faster for many passes as the JIT compiles; a fixed schedule keeps
# that drift the same in every run.
WARMUP_PASSES = 4

E2E = [("setup_s", "s"), ("pass_s", "s"), ("turns_per_s", "1/s"),
       ("text_mb_per_s", "MB/s"), ("peak_rss_mb", "MB"),
       ("peak_worker_rss_mb", "MB")]

KERNEL_LAYERS = ["tokenizer.replace_nulls", "fastscan.tokenize",
                 "fastscan.bail_scan", "tokenizer.tokenize",
                 "treebuilder.build", "extract.spans", "udfs.fast_path",
                 "udfs.arrow_build"]
PER_LAYER = (
    [(n, "s") for n in ("pipeline.scan.s", "udfs.crossing.s",
                        "udfs.kernel.s", "pipeline.window.s")]
    + [(n + ".s", "s") for n in KERNEL_LAYERS]
    + [("treebuilder.self.s", "s"),
       ("udfs.rows", "count"), ("udfs.bytes", "B"), ("udfs.batches", "count"),
       ("udfs.fast_path.ratio", "ratio"), ("udfs.cache.hit_ratio", "ratio"),
       ("fastscan.accept.ratio", "ratio"),
       ("fastscan.accept.bytes_ratio", "ratio")]
    + [("fastscan.bail." + r, "count") for r in (
        "precheck", "raw-tag-after-foreign", "cdata-after-foreign",
        "attr-name-too-long", "python-gate", "unavailable", "other")]
    + [("treebuilder.nodes", "count"), ("treebuilder.parse_errors", "count"),
       ("checkpoint.write.s", "s"), ("checkpoint.manifest.s", "s"),
       ("checkpoint.resume.s", "s"), ("pipeline.downstream.s", "s"),
       ("setup.session.s", "s"), ("setup.inputs.s", "s"),
       ("setup.warmup.s", "s"), ("trace.overhead.ratio", "ratio")]
)


def _process_age() -> float:
    """Seconds since this process started (from /proc/self/stat)."""
    with open("/proc/self/stat", "rb") as f:
        data = f.read()
    start_ticks = int(data[data.rindex(b")") + 2:].split()[19])
    boot_now = time.clock_gettime(time.CLOCK_BOOTTIME)
    return boot_now - start_ticks / os.sysconf("SC_CLK_TCK")


def _log(msg: str) -> None:
    print(f"[perfbench {_process_age():7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def _noop(df) -> None:
    # count() would let Catalyst prune the extracted columns and window
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str):
        from perfbench import inputs

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.mode = inputs.SIZES[workload][0]
        self.ordered = self.mode == "fragment"
        self.input_dir = os.path.join(work, "input")
        self.warm_dir = os.path.join(work, "warmup")
        self.spark = None
        self.tracer = None
        self.metrics: dict = {}
        self.samples: dict = {}
        self.notes: list = []
        self.problems: list = []
        self.clear_s: list = []
        self.written = None

    # ---- passes ----------------------------------------------------------

    def _extract(self, df, ordered=None):
        from html_parser_spark.spark.pipeline import extract_turns

        return extract_turns(df, self.mode, CONTEXT,
                             ordered=self.ordered if ordered is None
                             else ordered)

    def _pass(self, input_dir: str) -> None:
        """One pass of the workload, from input to complete result."""
        _noop(self._extract(self.spark.read.parquet(input_dir)))

    def _checkpoint_roundtrip(self, input_dir: str, run_dir: str) -> dict:
        """The job path of jobs/extract_job.py into a fresh directory,
        the same call again as the resume (every bucket is done by
        then), and the downstream reads of the written table; returns
        the traced time of each part."""
        from html_parser_spark.spark import checkpoint
        from html_parser_spark.spark.pipeline import (
            conversation_stats, sft_pairs,
        )

        tr = self.tracer
        out_dir = os.path.join(run_dir, "out")
        ckpt_dir = os.path.join(run_dir, "checkpoint")

        def run_job():
            return checkpoint.run_with_checkpoint(
                self.spark, self.spark.read.parquet(input_dir), out_dir,
                ckpt_dir, buckets=CHECKPOINT_BUCKETS, mode=self.mode,
                context=CONTEXT)

        orig = checkpoint.write_manifest
        manifest_s = []

        def write_manifest(*args, **kwargs):
            with tr.span("checkpoint.write_manifest") as sid:
                result = orig(*args, **kwargs)
            manifest_s.append(tr.seconds(sid))
            return result

        checkpoint.write_manifest = write_manifest
        try:
            with tr.span("checkpoint.write") as write_sid:
                self.written = run_job()
            with tr.span("checkpoint.resume") as resume_sid:
                run_job()
            with tr.span("pipeline.downstream") as down_sid:
                written = self.spark.read.parquet(self.written)
                _noop(conversation_stats(written))
                _noop(sft_pairs(written))
        finally:
            checkpoint.write_manifest = orig
        return {"checkpoint.write.s": tr.seconds(write_sid) - sum(manifest_s),
                "checkpoint.manifest.s": sum(manifest_s),
                "checkpoint.resume.s": tr.seconds(resume_sid),
                "pipeline.downstream.s": tr.seconds(down_sid)}

    # ---- phases ----------------------------------------------------------

    def setup(self) -> None:
        """Session start and input generation overlap (the JVM boots
        while this process generates); the warm-up pass follows."""
        from perfbench import inputs, session

        def make_inputs():
            t = time.perf_counter()
            files = 4 * session.cpus()
            self.table = inputs.to_table(
                inputs.workload_rows(self.workload, self.seed))
            self.files = inputs.write_parquet(self.table, self.input_dir,
                                              files)
            inputs.write_parquet(inputs.to_table(inputs.workload_rows(
                self.workload, self.seed, warmup=True)), self.warm_dir, files)
            self.metrics["setup.inputs.s"] = time.perf_counter() - t

        t0 = time.perf_counter()
        with ThreadPoolExecutor(1) as pool:
            gen = pool.submit(make_inputs)
            self.spark = session.start_spark()
            self.jvm = session.jvm_pid(self.spark)
            self.metrics["setup.session.s"] = time.perf_counter() - t0
            gen.result()
        _log("session and inputs ready")
        t1 = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            self._pass(self.warm_dir)
        self.metrics["setup.warmup.s"] = time.perf_counter() - t1
        self.metrics["setup_s"] = _process_age()

    def measure(self) -> None:
        from perfbench import inputs, session

        times, rss = [], []
        while sum(times) < self.seconds or len(times) < MIN_PASSES:
            t = time.perf_counter()
            session.clear_worker_caches(self.spark)
            self.clear_s.append(time.perf_counter() - t)
            with session.RssSampler(self.jvm) as sampler:
                t0 = time.perf_counter()
                self._pass(self.input_dir)
                times.append(time.perf_counter() - t0)
            rss.append(sampler)
        self.notes.append("pass times " + " ".join(f"{t:.3f}" for t in times))
        self.notes.append("worker cache clears took " + " ".join(
            f"{t:.3f}" for t in self.clear_s))
        self.notes.append("setup parts " + ", ".join(
            f"{k} {v:.3f}" for k, v in self.metrics.items()
            if k.startswith("setup.")))
        self.notes.append("peak RSS in all / in the Python processes "
                          + " ".join(f"{r.peak:.0f}/{r.workers_peak:.0f}"
                                     for r in rss) + " MB")
        pass_s = statistics.median(times)
        self.metrics["pass_s"] = pass_s
        self.metrics["turns_per_s"] = self.table.num_rows / pass_s
        self.metrics["text_mb_per_s"] = (
            inputs.text_bytes(self.table) / 1e6 / pass_s)
        self.metrics["peak_rss_mb"] = statistics.median(r.peak for r in rss)
        self.metrics["peak_worker_rss_mb"] = statistics.median(
            r.workers_peak for r in rss)
        for name in ("pass_s", "turns_per_s", "text_mb_per_s",
                     "peak_rss_mb", "peak_worker_rss_mb"):
            self.samples[name] = len(times)
        self.samples["setup_s"] = 1

    def measure_traced(self) -> None:
        """Rounds of the four cumulative plans of the Spark stage split,
        each after emptying the worker caches, the order reversing every
        other round so that plans that speed up as the JVM warms favour
        none of them. Rounds go on for --seconds of plan time and at
        least MIN_PASSES rounds."""
        from html_parser_spark.spark.pipeline import PASSTHROUGH
        from perfbench import session

        df = self.spark.read.parquet(self.input_dir).select(
            *PASSTHROUGH, "text")
        steps = [
            ("stage.scan", lambda: _noop(df)),
            ("stage.identity", lambda: _noop(
                df.mapInArrow(_identity, df.schema))),
            ("stage.kernel", lambda: _noop(self._extract(df, ordered=False))),
            ("stage.window", lambda: _noop(self._extract(df, ordered=True))),
        ]
        times: dict = {name: [] for name, _ in steps}
        rounds = 0
        while (sum(map(sum, times.values())) < self.seconds
               or rounds < MIN_PASSES):
            for name, step in steps if rounds % 2 == 0 else steps[::-1]:
                session.clear_worker_caches(self.spark)
                with self.tracer.span(name):
                    t0 = time.perf_counter()
                    step()
                    times[name].append(time.perf_counter() - t0)
            rounds += 1
        self.notes.append(f"{rounds} rounds of the stage split")
        med = {name: statistics.median(t) for name, t in times.items()}
        m = self.metrics
        m["pipeline.scan.s"] = med["stage.scan"]
        m["udfs.crossing.s"] = med["stage.identity"] - med["stage.scan"]
        m["udfs.kernel.s"] = med["stage.kernel"] - med["stage.identity"]
        m["pipeline.window.s"] = med["stage.window"] - med["stage.kernel"]

    def checkpoint_split(self) -> None:
        """One roundtrip on the warm-up input (the first one in a JVM
        is several times slower), then the measured one on this
        workload's input."""
        from perfbench import session

        with self.tracer.span("checkpoint.warmup"):
            self._checkpoint_roundtrip(
                self.warm_dir, os.path.join(self.work, "ckpt-warmup"))
        session.clear_worker_caches(self.spark)
        self.metrics.update(self._checkpoint_roundtrip(
            self.input_dir, os.path.join(self.work, "ckpt")))

    def kernel_split(self) -> None:
        """Pairs of kernel replays on the pass input, one with a tracer
        that records nothing and one that records, the order reversing
        every other pair, until the replays have run --seconds and at
        least two pairs. The first recording replay records into the
        run's tracer and gives the per-layer numbers; the others use a
        throwaway tracer. trace.overhead.ratio is the median recording
        replay over the median non-recording one, minus 1. A replay of
        the first partition warms the kernel in this process first."""
        from pyspark.sql import functions as F

        from perfbench import kernel_split, session
        from perfbench.spans import NullTracer, Tracer

        t = self.spark.read.parquet(self.input_dir).select(
            "conv_id", "turn_idx", "text",
            F.spark_partition_id().alias("p")).toArrow()
        partitions: dict = {}
        for conv, idx, text, p in zip(*(c.to_pylist() for c in t.columns)):
            partitions.setdefault(p, []).append(((conv, idx), text))
        parts = [partitions[p] for p in sorted(partitions)]
        batch_rows = int(self.spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"))

        def timed(tracer):
            with tracer.span("kernel_split"):
                t0 = time.perf_counter()
                result = kernel_split.replay(tracer, parts, self.mode,
                                             CONTEXT, batch_rows)
                return time.perf_counter() - t0, result

        kernel_split.replay(NullTracer(), parts[:1], self.mode, CONTEXT,
                            batch_rows)
        untraced, traced = [], []
        while (sum(untraced) + sum(traced) < self.seconds
               or len(traced) < 2):
            tracer = Tracer("overhead") if traced else self.tracer
            pair = [(untraced, NullTracer()), (traced, tracer)]
            for times, tr in pair if len(traced) % 2 == 0 else pair[::-1]:
                seconds, result = timed(tr)
                times.append(seconds)
                if tr is self.tracer:
                    self.replayed, c = result
        self.notes.append("kernel replays untraced " + " ".join(
            f"{x:.3f}" for x in untraced) + " s, traced " + " ".join(
            f"{x:.3f}" for x in traced) + " s")
        totals = self.tracer.totals()
        m = self.metrics
        m["trace.overhead.ratio"] = (
            statistics.median(traced) / statistics.median(untraced) - 1)
        for layer in KERNEL_LAYERS:
            m[layer + ".s"] = totals.get(layer, (0.0,))[0]
        m["treebuilder.self.s"] = m["treebuilder.build.s"] - sum(
            m[n] for n in ("fastscan.tokenize.s", "fastscan.bail_scan.s",
                           "tokenizer.tokenize.s"))
        m["udfs.rows"] = c["rows"]
        m["udfs.bytes"] = c["bytes"]
        m["udfs.batches"] = c["batches"]
        m["udfs.fast_path.ratio"] = c["fast"] / c["rows"]
        m["udfs.cache.hit_ratio"] = kernel_split.cache_hit_ratio(
            parts, self.mode, CONTEXT, session.cpus())
        m["fastscan.accept.ratio"] = c["accepted"] / max(c["parsed"], 1)
        m["fastscan.accept.bytes_ratio"] = (
            c["accepted_bytes"] / max(c["parsed_bytes"], 1))
        for reason in kernel_split.BAIL_REASONS:
            m["fastscan.bail." + reason] = c["bail." + reason]
        m["treebuilder.nodes"] = c["nodes"]
        m["treebuilder.parse_errors"] = c["parse_errors"]

    def verify(self) -> tuple:
        """(turns checked, wrong turns): every turn of the timed input
        against the oracle."""
        import pyarrow.parquet as pq

        from perfbench import oracle, session

        oracle_dir = os.path.join(self.work, "oracle")
        running = oracle.start(self.files, self.mode, CONTEXT, oracle_dir,
                               session.cpus())
        try:
            table = self._extract(
                self.spark.read.parquet(self.input_dir)).toArrow()
        finally:
            oracle.wait(running)
        expected = oracle.normalize(pq.read_table(oracle_dir))
        if expected.num_rows != self.table.num_rows:
            self.problems.append("the oracle did not cover every turn")
        wrong = oracle.compare(expected, oracle.normalize(table))
        if self.ordered:
            wrong |= oracle.rank_errors(table)
        if wrong:
            self.problems.append(
                f"{len(wrong)} wrong turns, e.g. {sorted(wrong)[:3]}")
        if self.trace:
            bad = oracle.compare(expected, oracle.normalize(self.replayed))
            if bad:
                self.problems.append(
                    f"kernel replay differs on {len(bad)} turns")
            written = pq.read_table(self.written)
            bad = oracle.compare(expected, oracle.normalize(written))
            bad |= oracle.rank_errors(written)  # the job always orders
            if bad:
                self.problems.append(
                    f"checkpointed table differs on {len(bad)} turns")
            self._check_manifest()
        return self.table.num_rows, len(wrong)

    def _check_manifest(self) -> None:
        """The resume must add nothing: one done row per part_key, and
        the turns add up to the input."""
        import pyarrow.parquet as pq

        m = pq.read_table(os.path.join(
            os.path.dirname(os.path.dirname(self.written)),
            "checkpoint", "manifest")).to_pydict()
        keys = m["part_key"]
        if (len(set(keys)) != len(keys) or set(m["status"]) != {"done"}
                or sum(m["turns"]) != self.table.num_rows):
            self.problems.append("checkpoint manifest is inconsistent")

    def run(self) -> dict:
        from perfbench import inputs
        from perfbench.spans import Tracer

        self.setup()
        _log("setup done")
        if self.trace:
            self.tracer = Tracer(os.path.basename(self.work))
            self.measure_traced()
            self.checkpoint_split()
            self.kernel_split()
        else:
            self.measure()
        _log("measurements done")
        attempted, failed = self.verify()
        _log("verification done")
        if self.tracer:
            traces = os.path.join(WORK_BASE, "traces")
            os.makedirs(traces, exist_ok=True)
            path = os.path.join(traces, os.path.basename(self.work)
                                + ".parquet")
            self.tracer.write(path)
            self.notes.append(f"spans written to {os.path.relpath(path)}")
            for name, (tot, slf, cnt) in sorted(self.tracer.totals().items()):
                self.notes.append(f"span {name}: total {tot:.4f} s, "
                                  f"self {slf:.4f} s, n={cnt}")
        self.notes.append(f"input sha256 {inputs.digest(self.table)}, "
                          f"{self.table.num_rows} turns, "
                          f"{inputs.text_bytes(self.table)} text bytes")
        self.notes.append(f"wrong_turns_frac = {failed / attempted} "
                          f"({failed} of {attempted} turns)")
        self.notes += ["PROBLEM: " + p for p in self.problems]
        names = PER_LAYER if self.trace else E2E
        metrics = {n: {"value": self.metrics[n], "unit": u}
                   for n, u in names}
        correct = failed == 0 and not self.problems
        return {"correct": correct, "attempted": attempted,
                "failed": failed, "metrics": metrics}

    def close(self) -> None:
        from perfbench import session

        try:
            if self.spark is not None:
                session.stop_spark(self.spark)
        finally:
            shutil.rmtree(self.work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "html_parser_spark")):
        print("perfbench: html_parser_spark/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # not perfbench/, whose module names are generic
    from perfbench import session

    work = os.path.join(WORK_BASE, "runs",
                        f"{args.workload}-s{args.seed}-t{args.trace}-"
                        f"{os.getpid()}")
    session.configure_env(ROOT, work, os.path.join(WORK_BASE, "tmp"))
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                  work)
    try:
        result = bench.run()
    finally:
        bench.close()
        _log("stopped")
    print(f"workload {args.workload}, seed {args.seed}, "
          f"{session.master_url()}, trace {args.trace}")
    for note in bench.notes:
        print(note)
    for name, m in result["metrics"].items():
        n = bench.samples.get(name)
        print(f"{name} = {m['value']} {m['unit']}"
              + (f" (median of {n})" if n else ""))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
