"""Extraction benchmark: one workload, one seed, one JSON result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload flagship_salted --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json says why each exists):

- ``flagship_salted``: the default salted ``parse_webdocs`` plan, every
  parsed column (spans too) into the noop sink;
- ``scan_text``: the scan-partitioned plan (``num_partitions=0``, 1 MiB
  splits) keeping only ``(url, text)``.

``--trace 0`` measures the end-to-end metrics: ``setup_s`` (median of
three set-up rounds, each a JVM launch and Spark session start, corpus
check and Python worker warm-up), ``docs_per_s`` (documents over the
median pass time; the first pass is the checked one and is not timed) and
``peak_rss_mb`` (median over passes of each pass's peak summed RSS of
the JVM and its Python workers, sampled from /proc).

``--trace 1`` is a separate run for the per-layer metrics: Spark layer
passes with the event log on, spans around the engine's public calls, a
pyarrow-only kernel harness over the same payloads, and the layer
ledger with its largest plumbing layer. On ``scan_text`` it also runs
the snapshot sink on a quarter of the corpus: ``snapshot_resumable_extract``
with 8 buckets, a run stopped after 3 commits, and its resume.

Every run checks that each url's text is byte-identical to the
generator's expected text and that every url appears exactly once; the
last stdout line is ``{"correct", "attempted", "failed", "metrics"}``,
and a failed check exits 1. Scratch data lives under ``.perfbench_out/``
in the checkout and is removed at exit; each run's detail JSON (and
span trace, when traced) stays there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)  # run as a script: the package lives beside the engine

# perfbench.corpus and perfbench.workloads import the engine, so they are
# imported only after main() has checked that the engine is there
from perfbench import eventlog, kernel, ledger  # noqa: E402
from perfbench.env import (  # noqa: E402
    CORES,
    RssSampler,
    prepare_env,
    shutdown_jvm,
    start_session,
    wait_for_children,
)
from perfbench.gate import check_texts  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

OUT = os.path.join(ROOT, ".perfbench_out")
SETUP_ROUNDS = 3
MIN_PASSES = 3
OVERHEAD_PASSES = 2
SNAPSHOT_FILES = 2  # corpus files the snapshot sink runs on (a quarter)
KERNEL_SAMPLE = 3072


def load_units(kind: str) -> dict[str, str]:
    """name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _p(values: list[float], q: float) -> float:
    """Nearest-rank percentile (0 for no values)."""
    if not values:
        return 0.0
    vals = sorted(values)
    return vals[min(len(vals) - 1, max(0, int(round(q * len(vals))) - 1))]


def gate(name: str, out, expected: dict[str, str]):
    """Correctness gate over one output table; returns (result, error rows)."""
    rows = zip(out.column("url").to_pylist(), out.column("text").to_pylist())
    result = check_texts(rows, expected)
    errors = out.num_rows - out.column("error").null_count
    if not result.ok or errors:
        print(
            f"perfbench: correctness gate failed on {name}: "
            f"{result.mismatched} text mismatches, {result.missing} missing, "
            f"{result.duplicated} duplicated, {result.extra} unexpected urls, "
            f"{errors} error rows",
            file=sys.stderr,
        )
    return result, errors


def setup_once(wl, corpus, work, event_log=False):
    """Session start, corpus check and Python worker warm-up."""
    from perfbench.workloads import warm_up

    spark = start_session(work, wl.conf, event_log=event_log)
    df = spark.read.parquet(corpus.path)
    n = df.count()
    if n != corpus.n_docs:
        raise RuntimeError(f"corpus check: {n} rows, expected {corpus.n_docs}")
    warm_up(spark, df)
    return spark, df


def run_untraced(wl, corpus, work, seconds):
    setups = []
    spark = None
    for _ in range(SETUP_ROUNDS):
        if spark is not None:
            spark.stop()
            shutdown_jvm()  # so that every round launches its own JVM
        t0 = time.perf_counter()
        spark, df = setup_once(wl, corpus, work)
        setups.append(time.perf_counter() - t0)
    # the first full pass after set-up is the checked one; it also warms
    # the JVM, so it is reported apart from the timed passes
    t0 = time.perf_counter()
    result, errors = gate(wl.name, wl.output(df), corpus.expected)
    first_s = time.perf_counter() - t0
    passes = []
    with RssSampler() as rss:
        t0 = time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
            passes.append(wl.run_pass(df))
            rss.mark()
    spark.stop()
    metrics = {
        "setup_s": statistics.median(setups),
        "docs_per_s": corpus.n_docs / statistics.median(passes),
        "peak_rss_mb": statistics.median(rss.peaks) / (1024 * 1024),
    }
    detail = {
        "setup_s": setups,
        "first_pass_s": first_s,
        "pass_s": passes,
        "pass_peak_rss_mb": [p / (1024 * 1024) for p in rss.peaks],
        "gate": vars(result),
        "error_rows": errors,
    }
    return metrics, detail, [(result, errors)]


def _snapshot_metrics(snap: dict, tracer: Tracer) -> dict:
    from perfbench.workloads import SNAPSHOT_BUCKETS

    left = SNAPSHOT_BUCKETS - snap["committed_before"]
    overhead, base = ledger.resume_overhead(
        snap["resume_s"], snap["full_s"], left / SNAPSHOT_BUCKETS
    )
    totals = tracer.totals()
    return {
        "engine.snapshots.full_s": snap["full_s"],
        "engine.snapshots.resume_s": snap["resume_s"],
        "engine.snapshots.resume_overhead": overhead,
        "engine.snapshots.resume_overhead.base_s": base,
        "engine.snapshots.bucket_s_p50": statistics.median(snap["bucket_s"]),
        "engine.snapshots.bucket_s_max": max(snap["bucket_s"]),
        "engine.snapshots.manifest_read_s": snap["manifest_read_s"],
        "engine.snapshots.read_s": snap["read_s"],
        "engine.snapshots.bytes_written_per_payload_byte": snap["bytes_written"]
        / snap["payload_bytes"],
        "engine.snapshots.buckets_redone": snap["buckets_resumed"] - left,
        "engine.snapshots.commit_s": totals["engine.snapshots.commit"][1],
        "engine.snapshots.bloom_s": totals["engine.snapshots.bloom_build"][1],
        # what the snapshot loop adds over the same salted pass into noop
        "engine.snapshots.sink_s": snap["full_s"] - snap["noop_pass_s"],
    }


def run_traced(wl, corpus, work, trace_path, names):
    from perfbench.workloads import job_label, layer_passes, snapshot_iteration

    tracer = Tracer()
    spark, df = setup_once(wl, corpus, work, event_log=True)
    layers = layer_passes(spark, df, wl, tracer)
    with job_label(spark, "workload.pass"), tracer.span("workload.pass"):
        pass_s = wl.run_pass(df)
    out = wl.output(df)
    gates = [gate(wl.name, out, corpus.expected)]
    snap = None
    if wl.snapshot_layer:
        # the snapshot loop's cost is mostly per bucket, not per document:
        # a quarter of the corpus shows the same costs in a shorter run
        files = corpus.files[:SNAPSHOT_FILES]
        sub = spark.read.parquet(*files)
        with job_label(spark, "engine.snapshots"), tracer.span("engine.snapshots"):
            snap = snapshot_iteration(spark, sub, work, tracer)
        sub_table = pq.read_table(files, columns=["url", "html"])
        expected = {u: corpus.expected[u] for u in sub_table.column("url").to_pylist()}
        snap["payload_bytes"] = sum(len(p) for p in sub_table.column("html").to_pylist())
        gates.append(gate("snapshot resume", snap["output"], expected))
    spark.stop()  # closes the event log
    shutdown_jvm()
    logs = os.path.join(work, "eventlog")
    (log_name,) = os.listdir(logs)
    ev = eventlog.read_event_log(os.path.join(logs, log_name))
    shuffle_label = eventlog.rep_label("engine.partitioning.shuffle", 0)
    summaries = {
        label: eventlog.pass_summary(ev, label) for label in ("workload.pass", shuffle_label)
    }
    full = summaries["workload.pass"]

    spark, df = setup_once(wl, corpus, work)
    untraced = statistics.median(wl.run_pass(df) for _ in range(OVERHEAD_PASSES))
    spark.stop()

    sample = pq.read_table(corpus.path, columns=["url", "html"]).slice(0, KERNEL_SAMPLE)
    k = kernel.run_kernel(sample, Tracer(), wl.spans_consumed)

    m = dict.fromkeys(names, 0.0)
    m.update(k)
    m.update(layers)
    kinds = out.column("kind").to_pylist()
    parse_ms = out.column("parse_ms").to_pylist()
    for kind in ("pdf", "html"):
        vals = [v for kd, v in zip(kinds, parse_ms) if kd == kind]
        m[f"engine.extractor.doc_ms_p50.{kind}"] = _p(vals, 0.50)
        m[f"engine.extractor.doc_ms_p99.{kind}"] = _p(vals, 0.99)
    main = full["stages"].get(full["main_stage"], {})
    m["spark.python.task_s_p50"] = main.get("task_s_p50", 0.0)
    m["spark.python.task_s_max"] = main.get("task_s_max", 0.0)
    m["spark.gc_s"] = full["gc_s"]
    m["spark.scan.input_bytes"] = full["input_bytes"]
    if wl.salted:
        m["engine.partitioning.shuffle_bytes"] = summaries[shuffle_label]["shuffle_write_bytes"]
        if main.get("task_s_p50"):
            m["engine.partitioning.task_s_max_over_p50"] = main["task_s_max"] / main["task_s_p50"]
    if snap is not None:
        m.update(_snapshot_metrics(snap, tracer))
    ledger_layers = dict(layers)
    ledger_layers[ledger.KERNEL] = m[ledger.KERNEL] = ledger.kernel_wall_s(
        k["kernel.busy_s"], k["kernel.sample_docs"], corpus.n_docs, CORES
    )
    led = ledger.build_ledger(pass_s, ledger_layers)
    m["ledger.pass_s"] = pass_s
    m["ledger.unexplained_s"] = led["unexplained_s"]
    m["ledger.largest_plumbing_s"] = led["largest_plumbing_s"]
    m["trace.overhead_s"] = pass_s - untraced
    for line in ledger.format_ledger(wl.name, led):
        print(line)
    tracer.dump(trace_path)
    detail = {
        "ledger": led,
        "untraced_pass_s": untraced,
        "event_log": summaries,
        "gates": [dict(vars(r), error_rows=e) for r, e in gates],
    }
    return m, detail, gates


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import pdf_parser_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench.corpus import build_corpus
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(
            f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
            file=sys.stderr,
        )
        return 2
    os.makedirs(OUT, exist_ok=True)
    tag = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    work = tempfile.mkdtemp(dir=OUT, prefix=f"work-{tag}-")
    try:
        prepare_env(ROOT, work)
        corpus = build_corpus(args.seed, wl.n_docs, os.path.join(work, "corpus"))
        if args.trace:
            units = load_units("per_layer")
            trace_path = os.path.join(OUT, f"trace-{tag}.jsonl")
            metrics, detail, gates = run_traced(wl, corpus, work, trace_path, units)
        else:
            units = load_units("end_to_end")
            metrics, detail, gates = run_untraced(wl, corpus, work, args.seconds)
    finally:
        shutdown_jvm()
        left = wait_for_children()
        shutil.rmtree(work, ignore_errors=True)
    if left:
        print(f"perfbench: processes still running: {left}", file=sys.stderr)
        return 1
    with open(os.path.join(OUT, f"detail-{tag}.json"), "w") as fh:
        json.dump({"workload": wl.name, "seed": args.seed, "metrics": metrics, **detail}, fh, indent=1)
    failed = sum(r.failures + errors for r, errors in gates)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": sum(r.checked for r, _ in gates),
                "failed": failed,
                "metrics": {
                    name: {"value": metrics[name], "unit": unit}
                    for name, unit in units.items()
                },
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
