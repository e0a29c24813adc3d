"""The benchmark workloads, the snapshot iteration and the Spark layer passes.

Every timing wraps a call into the engine's public functions from the
outside; the engine itself is not modified or configured beyond what a
user of ``parse_webdocs`` / ``snapshot_resumable_extract`` would set.
"""

from __future__ import annotations

import os
import statistics
import tempfile
import time
from contextlib import contextmanager

from pdf_parser_spark.engine import partitioning, snapshots
from pdf_parser_spark.engine.extractor import parse_webdocs

from .eventlog import rep_label
from .trace import Tracer

GATE_COLS = ["url", "text", "kind", "parse_ms", "error"]
SLIM_COLS = ["url", "html", "host"]  # what parse_webdocs keeps of its input
SNAPSHOT_BUCKETS = 8
STOP_AFTER = 3  # commits before the interrupted snapshot run is stopped


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, *args, **kwargs) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


@contextmanager
def job_label(spark, label: str):
    """Tag every Spark job started inside the block with *label*."""
    sc = spark.sparkContext
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setJobDescription(None)


class Workload:
    name = ""
    n_docs = 0
    conf: dict = {}
    salted = True  # the plan shuffles through engine.partitioning
    spans_consumed = True  # the sink keeps the span column
    snapshot_layer = False  # the traced run also measures engine.snapshots

    def plan(self, df):
        """The workload's extraction plan, as its sink receives it."""
        raise NotImplementedError

    def output(self, df):
        """The same extraction's GATE_COLS output as a pyarrow table."""
        raise NotImplementedError

    def run_pass(self, df) -> float:
        """Wall seconds of one pass into the noop sink, building the plan
        included: the salted plan runs its salt-map pre-pass while built."""
        return timed(lambda: noop(self.plan(df)))[0]


class FlagshipSalted(Workload):
    """Default salted plan; every parsed column, spans too, is consumed."""

    name = "flagship_salted"
    n_docs = 10000

    def plan(self, df):
        return parse_webdocs(df)

    def output(self, df):
        return parse_webdocs(df).select(*GATE_COLS).toArrow()


class ScanText(Workload):
    """Scan-partitioned plan (no shuffle) keeping only (url, text)."""

    name = "scan_text"
    n_docs = 10000
    conf = {"spark.sql.files.maxPartitionBytes": str(1 << 20)}
    salted = False
    spans_consumed = False
    # the snapshot loop runs its own salted plan on its own input; it is
    # measured here because this traced run is otherwise the shorter one
    snapshot_layer = True

    def plan(self, df):
        return parse_webdocs(df, num_partitions=0).select("url", "text")

    def output(self, df):
        return parse_webdocs(df, num_partitions=0).select(*GATE_COLS).toArrow()


class _Stop(Exception):
    """Raised from the on_batch hook to interrupt a snapshot run."""


def _stop_after(k: int):
    done: list[int] = []

    def hook(bucket: int) -> None:
        done.append(bucket)
        if len(done) >= k:
            raise _Stop

    return hook


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def snapshot_iteration(spark, df, work: str, tracer: Tracer) -> dict:
    """The snapshot sink and commit log: a full ``snapshot_resumable_extract``
    run, a second run stopped after STOP_AFTER commits, and its resume.
    ``noop_pass_s`` is the same salted extraction into the noop sink, the
    base the snapshot loop's own cost is measured against."""
    noop_pass_s, _ = timed(lambda: noop(parse_webdocs(df)))
    base = tempfile.mkdtemp(dir=work, prefix="snapshot-")
    full_dir = os.path.join(base, "full")
    resume_dir = os.path.join(base, "resume")
    stamps = [time.perf_counter()]
    with _traced_snapshots(tracer):
        full_s, _ = timed(
            snapshots.snapshot_resumable_extract,
            spark,
            df,
            full_dir,
            n_batches=SNAPSHOT_BUCKETS,
            on_batch=lambda b: stamps.append(time.perf_counter()),
        )
    try:
        snapshots.snapshot_resumable_extract(
            spark, df, resume_dir, n_batches=SNAPSHOT_BUCKETS,
            on_batch=_stop_after(STOP_AFTER),
        )
    except _Stop:
        pass
    else:
        raise RuntimeError("the interrupted snapshot run was not stopped")
    manifest_s, committed = timed(
        snapshots.SnapshotLog(resume_dir).committed_buckets, kind="extract"
    )
    resumed: list[int] = []
    resume_s, table = timed(
        snapshots.snapshot_resumable_extract,
        spark, df, resume_dir, n_batches=SNAPSHOT_BUCKETS, on_batch=resumed.append,
    )
    read_s, _ = timed(lambda: snapshots.SnapshotLog(resume_dir).read(spark).count())
    return {
        "noop_pass_s": noop_pass_s,
        "full_s": full_s,
        "resume_s": resume_s,
        "output": table.select(*GATE_COLS).toArrow(),
        "committed_before": len(committed),
        "buckets_resumed": len(resumed),
        "bucket_s": [b - a for a, b in zip(stamps, stamps[1:])],
        "manifest_read_s": manifest_s,
        "read_s": read_s,
        "bytes_written": _dir_bytes(os.path.join(full_dir, "data")),
    }


@contextmanager
def _traced_snapshots(tracer: Tracer):
    """Spans around the snapshot log's manifest commits and bloom builds."""
    commit = snapshots.SnapshotLog.commit
    bloom = snapshots.bloom_build
    snapshots.SnapshotLog.commit = tracer.wrap("engine.snapshots.commit", commit)
    snapshots.bloom_build = tracer.wrap("engine.snapshots.bloom_build", bloom)
    try:
        yield
    finally:
        snapshots.SnapshotLog.commit = commit
        snapshots.bloom_build = bloom


WORKLOADS = {w.name: w for w in (FlagshipSalted(), ScanText())}


def warm_up(spark, df, n_docs: int = 512) -> None:
    """Start every Python worker and import the kernel in it: one task per
    core after a plain repartition; the salt pre-pass is not needed."""
    cores = spark.sparkContext.defaultParallelism
    noop(parse_webdocs(df.limit(n_docs), num_partitions=cores, salt=False))


def layer_passes(spark, df, wl: Workload, tracer: Tracer, reps: int = 3) -> dict:
    """Spark layer times from plan prefixes over the workload's input.

    Each prefix is written to the noop sink *reps* times and the median
    kept; a layer's time is its prefix minus the prefix before it. Each
    repetition's jobs carry the label ``rep_label(label, i)``.
    """

    def run(label: str, plan) -> float:
        times = []
        for i in range(reps):
            with job_label(spark, rep_label(label, i)), tracer.span(label):
                times.append(timed(noop, plan)[0])
        return statistics.median(times)

    slim = df.select(*SLIM_COLS)
    out = {"spark.scan.s": run("spark.scan", slim)}
    upstream, upstream_s = slim, out["spark.scan.s"]
    if wl.salted:
        with job_label(spark, "engine.partitioning.salt_map"), tracer.span("salt_map"):
            out["engine.partitioning.salt_map.s"], salt_map = timed(
                partitioning.compute_salt_map, slim
            )
        n_part = spark.sparkContext.defaultParallelism * 8  # parse_webdocs' default
        upstream = partitioning.salted_repartition(slim, n_part, salt_map=salt_map)
        shuffled_s = run("engine.partitioning.shuffle", upstream)
        out["engine.partitioning.shuffle.s"] = shuffled_s - upstream_s
        upstream_s = shuffled_s
    identity_s = run(
        "spark.arrow.identity", upstream.mapInArrow(lambda it: it, upstream.schema)
    )
    out["spark.arrow.identity.s"] = identity_s - upstream_s
    return out
