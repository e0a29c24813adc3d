"""Tests for the benchmark's own helpers: ledger arithmetic, the event-log
parser, the span recorder, the seeded generator and the correctness gate.

Run from the root of a checkout: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import eventlog, ledger  # noqa: E402
from perfbench.gate import check_texts  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


# -- ledger -----------------------------------------------------------------


def test_ledger_reconciles_and_names_largest_plumbing_layer():
    led = ledger.build_ledger(
        10.0,
        {
            "spark.scan.s": 1.0,
            "engine.partitioning.shuffle.s": 2.5,
            "spark.arrow.identity.s": 1.5,
            ledger.KERNEL: 4.0,
        },
    )
    assert led["explained_s"] == pytest.approx(9.0)
    assert led["unexplained_s"] == pytest.approx(1.0)
    # the kernel is larger, but it is not plumbing
    assert led["largest_plumbing"] == "engine.partitioning.shuffle.s"
    assert led["largest_plumbing_s"] == 2.5


def test_ledger_reports_overlap_as_negative_unexplained():
    led = ledger.build_ledger(3.0, {"spark.arrow.identity.s": 2.0, ledger.KERNEL: 2.0})
    assert led["unexplained_s"] == pytest.approx(-1.0)


def test_ledger_without_plumbing_layers():
    led = ledger.build_ledger(2.0, {ledger.KERNEL: 1.5})
    assert led["largest_plumbing"] is None
    assert led["largest_plumbing_s"] == 0.0


def test_kernel_wall_scales_sample_to_corpus_and_cores():
    # 2 s for 1000 docs on one core -> 16000 docs on 4 cores = 8 s
    assert ledger.kernel_wall_s(2.0, 1000, 16000, 4) == pytest.approx(8.0)
    with pytest.raises(ValueError):
        ledger.kernel_wall_s(1.0, 0, 10, 4)


def test_resume_overhead_with_its_base():
    overhead, base = ledger.resume_overhead(5.0, 16.0, 5 / 8)
    assert base == pytest.approx(10.0)
    assert overhead == pytest.approx(0.5)
    with pytest.raises(ValueError):
        ledger.resume_overhead(1.0, 0.0, 0.5)


def test_format_ledger_names_the_largest_plumbing_layer():
    led = ledger.build_ledger(4.0, {"spark.scan.s": 1.0, ledger.KERNEL: 2.0})
    text = "\n".join(ledger.format_ledger("w", led))
    assert "largest plumbing layer: spark.scan.s" in text
    assert "unexplained" in text


# -- event log --------------------------------------------------------------


def _job(job, stages, label):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job,
        "Stage IDs": stages,
        "Properties": {"spark.job.description": label},
    }


def _task(stage, launch, finish, gc=0, shuffle=0, read=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "JVM GC Time": gc,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Bytes Read": read},
        },
    }


EVENTS = [
    {"Event": "SparkListenerApplicationStart"},
    _job(0, [0], "spark.scan"),
    _task(0, 1000, 1500, read=100),
    _task(0, 1000, 1700, read=50),
    # one labelled pass split into two jobs (adaptive execution); stage 2
    # is listed but skipped, so it never reports a task
    _job(1, [1], "workload.pass"),
    _job(2, [2, 3], "workload.pass"),
    _task(1, 0, 200, gc=10, shuffle=4096),
    _task(3, 0, 1000, gc=20),
    _task(3, 0, 3000, gc=5),
    _task(3, 0, 2000),
    _job(3, [4], ""),
    _task(4, 0, 100),
]


def _log():
    return eventlog.parse_events(json.dumps(e) for e in EVENTS)


def test_event_log_groups_jobs_by_label_and_skips_stages_without_tasks():
    log = _log()
    assert log.stages_for("workload.pass") == [1, 3]
    assert log.stages_for("spark.scan") == [0]
    assert log.stages_for("missing") == []


def test_event_log_pass_summary():
    s = eventlog.pass_summary(_log(), "workload.pass")
    assert s["main_stage"] == 3
    main = s["stages"][3]
    assert main["n_tasks"] == 3
    assert main["task_s_p50"] == pytest.approx(2.0)
    assert main["task_s_max"] == pytest.approx(3.0)
    assert s["shuffle_write_bytes"] == 4096
    assert s["gc_s"] == pytest.approx(0.035)
    assert eventlog.pass_summary(_log(), "spark.scan")["input_bytes"] == 150


def test_event_log_empty_pass():
    s = eventlog.pass_summary(_log(), "missing")
    assert s["main_stage"] is None
    assert s["stages"] == {}


def test_event_log_repeated_pass_reads_one_repetition():
    # a pass written three times: under one label every repetition is
    # summed, under per-repetition labels one pass's bytes are read
    events = []
    for rep in range(3):
        events += [
            _job(rep, [rep], "shuffle"),
            _job(10 + rep, [10 + rep], eventlog.rep_label("shuffle", rep)),
            _task(rep, 0, 100, shuffle=1000),
            _task(10 + rep, 0, 100, shuffle=1000),
        ]
    log = eventlog.parse_events(json.dumps(e) for e in events)
    assert eventlog.pass_summary(log, "shuffle")["shuffle_write_bytes"] == 3000
    one = eventlog.pass_summary(log, eventlog.rep_label("shuffle", 0))
    assert one["shuffle_write_bytes"] == 1000
    assert list(one["stages"]) == [10]


def test_event_log_reads_a_file(tmp_path):
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n\n")
    assert eventlog.read_event_log(str(path)).stages_for("workload.pass") == [1, 3]


# -- tracer -----------------------------------------------------------------


def test_tracer_self_time_subtracts_direct_children(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 4.0, 4.5, 10.0])
    monkeypatch.setattr("perfbench.trace.time.perf_counter", lambda: next(clock))
    t = Tracer()
    with t.span("outer"):  # 0 .. 10
        with t.span("inner"):  # 1 .. 3
            pass
        with t.span("inner"):  # 4 .. 4.5
            pass
    assert t.totals() == {"outer": (1, 10.0), "inner": (2, 2.5)}
    assert t.self_times() == {"outer": 7.5, "inner": 2.5}
    assert [s.parent for s in t.spans] == [-1, 0, 0]


def test_tracer_wrap_counts_results_and_dumps(tmp_path):
    t = Tracer()
    f = t.wrap("f", lambda n: list(range(n)), count=len)
    assert f(3) == [0, 1, 2]
    f(2)
    assert t.counts == {"f": 5}
    path = tmp_path / "trace.jsonl"
    t.dump(str(path))
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["name"] for r in rows] == ["f", "f"]
    assert rows[0]["start"] == 0.0


# -- generator and gate -----------------------------------------------------


def test_generator_is_seeded_and_keeps_the_engine_mix():
    from perfbench.corpus import ID_STRIDE, LANGS, VOCAB, WORDS_PER_DOC, make_docs

    a = make_docs(7, 2000)
    assert a == make_docs(7, 2000)
    assert a != make_docs(8, 2000)
    ids = [d[0] for d in a]
    assert ids[0] % ID_STRIDE == 0
    assert ids == list(range(ids[0], ids[0] + 2000))
    texts = [d[1] for d in a]
    base = [t.split() for t in texts if not t.endswith(" dup")]
    assert all(WORDS_PER_DOC[0] <= len(w) <= WORDS_PER_DOC[1] for w in base)
    assert {w for ws in base for w in ws} == set(VOCAB)
    # about 5% near-duplicates: another document's text plus " dup" (that
    # text may itself be replaced later, as in 7 of sf0.1's 250)
    dups = [t for t in texts if t.endswith(" dup")]
    assert 50 <= len(dups) <= 150
    assert sum(t[: -len(" dup")] in texts for t in dups) >= 0.9 * len(dups)
    assert {d[2] for d in a} == set(LANGS)
    assert all(t.isascii() for t in texts)


def test_gate_on_a_tiny_corpus(tmp_path):
    """The kernel's own output passes; each kind of defect is counted."""
    import pyarrow.parquet as pq

    from perfbench.corpus import build_corpus
    from pdf_parser_spark.engine.extractor import extract_batch_arrow

    corpus = build_corpus(3, 24, str(tmp_path))
    assert corpus.n_docs == 24 and len(corpus.files) == 8
    table = pq.read_table(corpus.files, columns=["url", "html"])
    kinds = []
    rows = []
    for out in extract_batch_arrow(iter(table.to_batches(max_chunksize=8))):
        kinds += out.column("kind").to_pylist()
        rows += zip(out.column("url").to_pylist(), out.column("text").to_pylist())
    assert kinds.count("pdf") == kinds.count("html") == 12
    ok = check_texts(rows, corpus.expected)
    assert ok.ok and ok.checked == 24

    (u0, t0), (u1, _), (u2, _) = rows[:3]
    bad = [(u0, t0 + "x"), (u2, "?")] + rows[3:] + [rows[3], ("https://x/doc/1", "")]
    res = check_texts(bad, corpus.expected)
    assert (res.mismatched, res.missing, res.duplicated, res.extra) == (2, 1, 1, 1)
    assert res.failures == 5 and not res.ok


def test_kernel_harness_traces_every_layer_and_restores_them(tmp_path):
    import pyarrow.parquet as pq

    import pdf_parser_spark.pdfcore.extract as pdfx
    from perfbench import kernel
    from perfbench.corpus import build_corpus

    before = (pdfx.extract_pdf, pdfx.extract_text_items, pdfx.extract_spans)
    corpus = build_corpus(5, 40, str(tmp_path))
    table = pq.read_table(corpus.files)
    used = kernel.run_kernel(table, Tracer(), spans_consumed=True)
    dropped = kernel.run_kernel(table, Tracer(), spans_consumed=False)
    assert (pdfx.extract_pdf, pdfx.extract_text_items, pdfx.extract_spans) == before
    assert used["kernel.sample_docs"] == 40
    assert used["pdfcore.tokenizer.spans.count"] > 0
    assert used["pdfcore.tokenizer.spans.useful_ratio"] == 1.0
    assert dropped["pdfcore.tokenizer.spans.useful_ratio"] == 0.0
    # the batch span covers the kernel calls it makes
    kernel_s = (
        used["pdfcore.document.busy_s"]
        + used["pdfcore.tokenizer.items.busy_s"]
        + used["pdfcore.tokenizer.spans.busy_s"]
        + used["htmlcore.extract.busy_s"]
    )
    assert used["kernel.busy_s"] == pytest.approx(
        kernel_s + used["engine.extractor.arrow_build.self_s"]
    )
