"""pyarrow-only kernel harness: the extraction kernel without Spark.

Feeds a sample of the workload's own corpus through
``engine.extractor.extract_batch_arrow`` (the body Spark runs inside
``mapInArrow``) in one process, with spans around every call into the
kernel layers. The layers are wrapped at their module attributes for the
duration of the run and restored afterwards:

- ``engine.extractor.extract_batch_arrow`` (one span per output batch)
- ``pdfcore.extract.extract_pdf`` (one per PDF)
- ``pdfcore.tokenizer.extract_text_items`` / ``extract_spans`` (per page)
- ``htmlcore.extract.extract_html`` (one per HTML page)

Self time of ``extract_pdf`` is the document layer: open, xref, page
tree, fonts/CMaps and content streams. Self time of the batch span is
the Arrow building around the kernel calls.
"""

from __future__ import annotations

from contextlib import contextmanager

import pyarrow as pa

from .trace import Tracer

BATCH = "engine.extractor.extract_batch_arrow"
PDF = "pdfcore.extract.extract_pdf"
ITEMS = "pdfcore.tokenizer.extract_text_items"
SPANS = "pdfcore.tokenizer.extract_spans"
HTML = "htmlcore.extract.extract_html"
BATCH_ROWS = 256  # the engine's spark.sql.execution.arrow.maxRecordsPerBatch


@contextmanager
def instrumented(tracer: Tracer):
    """Wrap the kernel layers' entry points with *tracer* spans."""
    import pdf_parser_spark.htmlcore.extract as htmlx
    import pdf_parser_spark.pdfcore.extract as pdfx

    patches = [
        (pdfx, "extract_pdf", PDF, None),
        (pdfx, "extract_text_items", ITEMS, len),
        (pdfx, "extract_spans", SPANS, len),
        (htmlx, "extract_html", HTML, None),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _, _ in patches]
    try:
        for mod, attr, name, count in patches:
            setattr(mod, attr, tracer.wrap(name, getattr(mod, attr), count))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def run_kernel(table: pa.Table, tracer: Tracer, spans_consumed: bool) -> dict:
    """Per-layer kernel metrics over *table* (``url``, ``html`` columns).

    *spans_consumed* says whether the workload's sink keeps the span
    column; it sets the spans' useful ratio.
    """
    from pdf_parser_spark.engine.extractor import extract_batch_arrow

    slim = table.select(["url", "html"])
    # warm the CMap caches and regexes untraced, as a long-lived worker has them
    for _ in extract_batch_arrow(iter(slim.slice(0, BATCH_ROWS).to_batches())):
        pass
    n_pdf = n_html = fallback = recovered = out_bytes = n_spans = 0
    with instrumented(tracer):
        gen = extract_batch_arrow(iter(slim.to_batches(max_chunksize=BATCH_ROWS)))
        while True:
            with tracer.span(BATCH):
                out = next(gen, None)
            if out is None:
                break
            kinds = out.column("kind").to_pylist()
            n_pdf += kinds.count("pdf")
            n_html += kinds.count("html")
            fallback += sum(out.column("fallback_pages").to_pylist())
            recovered += sum(out.column("recovered").to_pylist())
            n_spans += sum(out.column("n_spans").to_pylist())
            out_bytes += out.nbytes
    totals = tracer.totals()
    selfs = tracer.self_times()
    pdf_s = totals.get(PDF, (0, 0.0))[1]
    html_s = totals.get(HTML, (0, 0.0))[1]
    n_docs = n_pdf + n_html
    return {
        "kernel.sample_docs": n_docs,
        "kernel.busy_s": totals[BATCH][1],
        "pdfcore.document.busy_s": selfs.get(PDF, 0.0),
        "pdfcore.tokenizer.items.busy_s": totals.get(ITEMS, (0, 0.0))[1],
        "pdfcore.tokenizer.items.count": tracer.counts.get(ITEMS, 0),
        "pdfcore.tokenizer.spans.busy_s": totals.get(SPANS, (0, 0.0))[1],
        "pdfcore.tokenizer.spans.count": tracer.counts.get(SPANS, 0),
        "pdfcore.tokenizer.spans.useful_ratio": (
            (n_spans if spans_consumed else 0) / tracer.counts[SPANS]
            if tracer.counts.get(SPANS)
            else 0.0
        ),
        "pdfcore.extract.docs_per_s_core": n_pdf / pdf_s if pdf_s else 0.0,
        "pdfcore.extract.fallback_pages": fallback,
        "pdfcore.extract.recovered": recovered,
        "htmlcore.extract.busy_s": html_s,
        "htmlcore.extract.docs_per_s_core": n_html / html_s if html_s else 0.0,
        "engine.extractor.arrow_build.self_s": selfs[BATCH],
        "engine.extractor.out_bytes_per_doc": out_bytes / n_docs if n_docs else 0.0,
    }
