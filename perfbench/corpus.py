"""Seeded synthetic web corpus for the benchmark.

The seed picks the documents' source texts and their clone ids. The
texts follow figures measured on the engine's sf0.1 ``documents`` table
(5000 rows): 10-99 words drawn uniformly from the same 30-word ASCII
vocabulary, 5% of documents a near-duplicate (another document's text
plus the token ``dup``), and languages en/zh/es/fr/de at
2059/753/744/742/702 rows. No sf0.1 text holds a non-ASCII character,
so none is generated here either.

Payloads come from the engine's public generator (``payload_for``/
``host_for``), so the mix is the engine's own: even ids are PDFs cycling
three xref layouts, odd ids are HTML pages, and 40% of ids land on one
hot host.
Ids are one contiguous run whose start is a multiple of ``ID_STRIDE``,
which keeps those shares exact for every seed.

The program under test receives only the parquet files written here
(``doc_id, url, host, html``). The expected text per url stays on the
benchmark's side for the correctness gate.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_parser_spark.engine.corpus import expected_extracted, host_for, payload_for

# Word list, lengths and language mix measured on sf0.1 ``documents``.
VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter key window row table stream merge data query "
    "vector big customer join"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (2059, 753, 744, 742, 702)
WORDS_PER_DOC = (10, 99)
DUP_SHARE = 0.05  # near-duplicates: another document's text + " dup"
ID_STRIDE = 60  # lcm of the PDF/HTML parity, xref-layout and hot-host cycles
N_FILES = 8
ROWS_PER_GROUP = 256  # ~300 KB row groups, so 1 MiB scan splits stay balanced


@dataclass
class Corpus:
    path: str  # directory of parquet files, the program's only input
    files: list[str]  # the parquet files, in id order
    expected: dict[str, str]  # url -> byte-exact expected text
    n_docs: int
    payload_bytes: int


def make_docs(seed: int, n_docs: int) -> list[tuple[int, str, str]]:
    """(doc_id, text, lang) for *n_docs* documents drawn from *seed*."""
    rng = random.Random(seed)
    start = rng.randrange(1, 10**9) * ID_STRIDE
    texts = [" ".join(rng.choices(VOCAB, k=rng.randint(*WORDS_PER_DOC))) for _ in range(n_docs)]
    for i in range(n_docs):
        if rng.random() < DUP_SHARE:
            texts[i] = texts[rng.randrange(n_docs)] + " dup"
    langs = rng.choices(LANGS, weights=LANG_WEIGHTS, k=n_docs)
    return list(zip(range(start, start + n_docs), texts, langs))


def url_for(doc_id: int) -> str:
    return f"https://{host_for(doc_id)}/doc/{doc_id}"


def build_corpus(seed: int, n_docs: int, out_dir: str) -> Corpus:
    """Write the seeded corpus as parquet under *out_dir*."""
    os.makedirs(out_dir, exist_ok=True)
    docs = make_docs(seed, n_docs)
    ids = [d[0] for d in docs]
    urls = [url_for(i) for i in ids]
    payloads = [payload_for(i, text, lang) for i, text, lang in docs]
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "url": pa.array(urls, pa.string()),
            "host": pa.array([host_for(i) for i in ids], pa.string()),
            "html": pa.array(payloads, pa.binary()),
        }
    )
    per_file = -(-n_docs // N_FILES)
    files = []
    for f in range(N_FILES):
        part = table.slice(f * per_file, per_file)
        if part.num_rows:
            files.append(os.path.join(out_dir, f"part-{f:05d}.parquet"))
            pq.write_table(part, files[-1], row_group_size=ROWS_PER_GROUP)
    return Corpus(
        path=out_dir,
        files=files,
        expected={u: expected_extracted(i, text) for u, (i, text, _) in zip(urls, docs)},
        n_docs=n_docs,
        payload_bytes=sum(len(p) for p in payloads),
    )
