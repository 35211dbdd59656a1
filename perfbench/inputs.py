"""Seeded benchmark inputs and their expected outputs.

Pages come from the package's own generator (``sources.pages``), so the
same seed gives byte-identical html. The expected body text of each page
comes from the pure-Python reference (``oracle.pyref``: build_lines ->
drop_blank_lines -> extract_body_text), computed in worker processes
outside every timed window.

The curation input is a fixed 5,000-doc table shaped like the sf0.1
``documents`` test table (TESTDATA.md; 30-word vocabulary, 10-100 words
per doc, 5% near-duplicates carrying a trailing ' dup', 0.2% exact
copies). It is generated from a constant, not from the run's seed: the
seed only picks one of ``CURATE_VARIANTS`` eval slices and mix salts, so
that every variant's output digest can be pinned in ``curate_pins.json``.
"""

from __future__ import annotations

import hashlib
import os
import json
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CURATE_DOCS = 5000
CURATE_VARIANTS = 8
_DOCS_SEED = 20251016
_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def write_pages(path: str, ids: range, seed: int, files: int) -> None:
    """The rows ``sources.pages.synth_pages`` generates for these ids and
    seed, written as ``files`` parquet files (one input split each). Built
    in this process: a Spark job would spend set-up time starting Python
    workers."""
    from pdf_plumber_util_spark.sources.pages import build_doc

    os.makedirs(path)
    docs = [build_doc(i, seed) for i in ids]
    for k in range(files):
        part = docs[k * len(docs) // files:(k + 1) * len(docs) // files]
        pq.write_table(pa.table({
            "url": [d["url"] for d in part],
            "warc_ts": pa.array([d["warc_ts"] for d in part],
                                pa.timestamp("us", tz="UTC")),
            "html": pa.array([d["html"] for d in part], pa.binary()),
            "text": [d["text"] for d in part],
            "lang": [d["lang"] for d in part],
        }), os.path.join(path, f"part-{k:05d}.parquet"))


def _oracle_bodies(ids: list[int], seed: int) -> dict[str, str]:
    from pdf_plumber_util_spark.oracle import pyref
    from pdf_plumber_util_spark.sources.pages import build_doc
    from pdf_plumber_util_spark.sources.render import layout_html

    out = {}
    for i in ids:
        doc = build_doc(i, seed)
        by_page: dict[int, list] = {}
        for w in layout_html(doc["html"].decode("utf-8", "replace")):
            by_page.setdefault(w["page"], []).append(w)
        pages = [pyref.build_lines(ws, p, 612.0, 792.0)
                 for p, ws in sorted(by_page.items())]
        out[doc["url"]] = pyref.extract_body_text(pages)
    return out


def expected_bodies(ids: range, seed: int, workers: int) -> dict[str, str]:
    """url -> reference body text of the pages ``ids`` of ``seed``,
    computed by ``workers`` child processes, each waited for."""
    ids = list(ids)
    procs = [subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), str(seed),
         ",".join(map(str, ids[k::workers]))], stdout=subprocess.PIPE)
        for k in range(workers) if ids[k::workers]]
    out: dict[str, str] = {}
    for p in procs:
        stdout, _ = p.communicate()
        if p.returncode:
            raise RuntimeError(f"oracle process exited with {p.returncode}")
        out.update(json.loads(stdout))
    return out


def documents_table() -> pa.Table:
    rng = np.random.default_rng(_DOCS_SEED)
    texts: list[str] = []
    for i in range(CURATE_DOCS):
        r = rng.random()
        if i and r < 0.05:
            texts.append(texts[int(rng.integers(i))] + " dup")
        elif i and r < 0.052:
            texts.append(texts[int(rng.integers(i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[k] for k in rng.integers(0, len(_VOCAB), n)))
    langs = [_LANGS[k] for k in rng.choice(len(_LANGS), CURATE_DOCS, p=_LANG_P)]
    return pa.table({
        "doc_id": pa.array(range(CURATE_DOCS), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(CURATE_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(path: str, warm_path: str, warm_docs: int) -> str:
    """Write the curation table, and its first ``warm_docs`` rows as the
    warm-up table; returns the table's content digest."""
    table = documents_table()
    pq.write_table(table, path)
    pq.write_table(table.slice(0, warm_docs), warm_path)
    h = hashlib.sha256()
    for i, t, lang in zip(table["doc_id"].to_pylist(), table["text"].to_pylist(),
                          table["lang"].to_pylist()):
        h.update(f"{i}\t{lang}\t{t}\n".encode())
    return h.hexdigest()


PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "curate_pins.json")


def read_pins() -> dict:
    with open(PINS) as fh:
        return json.load(fh)


def curate_digest(doc_ids, keeps, texts) -> str:
    """sha256 over the (doc_id, keep, text) rows in doc_id order."""
    h = hashlib.sha256()
    null = "\\N"
    for i, k, t in sorted(zip(doc_ids, keeps, texts), key=lambda r: r[0]):
        keep = null if k is None else int(bool(k))
        h.update(f"{int(i)}\t{keep}\t{null if t is None else t}\n".encode())
    return h.hexdigest()


if __name__ == "__main__":
    # oracle worker: <seed> <comma-separated page ids> -> JSON on stdout
    json.dump(_oracle_bodies([int(x) for x in sys.argv[2].split(",")],
                             int(sys.argv[1])), sys.stdout)
