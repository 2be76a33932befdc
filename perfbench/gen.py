"""Seeded input generators for the benchmark workloads.

Everything the job reads is made here from ``numpy.random.default_rng``
seeded with ``--seed``; the same seed gives byte-identical files. Word
choice and the per-document size shape come from ``vocab.json`` (word
frequencies and the ``n_chars`` quantiles of the sf0.1 ``documents``
table). The PDF and HTML bytes are built here too, not by
``sources/pdfize`` or ``sources/htmlize``, so a change to those modules
cannot change the workload; ``table_digest`` pins the bytes per seed.

Each generator also returns, per doc_id, the spans the extract stage
must see: the reference input of ``model.extract_spans_doc`` that the
correctness check compares the committed output against.
"""

from __future__ import annotations

import hashlib
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS_PER_SPAN = 8  # the spanize chunk width (sources/spanize.py spec)


def _vocab() -> dict:
    with open(os.path.join(os.path.dirname(__file__), "vocab.json")) as f:
        return json.load(f)


class Corpus:
    """Word and size sampler with the sf0.1 shape."""

    def __init__(self, rng: np.random.Generator):
        v = _vocab()
        self.rng = rng
        self.words = np.array(v["words"], dtype=object)
        counts = np.array(v["counts"], dtype=float)
        self.p = counts / counts.sum()
        self.quantiles = np.array(v["n_chars_quantiles"])
        mean_word = float((self.p * np.array([len(w) for w in v["words"]])).sum())
        self.chars_per_word = mean_word + 1.0

    def sizes(self, n: int) -> np.ndarray:
        """Target character counts drawn from the sf0.1 n_chars shape."""
        u = self.rng.random(n)
        return np.interp(u, np.linspace(0, 1, len(self.quantiles)), self.quantiles)

    def texts(self, n_chars: np.ndarray) -> list[str]:
        """Single-space-joined word runs of about ``n_chars`` characters."""
        n_words = np.maximum(1, np.rint(n_chars / self.chars_per_word)).astype(int)
        flat = self.words[self.rng.choice(len(self.words), int(n_words.sum()), p=self.p)]
        ends = np.cumsum(n_words)
        return [" ".join(flat[e - k:e]) for e, k in zip(ends, n_words)]


def _doc_ids(n: int, prefix: str) -> list[str]:
    """The same ids for every seed: the job's shuffles place each doc by
    the hash of its id, so fixed ids keep the task layout the same."""
    return [f"{prefix}-{i:07d}" for i in range(n)]


def spans_of_text(doc_id: str, text: str) -> list[dict]:
    """Python statement of the spanize spec (sources/spanize.py): 8-word
    chunks, char offsets, kind from ``md5(doc_id:i)``."""
    words = text.split(" ")
    spans, offset = [], 0
    for i in range(0, max(1, -(-len(words) // WORDS_PER_SPAN))):
        chunk = " ".join(words[i * WORDS_PER_SPAN:(i + 1) * WORDS_PER_SPAN])
        h = hashlib.md5(f"{doc_id}:{i}".encode()).hexdigest()
        kind = _spanize_kind(h)
        media = kind == "figure"
        spans.append({"kind": kind, "text": None if media else chunk,
                      "media_ref": "media://" + h if media else None,
                      "offset": offset})
        offset += len(chunk) + 1
    return spans


def _spanize_kind(h: str) -> str:
    c1, c2 = h[0], h[1]
    if c1 == "a":
        return "title"
    if c1 == "b":
        return "sectionHeading"
    if c1 == "c":
        return "pageHeader" if c2 < "8" else "pageNumber"
    if c1 == "d":
        return "pageFooter" if c2 < "8" else "footnote"
    if c1 == "e":
        return "TableCell"
    if c1 == "f":
        return "figure"
    return "Text"


def skewed_text_docs(seed: int, n: int, tail_kb: tuple[int, ...]
                     ) -> tuple[pa.Table, dict, set]:
    """Flat (doc_id, text) rows with a heavy tail: most docs have the sf0.1
    shape (about 300 chars); one doc per entry of ``tail_kb`` has that
    many KB. The tail sizes and their doc_ids are fixed, not drawn, so the
    O(size²) spanize work, and the tasks it lands on, are the same for
    every seed; the seed draws the words.
    Returns the table, the expected spans and the heavy ids."""
    rng = np.random.default_rng([seed, 2])
    corpus = Corpus(rng)
    ids = _doc_ids(n, "t")
    sizes = corpus.sizes(n)
    tail = np.linspace(0, n - 1, len(tail_kb)).astype(int)
    sizes[tail] = np.array(tail_kb, dtype=float) * 1000
    texts = corpus.texts(sizes)
    expected = {d: spans_of_text(d, t) for d, t in zip(ids, texts)}
    table = pa.table({"doc_id": pa.array(ids), "text": pa.array(texts)})
    return table, expected, {ids[i] for i in tail}


# ---------------------------------------------------------------------------
# raw_parse: PDF (FlateDecode content stream + image XObjects) and HTML bytes
# ---------------------------------------------------------------------------

# kind → (font size, baseline y); functions/pdf.py classifies by y band
# first (y ≥ 756 header, y ≤ 36 footer), then by font size
_PDF_TEXT_OPS = {
    "title": ("18", "700"),
    "sectionHeading": ("14", "660"),
    "pageHeader": ("9", "780"),
    "pageFooter": ("9", "20"),
    "Text": ("12", "400"),
}
_HTML_TAGS = {
    "title": "<h1>{}</h1>",
    "sectionHeading": "<h2>{}</h2>",
    "pageHeader": "<nav>{}</nav>",
    "pageFooter": "<footer>{}</footer>",
    "Text": "<p>{}</p>",
    "TableCell": "<table><tr><td>{}</td></tr></table>",
}
_RAW_KINDS = ["Text", "title", "sectionHeading", "pageHeader", "pageFooter",
              "figure", "TableCell"]
_RAW_KIND_P = np.array([22, 2, 2, 1, 1, 2, 2], dtype=float) / 32
_FAKE_JPEG = b"\xff\xd8\xff\xe0\x00\x10JFIF\x00" + b"\x00" * 32 + b"\xff\xd9"


def _pdf_bytes(chunks: list[str], kinds: list[str], names: list[str],
               undecodable: bool) -> bytes:
    ops = []
    for chunk, kind, name in zip(chunks, kinds, names):
        if kind == "figure":
            ops.append(f"/{name} Do\n")
        else:
            size, y = _PDF_TEXT_OPS[kind]
            ops.append(f"BT /F1 {size} Tf 72 {y} Td ({chunk}) Tj ET\n")
    content = zlib.compress("".join(ops).encode("latin-1"))
    # an image codec on a *content* stream cannot be decoded in-cluster:
    # the parser raises NotImplementedError and the doc quarantines
    filt = "/JBIG2Decode" if undecodable else "/FlateDecode"
    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n",
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >> endobj\n",
        f"4 0 obj << /Length {len(content)} /Filter {filt} >> stream\n".encode()
        + content + b"\nendstream endobj\n",
    ]
    for i, name in enumerate(n for n, k in zip(names, kinds) if k == "figure"):
        objs.append(
            f"{5 + i} 0 obj << /Type /XObject /Subtype /Image /Name /{name} "
            f"/Width 1 /Height 1 /Filter /DCTDecode /Length {len(_FAKE_JPEG)} "
            f">> stream\n".encode() + _FAKE_JPEG + b"\nendstream endobj\n"
        )
    return b"%PDF-1.4\n" + b"".join(objs) + b"%%EOF\n"


def _html_bytes(chunks: list[str], kinds: list[str], names: list[str]) -> bytes:
    body = []
    for chunk, kind, name in zip(chunks, kinds, names):
        if kind == "figure":
            body.append(f'<img src="media://{name}">')
        else:
            body.append(_HTML_TAGS[kind].format(chunk))
    return ("<html><head><title>doc</title><style>p{margin:0}</style></head>"
            "<body>" + "\n".join(body) + "</body></html>").encode()


def raw_docs(seed: int, n: int, pdf_share: float, undecodable_share: float
             ) -> tuple[pa.Table, dict, set]:
    """(doc_id, content_type, content) rows: PDFs and HTML pages of the
    sf0.1 size shape. ``undecodable_share`` of the PDFs carry a content
    stream the parser cannot decode; they must quarantine. Returns the
    table, the expected parsed spans of every decodable doc, and the ids
    that must quarantine."""
    rng = np.random.default_rng([seed, 3])
    corpus = Corpus(rng)
    ids = _doc_ids(n, "r")
    texts = corpus.texts(corpus.sizes(n))
    is_pdf = rng.random(n) < pdf_share
    broken = is_pdf & (rng.random(n) < undecodable_share)
    if not broken.any():
        broken[np.flatnonzero(is_pdf)[0]] = True
    ctypes, contents, expected, quarantined = [], [], {}, set()
    for j, (doc_id, text) in enumerate(zip(ids, texts)):
        words = text.split(" ")
        chunks = [" ".join(words[i:i + WORDS_PER_SPAN])
                  for i in range(0, len(words), WORDS_PER_SPAN)]
        kinds = [_RAW_KINDS[k] for k in rng.choice(len(_RAW_KINDS), len(chunks),
                                                   p=_RAW_KIND_P)]
        if is_pdf[j]:
            # TableCell has no PDF text-op form; the parser reads it as Text
            kinds = ["Text" if k == "TableCell" else k for k in kinds]
        names = [f"Im{doc_id.replace('-', '')}x{i}" for i in range(len(chunks))]
        if is_pdf[j]:
            ctypes.append("application/pdf")
            contents.append(_pdf_bytes(chunks, kinds, names, bool(broken[j])))
            refs = ["media://" + name[2:] for name in names]
        else:
            ctypes.append("text/html")
            contents.append(_html_bytes(chunks, kinds, names))
            refs = ["media://" + name for name in names]
        if broken[j]:
            quarantined.add(doc_id)
            continue
        expected[doc_id] = [
            {"kind": k, "text": None if k == "figure" else c,
             "media_ref": r if k == "figure" else None, "offset": i}
            for i, (c, k, r) in enumerate(zip(chunks, kinds, refs))
        ]
    table = pa.table({
        "doc_id": pa.array(ids),
        "content_type": pa.array(ctypes),
        "content": pa.array(contents, type=pa.binary()),
    })
    return table, expected, quarantined


def write_parquet(table: pa.Table, path: str, files: int) -> int:
    """Write ``table`` as ``files`` parquet files under ``path`` (one scan
    split each) and return the bytes written."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    total = 0
    for i in range(files):
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(i * step, step), f)
        total += os.path.getsize(f)
    return total


def table_digest(table: pa.Table) -> str:
    """sha256 over the generated rows: pins the workload's exact bytes."""
    h = hashlib.sha256()
    for batch in table.to_batches():
        for col in batch.columns:
            for buf in col.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()[:16]
