"""Seeded inputs for the benchmark: a PDF corpus, query streams and
write slices, together with the oracles that check the engine's answers.

Every document is generated as a list of pages, each page a list of
lowercase ASCII lines shown with the ``'`` operator inside one
``BT``/``ET`` block of a FlateDecode content stream. The engine's
fallback extractor (used when pypdf is not installed) concatenates the shown strings
of a block with no separator, strips the block, and joins blocks with a
newline, so the generator knows each document's extracted text without
running the engine: see :func:`expected_text`.
"""

from __future__ import annotations

import os
import random
import zlib
from dataclasses import dataclass
from itertools import accumulate

CHUNK_SIZE = 1000  # the engine's window (reference main.py:118)
STRIDE = 800  # window minus the 200-character overlap
LINE_CHARS = 90
LINES_PER_PAGE = 48
TOP_KS = (1, 5, 10, 20)
EXACT_EVERY = 20  # 1 query in 20 is the exact text of a stored chunk
EMPTY_EVERY = 50  # 1 query in 50 is empty


@dataclass(frozen=True)
class Doc:
    source: str  # file name without ".pdf"; the engine's partition value
    pages: tuple[tuple[str, ...], ...]

    @property
    def text(self) -> str:
        return expected_text(self.pages)


@dataclass(frozen=True)
class Query:
    text: str
    top_k: int
    kind: str  # "words", "exact" or "empty"
    expect_id: str | None = None  # for "exact": the chunk id ranked first


def vocabulary(rng: random.Random, n: int = 3000) -> list[str]:
    """Pseudo-words of 2-10 lowercase letters. Lowercase only: the
    extractor's ``BT(.*?)ET`` scan would cut a block at an upper-case
    ``ET`` inside the text."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(2, 10))))
    return sorted(words)


def _zipf_weights(n: int) -> list[float]:
    return [1.0 / (i + 1) for i in range(n)]


def expected_text(pages) -> str:
    """The fallback extractor's output for a generated document."""
    return "\n".join("".join(lines).strip() for lines in pages)


def chunk_count(text: str) -> int:
    """Chunks the engine's 1000/200 window cuts from ``text``."""
    return (len(text) - 1) // STRIDE + 1 if text else 0


def chunk_text(text: str, pos: int) -> str:
    """The ``pos``-th chunk of ``text`` under the 1000/200 window."""
    return text[pos * STRIDE : pos * STRIDE + CHUNK_SIZE]


class Generator:
    """All inputs of one run, derived from ``seed`` alone."""

    def __init__(self, seed: int, n_docs: int, min_chars: int, max_chars: int):
        self.seed = seed
        # one vocabulary for every seed, so text statistics (and with
        # them the stored bytes per text byte) do not vary with the seed
        self.words = vocabulary(random.Random("vocab"))
        self.cum_weights = list(accumulate(_zipf_weights(len(self.words))))
        self.min_chars, self.max_chars = min_chars, max_chars
        self.corpus = self._docs("doc_", f"doc/{seed}", n_docs)

    def _line(self, rng: random.Random) -> str:
        out: list[str] = []
        n = 0
        while n < LINE_CHARS:
            w = rng.choices(self.words, cum_weights=self.cum_weights)[0]
            out.append(w)
            n += len(w) + 1
        return " ".join(out) + " "

    def _docs(self, prefix: str, key: str, n: int) -> list[Doc]:
        """``n`` documents whose lengths are spread evenly over
        [min_chars, max_chars] in a seeded order: every set of ``n`` holds
        the same amount of text, so the work per ingest does not vary
        with the seed."""
        step = (self.max_chars - self.min_chars) / max(1, n - 1)
        targets = [round(self.min_chars + i * step) for i in range(n)]
        random.Random(key).shuffle(targets)
        return [self._doc(f"{prefix}{i:05d}", t, random.Random(f"{key}/{i}"))
                for i, t in enumerate(targets)]

    def _doc(self, source: str, target: int, rng: random.Random) -> Doc:
        lines: list[str] = []
        n = 0
        while n < target:
            lines.append(self._line(rng))
            n += len(lines[-1])
        pages = tuple(
            tuple(lines[i : i + LINES_PER_PAGE])
            for i in range(0, len(lines), LINES_PER_PAGE)
        )
        return Doc(source, pages)

    def slice(self, k: int, n_docs: int) -> list[Doc]:
        """The ``k``-th write slice: ``n_docs`` documents under names no
        other slice or the corpus uses, so an ingest adds partitions and
        deletes none."""
        return self._docs(f"w{k:04d}_", f"slice/{self.seed}/{k}", n_docs)

    def queries(self, stream: int):
        """Endless query stream number ``stream`` (one per client)."""
        rng = random.Random(f"queries/{self.seed}/{stream}")
        i = 0
        while True:
            i += 1
            top_k = rng.choice(TOP_KS)
            if i % EMPTY_EVERY == 0:
                yield Query(rng.choice(["", " ", "   "]), top_k, "empty")
            elif i % EXACT_EVERY == 0:
                doc = rng.choice(self.corpus)
                text = doc.text
                pos = rng.randrange(chunk_count(text))
                if len(chunk_text(text, pos)) < 100:
                    pos -= 1  # a few-letter tail could equal another chunk
                yield Query(chunk_text(text, pos), top_k, "exact", f"{doc.source}_{pos}")
            else:
                n = rng.randint(1, 40)
                yield Query(" ".join(rng.choices(self.words, cum_weights=self.cum_weights, k=n)), top_k, "words")


def pdf_bytes(doc: Doc) -> bytes:
    """A minimal valid PDF: one page object and one FlateDecode content
    stream per page, Helvetica, a correct xref table."""
    n_pages = len(doc.pages)
    # objects: 1 catalog, 2 pages, 3 font, then (page, content) pairs
    objs: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids ["
        + b" ".join(f"{4 + 2 * i} 0 R".encode() for i in range(n_pages))
        + f"] /Count {n_pages} >>".encode(),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    for i, lines in enumerate(doc.pages):
        body = b"BT\n/F1 10 Tf\n12 TL\n50 780 Td\n" + b"".join(
            b"(" + ln.encode("ascii") + b") '\n" for ln in lines
        ) + b"ET\n"
        packed = zlib.compress(body, 6)
        # the extractor strips CR/LF off the end of the stream payload,
        # so the compressed bytes must not end in one: pad the content
        # after ET (no text change) until they don't
        while packed.endswith((b"\r", b"\n")):
            body += b" "
            packed = zlib.compress(body, 6)
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> >> /Contents {5 + 2 * i} 0 R >>".encode()
        )
        objs.append(
            f"<< /Length {len(packed)} /Filter /FlateDecode >>\nstream\n".encode()
            + packed + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref}\n%%EOF\n").encode()
    return bytes(out)


def write_pdfs(docs: list[Doc], directory: str) -> None:
    """Write ``docs`` as ``<source>.pdf`` files."""
    os.makedirs(directory, exist_ok=True)
    for doc in docs:
        with open(os.path.join(directory, doc.source + ".pdf"), "wb") as f:
            f.write(pdf_bytes(doc))
