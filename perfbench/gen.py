"""Seeded inputs: a pages corpus, block-row deltas and a banded query mix.

Everything here is a pure function of ``--seed`` and the sizes a workload
asks for, so one seed always yields the same tables and the same queries.

- Words are drawn Zipf-like from a printable-ASCII vocabulary of about
  30k words. The program's own quirk words (``studiocr_spark.gen.VOCAB``:
  substring pairs, case variants, punctuation) sit at seeded ranks inside
  the head and torso, so the substring and case semantics stay exercised.
- Pages are rendered with the program's own ``render_page`` and
  ``pack_mpdf``; the multi-page and hot-host shares are the program's own
  (``MPDF_FRACTION``, ``HOT_HOST_FRACTION``).
- About 1% of payloads are broken on purpose: truncated to half their
  length or given a wrong magic. Each must become one quarantine row.
- Queries are drawn per seed by selectivity band: head, torso, tail,
  absent and substring (``cat`` inside ``concatenate``).

Rendering is the slow part (~14 ms per doc), so :func:`render_payloads`
fans it out over a small ``spawn`` pool before any Spark session exists.
"""

from __future__ import annotations

import hashlib
import multiprocessing as mp
from collections import Counter
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np

VOCAB_SIZE = 30_000
ZIPF_S = 1.05
BAD_FRACTION = 0.01
BANDS = ("head", "torso", "tail", "absent", "substring")
QUERY_KINDS = ("scan", "indexed", "indoc", "bm25")
# '#' never occurs in the vocabulary, so a word containing it matches
# no term, not even as a substring
ABSENT_MARK = "#"
_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
_CONSONANTS = "bcdfghjklmnprstvwxz"
_VOWELS = "aeiouy"
_SUFFIXES = [",", ".", ";", ":", ")", "'s", "-x", "%"]


def _program_constants() -> tuple[list[str], float, float, int]:
    from studiocr_spark.gen import (
        HOT_HOST_FRACTION,
        MPDF_FRACTION,
        N_COLD_HOSTS,
        VOCAB,
    )

    return list(VOCAB), HOT_HOST_FRACTION, MPDF_FRACTION, N_COLD_HOSTS


@dataclass(frozen=True)
class Doc:
    doc_id: int
    url: str
    text: str
    n_pages: int  # 1 = single PNG; >1 = MPDF container
    bad: str | None  # None, "truncated" or "wrong_magic"
    lang: str

    def page_texts(self) -> list[str]:
        """Split exactly like ``studiocr_spark.gen.make_doc``: page texts
        joined by one space give back ``text``."""
        if self.n_pages == 1:
            return [self.text]
        words = self.text.split(" ")
        per = max(1, len(words) // self.n_pages)
        return [" ".join(words[i : i + per]) for i in range(0, len(words), per)]


@dataclass(frozen=True)
class Query:
    kind: str  # one of QUERY_KINDS
    band: str  # one of BANDS
    text: str
    url: str | None = None  # the document an in-doc query searches


def make_vocab(seed: int) -> list[str]:
    """Zipf-ranked vocabulary: index 0 is the most frequent word."""
    quirk, *_ = _program_constants()
    rng = np.random.default_rng([seed, 0x766F63])
    syllables = [c + v for c in _CONSONANTS for v in _VOWELS]
    words: list[str] = []
    seen = set(quirk)
    while len(words) < VOCAB_SIZE - len(quirk):
        n = VOCAB_SIZE + VOCAB_SIZE // 4  # candidates; duplicates dropped
        n_syl = rng.integers(1, 5, size=n)
        syl = rng.integers(len(syllables), size=(n, 4))
        kind = rng.random(n)
        extra = rng.integers(100, size=n)
        for i in range(n):
            w = "".join(syllables[s] for s in syl[i, : n_syl[i]])
            if kind[i] < 0.05:
                w = w.capitalize()
            elif kind[i] < 0.08:
                w += _SUFFIXES[extra[i] % len(_SUFFIXES)]
            elif kind[i] < 0.10:
                w += str(extra[i])
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == VOCAB_SIZE - len(quirk):
                    break
    # quirk words at seeded ranks inside the first 3000 (head and torso)
    ranks = sorted(rng.choice(3000, size=len(quirk), replace=False).tolist())
    for rank, w in zip(ranks, quirk):
        words.insert(rank, w)
    return words


def _zipf_cdf(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** ZIPF_S
    cdf = np.cumsum(p)
    return cdf / cdf[-1]


def plan_corpus(
    seed: int,
    n_docs: int,
    vocab: list[str],
    first_id: int = 0,
    min_words: int = 200,
    max_words: int = 400,
) -> list[Doc]:
    """Document specs for ids ``first_id .. first_id + n_docs - 1``.

    Exactly ``round(BAD_FRACTION * n_docs)`` (at least one) docs carry a
    broken payload, chosen by the seed.
    """
    _, hot_fraction, mpdf_fraction, n_cold = _program_constants()
    cdf = _zipf_cdf(len(vocab))
    vocab_arr = np.array(vocab, dtype=object)
    pick = np.random.default_rng([seed, first_id, n_docs, 0x626164])
    n_bad = max(1, round(BAD_FRACTION * n_docs))
    bad_ids = {
        first_id + int(i): ("truncated", "wrong_magic")[k % 2]
        for k, i in enumerate(pick.choice(n_docs, size=n_bad, replace=False))
    }
    docs = []
    for doc_id in range(first_id, first_id + n_docs):
        rng = np.random.default_rng([seed, doc_id])
        n_words = int(rng.integers(min_words, max_words + 1))
        idx = np.searchsorted(cdf, rng.random(n_words))
        text = " ".join(vocab_arr[np.minimum(idx, len(vocab) - 1)])
        hot = rng.random() < hot_fraction
        host = 0 if hot else 1 + int(rng.integers(n_cold))
        n_pages = int(rng.integers(2, 5)) if rng.random() < mpdf_fraction else 1
        lang = ("en", "es", "de", "zh")[
            int(np.searchsorted([0.8, 0.88, 0.96, 1.0], rng.random()))
        ]
        docs.append(
            Doc(
                doc_id=doc_id,
                url=f"https://host{host}.example/s{seed}/p{doc_id}",
                text=text,
                n_pages=n_pages,
                bad=bad_ids.get(doc_id),
                lang=lang,
            )
        )
    return docs


def render_payload(doc: Doc) -> bytes:
    """The ``html`` payload for one doc, broken if the doc says so."""
    from studiocr_spark.functions.glyphs import render_page
    from studiocr_spark.sources.decode import pack_mpdf

    pages = [render_page(t) for t in doc.page_texts()]
    html = pages[0] if doc.n_pages == 1 else pack_mpdf(pages)
    if doc.bad == "truncated":
        return html[: len(html) // 2]
    if doc.bad == "wrong_magic":
        return b"GIF8" + html[4:]
    return html


def render_payloads(docs: list[Doc], processes: int) -> list[bytes]:
    """Render every payload on a ``spawn`` pool; the pool is joined
    before returning."""
    if processes <= 1 or len(docs) < 64:
        return [render_payload(d) for d in docs]
    import gc
    from multiprocessing import resource_tracker

    pool = mp.get_context("spawn").Pool(processes)
    try:
        out = pool.map(render_payload, docs, chunksize=16)
        pool.close()
    finally:
        pool.terminate()
        pool.join()
    # spawn also started the resource-tracker helper process, which would
    # outlive the run until the interpreter exits: release the pool's
    # semaphores first, then stop it
    del pool
    gc.collect()
    resource_tracker._resource_tracker._stop()
    return out


def write_pages(docs: list[Doc], payloads: list[bytes], path: str) -> None:
    """The pages table the program reads (``PAGES_SCHEMA`` columns)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "url": pa.array([d.url for d in docs], pa.string()),
            "warc_ts": pa.array(
                [_EPOCH + timedelta(seconds=d.doc_id) for d in docs],
                pa.timestamp("us", tz="UTC"),
            ),
            "html": pa.array(payloads, pa.binary()),
            "text": pa.array([d.text for d in docs], pa.string()),
            "lang": pa.array([d.lang for d in docs], pa.string()),
        }
    )
    pq.write_table(table, path)


def block_rows(doc: Doc) -> dict[str, list]:
    """``ocr_blocks`` rows the bitmap backend yields for a good doc,
    built from the text alone (no image is rendered or decoded)."""
    from studiocr_spark.functions.glyphs import page_image_to_data

    cols: dict[str, list] = {
        k: [] for k in ("url", "page_no", "block_no", "left", "top",
                        "width", "height", "conf", "text")
    }
    for page_no, t in enumerate(doc.page_texts()):
        data = page_image_to_data(None, t)
        for block_no, text in enumerate(data["text"]):
            cols["url"].append(doc.url)
            cols["page_no"].append(page_no)
            cols["block_no"].append(block_no)
            for k in ("left", "top", "width", "height", "conf"):
                cols[k].append(data[k][block_no])
            cols["text"].append(text)
    return cols


def write_blocks(docs: list[Doc], path: str) -> None:
    """An ``ocr_blocks`` table (``OCR_BLOCKS_SCHEMA`` columns) for docs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols: dict[str, list] = {}
    for d in docs:
        for k, v in block_rows(d).items():
            cols.setdefault(k, []).extend(v)
    int_cols = ("page_no", "block_no", "left", "top", "width", "height", "conf")
    table = pa.table(
        {
            k: pa.array(v, pa.int32() if k in int_cols else pa.string())
            for k, v in cols.items()
        }
    )
    pq.write_table(table, path)


def expected_raw_blocks(doc: Doc) -> int:
    """Raw rows the decoder emits: one page row, one row per text line,
    one per word — per page."""
    from studiocr_spark.functions.glyphs import LINE_CHARS

    return sum(
        1 + (max(len(t), 1) + LINE_CHARS - 1) // LINE_CHARS + len(t.split())
        for t in doc.page_texts()
    )


def content_hash(pairs) -> int:
    """Order-independent hash of (url, text) pairs: the sum of their
    md5 digests modulo 2**128."""
    total = 0
    for url, text in pairs:
        h = hashlib.md5(url.encode() + b"\0" + text.encode()).digest()
        total = (total + int.from_bytes(h, "big")) % (1 << 128)
    return total


def term_doc_freq(docs: list[Doc]) -> Counter:
    """Lowercased-token document frequency over the good docs."""
    df: Counter = Counter()
    for d in docs:
        if d.bad is None:
            df.update(set(d.text.lower().split()))
    return df


def band_terms(docs: list[Doc], seed: int) -> dict[str, list[str]]:
    """Candidate query words per selectivity band, sorted for determinism."""
    n = sum(1 for d in docs if d.bad is None)
    df = term_doc_freq(docs)
    ranked = sorted(df, key=lambda t: (-df[t], t))
    head = ranked[:25]
    torso = sorted(t for t in ranked if 0.01 * n <= df[t] <= 0.10 * n)
    tail = sorted(t for t in ranked if df[t] <= 2)
    rng = np.random.default_rng([seed, 0x616273])
    absent = [
        "".join(_CONSONANTS[int(rng.integers(len(_CONSONANTS)))] for _ in range(3))
        + ABSENT_MARK
        + str(i)
        for i in range(40)
    ]
    # substring queries: the program's own 'cat' and 3-char slices of
    # torso words, which match every longer term containing them
    substring = ["cat"] + sorted(
        {t[1:4] for t in torso if len(t) >= 5 and t[1:4].isalpha()}
    )
    return {
        "head": head,
        "torso": torso or head,
        "tail": tail or torso or head,
        "absent": absent,
        "substring": substring,
    }


def make_queries(
    docs: list[Doc], seed: int, n_per_kind: int
) -> list[Query]:
    """A seeded closed-loop mix: ``n_per_kind`` queries of each kind.

    Kinds repeat in a fixed cycle (J3 scan, J3 indexed on the same text,
    in-doc, BM25) and bands rotate, so any four consecutive queries hold
    one of each kind and every run has the same kind and band shares; the
    seed picks the words. The J3 pair lets the scan and indexed paths be
    checked against each other.
    """
    bands = band_terms(docs, seed)
    good = [d for d in docs if d.bad is None]
    rng = np.random.default_rng([seed, 0x717279])

    def words(band: str, k: int, pool: list[str] | None = None) -> str:
        cands = pool if pool else bands[band]
        return " ".join(cands[int(rng.integers(len(cands)))] for _ in range(k))

    units: list[list[Query]] = []
    for i in range(n_per_kind):
        band = BANDS[i % len(BANDS)]
        text = words(band, 1 + int(rng.integers(2)))
        units.append([Query("scan", band, text), Query("indexed", band, text)])
    for i in range(n_per_kind):
        band = BANDS[(i + 1) % len(BANDS)]
        doc = good[int(rng.integers(len(good)))]
        own = None
        if band in ("head", "torso", "tail"):
            # in-doc words come from the doc itself so most queries hit
            doc_terms = set(doc.text.lower().split())
            own = sorted(doc_terms & set(bands[band])) or sorted(doc_terms)
        units.append([Query("indoc", band, words(band, 1 + int(rng.integers(2)), own), doc.url)])
    for i in range(n_per_kind):
        band = BANDS[(i + 2) % len(BANDS)]
        units.append([Query("bm25", band, words(band, 1 + int(rng.integers(3))))])
    j3, indoc, bm25 = (units[i * n_per_kind:(i + 1) * n_per_kind] for i in range(3))
    return [q for i in range(n_per_kind) for u in (j3[i], indoc[i], bm25[i]) for q in u]


def probe_word(doc: Doc) -> str:
    """A word of ``doc``: once its segment is published, the indexed
    J3 path must return the doc's url for it (the freshness probe)."""
    return doc.text.lower().split()[-1]
