"""Declared StructTypes for every table the engine reads or writes.

Schemas are fixed and explicit — never inferred on the hot path. The data
model maps the reference's three SQLite tables + pickled per-page aggregate
(/root/reference/StudiOCR/db.py:22-61, OcrPageData.py:38-62) onto columnar
tables keyed by natural keys:

- SQLite autoincrement ids (db.py:23,44,53) are nondeterministic under
  parallel insert; we key by ``url`` (document), ``(url, page_no)`` (page)
  and ``(url, page_no, block_no)`` (block), where ``block_no`` is the
  original tesseract parallel-array index (stable; survives the whitespace
  filter with gaps — intentional, it preserves provenance).
- The pickled ``OcrPageData`` blob (OcrEngine.py:129) becomes the typed
  ``PAGE_STATS`` struct — queryable, prunable, no Python deserialization.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input corpus (authoritative shape: BASELINE.json input_hint)
# ---------------------------------------------------------------------------
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# ocr_blocks — one row per tesseract word/structural row that survives the
# whitespace filter (reference OcrBlock, db.py:52-61). ``conf`` is int
# (-1 for structural rows — kept, see SURVEY §1.1 quirk 1).
# ---------------------------------------------------------------------------
OCR_BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("block_no", T.IntegerType(), False),
        T.StructField("left", T.IntegerType(), True),
        T.StructField("top", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("conf", T.IntegerType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# page_stats — typed replacement of the pickled OcrPageData
# (/root/reference/StudiOCR/OcrPageData.py:38-62). Maps/arrays are
# determinized: sets become sorted arrays (quirk 4/5).
# ---------------------------------------------------------------------------
PAGE_STATS_SCHEMA = T.StructType(
    [
        # Counter over non-whitespace block texts (OcrPageData.py:36-38)
        T.StructField(
            "word_counts", T.MapType(T.StringType(), T.LongType()), True
        ),
        # sorted(counter.keys()) (OcrPageData.py:40)
        T.StructField("unique_texts", T.ArrayType(T.StringType()), True),
        # Counter over ''.join(RAW texts) incl. whitespace-only rows
        # (OcrPageData.py:41-43 — uses the unfiltered input)
        T.StructField(
            "char_counts", T.MapType(T.StringType(), T.LongType()), True
        ),
        T.StructField("unique_chars", T.ArrayType(T.StringType()), True),
        # dense ASCII 32..126 histogram, 95 bins (OcrPageData.py:84-91)
        T.StructField("ascii_histogram", T.ArrayType(T.LongType()), True),
        # text -> sorted distinct confs (set -> sorted array, OcrPageData.py:54-62)
        T.StructField(
            "conf_by_text",
            T.MapType(T.StringType(), T.ArrayType(T.IntegerType())),
            True,
        ),
    ]
)

# ---------------------------------------------------------------------------
# ocr_pages — reference OcrPage (db.py:43-48): stored page image (JPEG q100
# in the reference, PNG re-encode here — OcrEngine.py:82-83), dense page
# number, typed stats, plus the page's extracted text (the byte-identical
# target per url is the page texts joined in page order).
# ---------------------------------------------------------------------------
OCR_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("image", T.BinaryType(), True),
        T.StructField("page_text", T.StringType(), True),
        T.StructField("page_stats", PAGE_STATS_SCHEMA, True),
    ]
)

# documents dim (reference OcrDocument, db.py:22-24): url is identity, name
# a display label (unique; suffix-determinized on collision — OcrEngine.py:112-118)
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("n_pages", T.IntegerType(), True),
    ]
)

# inverted index: replaces the reference's O(docs*pages*blocks) nested-loop
# scan (ListDocuments.py:206-221) with a term equi-join.
POSTING_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("block_no", T.IntegerType(), False),
        T.StructField("left", T.IntegerType(), True),
        T.StructField("top", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("conf", T.IntegerType(), True),
    ]
)
# segment-store tables (operators/index.py write_postings): the flat
# postings files carry the term and its hash bucket beside each posting;
# the BM25 aux tables live under the segment's _aux/ dir. Reads pass these
# so opening the store never runs a parquet footer-inference job.
POSTINGS_TABLE_SCHEMA = T.StructType(
    [T.StructField("term", T.StringType(), True)]
    + POSTING_SCHEMA.fields
    + [T.StructField("term_bucket", T.LongType(), True)]
)
TERM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("tf", T.LongType(), True),
    ]
)
DOC_LENS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("dl", T.LongType(), True),
    ]
)
INVERTED_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("postings", T.ArrayType(POSTING_SCHEMA), False),
        T.StructField("doc_freq", T.LongType(), False),
    ]
)

# image_to_data-shaped intermediate: the tesseract parallel arrays the
# reference consumes (OcrEngine.py:88-89, OcrPageData.py:20-23), one struct
# row per array slot.
IMAGE_TO_DATA_FIELDS = ["left", "top", "width", "height", "conf", "text"]

# per-bucket completion manifest (north_rule: checkpoint/resume + lineage)
# — written by streaming/incremental.py; bucket = pmod(xxhash64(url), N)
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("n_urls", T.LongType(), False),
        T.StructField("n_pages", T.LongType(), False),
        T.StructField("n_blocks", T.LongType(), False),
        T.StructField("wall_sec", T.DoubleType(), False),
        T.StructField("docs_per_sec", T.DoubleType(), False),
        T.StructField("min_url", T.StringType(), True),
        T.StructField("max_url", T.StringType(), True),
        T.StructField("completed_ts", T.TimestampType(), False),
    ]
)
