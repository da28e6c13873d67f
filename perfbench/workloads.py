"""The two workloads: the calls they make into the program, their timed
regions and their checks.

Both follow the paper's contract end to end (page data -> block rows ->
index -> search results) in rounds: a delta of documents arrives, is
published as one postings segment, a probe query confirms it is
searchable (freshness), then a closed-loop burst of queries runs with one
client. They differ in where the time goes:

- ``ingest``: each round is the full ``jobs/extract_submit.py --backend
  bitmap --build-index`` sequence over a 300-doc rendered corpus (decode,
  extract, incremental, index writes); the bursts are short.
- ``search``: the block rows are generated, so decode never runs; the base
  index is built in set-up, each round publishes a small block delta as a
  new segment, then a long burst runs over the growing live-segment set;
  ``compact_postings`` closes the region.

The amount of work is fixed by ``--seconds`` through nominal rates (not by
a clock), so every run of a workload does identical work and CPU time,
memory and bytes stay comparable; on a 4-core host the timed region lasts
about ``--seconds``.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

from . import gen
from .measure import Tracer, percentile, tree_bytes
from .oracle import Oracle, parquet_globs, same_ranking

N_BUCKETS = 4  # extract checkpoint buckets (one per task slot)
TERM_BUCKETS = 4  # postings term-hash buckets
INGEST_DOCS = 300
INGEST_WARM_DOCS = 24
INGEST_WARM_PASSES = 2
INGEST_PASS_S = 10.0  # --seconds per ingest round (sets the work)
INGEST_BURST = 20
INGEST_WARM_QUERIES = 16
SEARCH_BASE_DOCS = 400
SEARCH_DELTA_DOCS = 30
SEARCH_ROUNDS = 4
SEARCH_QUERIES_PER_S = 2.4  # queries per --second (sets the work)
SEARCH_WARM_QUERIES_PER_KIND = 3
QUARANTINE_SAMPLE = 40  # good docs re-decoded beside the bad ones


@dataclass
class Store:
    """What a query reads: block tables and a postings root, plus the
    files they held at the last :meth:`refresh` (for the DuckDB check)."""

    block_paths: list[str]
    index_root: str
    block_files: list[str] = field(default_factory=list)
    postings_files: list[str] = field(default_factory=list)
    segments: int = 0

    def refresh(self) -> "Store":
        """Record the current files; call after every publish."""
        from studiocr_spark.operators.index import list_segments

        self.block_files = parquet_globs(self.block_paths)
        self.postings_files = postings_files(self.index_root)
        self.segments = len(list_segments(self.index_root))
        return self


@dataclass
class QueryRecord:
    query: gen.Query
    result: list
    call_s: float
    collect_s: float
    block_files: list[str]
    postings_files: list[str]
    segments: int

    @property
    def latency_ms(self) -> float:
        return (self.call_s + self.collect_s) * 1e3


@dataclass
class Region:
    """Everything measured in one timed region."""

    wall_s: float = 0.0
    cpu_s: float = 0.0
    peak_rss_bytes: int = 0
    docs: int = 0
    publish_s: list[float] = field(default_factory=list)
    freshness_s: list[float] = field(default_factory=list)
    queries: list[QueryRecord] = field(default_factory=list)
    probes: list[tuple[str, QueryRecord]] = field(default_factory=list)
    stored_bytes: int = 0
    stored_docs: int = 0
    extra: dict = field(default_factory=dict)


def postings_files(root: str) -> list[str]:
    """Parquet files of the live postings segments (``_aux`` excluded)."""
    from studiocr_spark.operators.index import list_segments

    return parquet_globs([os.path.join(root, s) for s in list_segments(root)])


def store_bytes(root: str, tables: list[str]) -> int:
    """Bytes of the given table dirs plus the live postings segments
    (their ``_aux`` BM25 tables included)."""
    from studiocr_spark.operators.index import list_segments

    total = sum(tree_bytes(t)[0] for t in tables)
    for seg in list_segments(root):
        total += tree_bytes(os.path.join(root, seg))[0]
    return total


def count_rows(oracle: Oracle, files: list[str]) -> int:
    return oracle.con.execute(
        "SELECT count(*) FROM read_parquet(?)", [files]).fetchone()[0]


# -- queries -------------------------------------------------------------

def run_query(spark, q: gen.Query, store: Store, tracer: Tracer) -> QueryRecord:
    from studiocr_spark.operators.index import (
        read_doc_lens,
        read_postings,
        read_term_stats,
    )
    from studiocr_spark.operators.search import (
        bm25_search,
        global_search,
        global_search_indexed,
        in_doc_search,
    )

    with tracer.span(f"search.{q.kind}", "search"):
        t0 = time.perf_counter()
        if q.kind == "scan":
            df = global_search(spark.read.parquet(*store.block_paths), q.text)
        elif q.kind == "indexed":
            df = global_search_indexed(
                read_postings(spark, store.index_root), q.text
            )
        elif q.kind == "indoc":
            df = in_doc_search(
                spark.read.parquet(*store.block_paths), q.url, q.text
            )
        else:
            df = bm25_search(
                None, q.text, limit=10,
                term_stats=read_term_stats(spark, store.index_root),
                doc_lens=read_doc_lens(spark, store.index_root),
            )
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
    if q.kind in ("scan", "indexed"):
        result = [r.url for r in rows]
    elif q.kind == "indoc":
        result = [(r.page_no, [tuple(b) for b in r.matched_blocks]) for r in rows]
    else:
        result = [(r.url, float(r.score)) for r in rows]
    return QueryRecord(q, result, t1 - t0, t2 - t1, store.block_files,
                       store.postings_files, store.segments)


def probe(spark, doc: gen.Doc, store: Store, tracer: Tracer) -> QueryRecord:
    q = gen.Query("indexed", "probe", gen.probe_word(doc))
    return run_query(spark, q, store, tracer)


def check_region(oracle: Oracle, region: Region) -> tuple[int, int, list]:
    """(attempted, failed, first failures) over the region's queries:
    each probe returned its delta's url, each result equals DuckDB's, and
    J3 scan and J3 indexed agree on the same text and store."""
    attempted = failed = 0
    notes: list = []

    def fail(what: str) -> None:
        nonlocal failed
        failed += 1
        if len(notes) < 5:
            notes.append(what)

    for url, rec in region.probes:
        attempted += 1
        if url not in rec.result:
            fail(f"probe missed {url}")
    last_scan: QueryRecord | None = None
    for r in [rec for _, rec in region.probes] + region.queries:
        attempted += 1
        words = r.query.text.lower().split()
        if r.query.kind == "scan":
            want = oracle.j3(r.block_files, words, "lower(text)")
            last_scan = r
        elif r.query.kind == "indexed":
            want = oracle.j3(r.postings_files, words, "term")
            if last_scan is not None and last_scan.query.text == r.query.text:
                attempted += 1
                if set(last_scan.result) != set(r.result):
                    fail(f"J3 scan != indexed for {r.query.text!r}")
        elif r.query.kind == "indoc":
            want = oracle.indoc(r.block_files, r.query.url, words)
        else:
            want = oracle.bm25(r.postings_files, words)
            if not same_ranking(r.result, want):
                fail(f"bm25 {r.query.text!r}")
            continue
        if r.result != want:
            fail(f"{r.query.kind} {r.query.text!r}")
    return attempted, failed, notes


# -- ingest --------------------------------------------------------------

@dataclass
class IngestInputs:
    docs: list[gen.Doc]
    warm_docs: list[gen.Doc]
    pages: str
    warm_pages: str
    queries: list[gen.Query]


def ingest_generate(seed: int, work: str, processes: int) -> IngestInputs:
    vocab = gen.make_vocab(seed)
    docs = gen.plan_corpus(seed, INGEST_DOCS, vocab)
    warm = gen.plan_corpus(seed, INGEST_WARM_DOCS, vocab, first_id=INGEST_DOCS)
    payloads = gen.render_payloads(docs + warm, processes)
    pages = os.path.join(work, "pages.parquet")
    warm_pages = os.path.join(work, "warm_pages.parquet")
    gen.write_pages(docs, payloads[: len(docs)], pages)
    gen.write_pages(warm, payloads[len(docs):], warm_pages)
    return IngestInputs(docs, warm, pages, warm_pages,
                        gen.make_queries(docs, seed, n_per_kind=INGEST_BURST + INGEST_WARM_QUERIES))


def extract_submit(spark, pages_path: str, out: str, tracer: Tracer,
                   force_extract: bool) -> dict:
    """The calls ``jobs/extract_submit.py --backend bitmap --build-index``
    makes, with a span around each layer. ``force_extract`` first runs
    the decode+extract layer on its own into Spark's no-op sink (traced
    runs only), because inside the incremental layer it is evaluated
    lazily together with the writes."""
    from pyspark.sql import functions as F

    from studiocr_spark.operators.extract import extract_raw
    from studiocr_spark.operators.index import (
        build_postings,
        list_segments,
        segment_coverage,
        write_postings_segment,
    )
    from studiocr_spark.streaming.incremental import (
        pending_buckets,
        read_manifest,
        run_checkpointed_extract,
    )

    if force_extract:
        with tracer.span("extract.force", "extract"):
            extract_raw(spark.read.parquet(pages_path), backend="bitmap") \
                .write.mode("overwrite").format("noop").save()
    with tracer.span("incremental.run", "incremental"):
        pages = spark.read.parquet(pages_path)
        manifest = run_checkpointed_extract(
            spark, pages, out, n_buckets=N_BUCKETS, backend="bitmap"
        )
        pending_buckets(spark, out, N_BUCKETS)
        stats = manifest.groupBy().sum("n_urls", "n_pages", "n_blocks").first()
        n_buckets_done = manifest.count()
        mf = read_manifest(spark, out)
        completed = {r.bucket for r in mf.select("bucket").distinct().collect()}
    index_root = os.path.join(out, "postings")
    with tracer.span("index.publish", "index"):
        to_index = completed - (segment_coverage(index_root) or set())
        blocks = spark.read.parquet(os.path.join(out, "ocr_blocks")).filter(
            F.col("bucket").isin(sorted(to_index))
        )
        write_postings_segment(
            build_postings(blocks), index_root,
            term_buckets=TERM_BUCKETS, buckets=sorted(to_index),
        )
        list_segments(index_root)
    return {"n_urls": stats[0], "n_pages": stats[1], "n_blocks": stats[2],
            "buckets": n_buckets_done}


def ingest_round(spark, pages_path: str, docs: list[gen.Doc], out: str,
                 burst: list[gen.Query], tracer: Tracer, region: Region,
                 force_extract: bool) -> dict:
    arrival = time.perf_counter()
    stats = extract_submit(spark, pages_path, out, tracer, force_extract)
    published = time.perf_counter()
    store = Store([os.path.join(out, "ocr_blocks")],
                  os.path.join(out, "postings")).refresh()
    target = next(d for d in docs if d.bad is None)
    rec = probe(spark, target, store, tracer)
    region.freshness_s.append(time.perf_counter() - arrival)
    region.publish_s.append(published - arrival)
    region.probes.append((target.url, rec))
    region.docs += len(docs)
    for q in burst:
        region.queries.append(run_query(spark, q, store, tracer))
    return stats


def ingest_warmup(spark, inp: IngestInputs, work: str, tracer: Tracer) -> None:
    warm_queries = [q for q in inp.queries if q.kind == "indexed"][
        -INGEST_WARM_QUERIES:]
    scratch = Region()
    for i in range(INGEST_WARM_PASSES):
        last = i == INGEST_WARM_PASSES - 1
        ingest_round(spark, inp.warm_pages, inp.warm_docs,
                     os.path.join(work, f"warm{i}"),
                     warm_queries if last else [],
                     tracer, scratch, force_extract=tracer.enabled)


def ingest_timed(spark, inp: IngestInputs, work: str, seconds: int,
                 tracer: Tracer, region: Region) -> list[dict]:
    passes = max(1, int(seconds // INGEST_PASS_S))
    # after a publish, users look terms up through the index: the bursts
    # are J3 indexed queries across all bands (one latency mode, so the
    # median is steady at this sample size); the full mix is `search`'s
    indexed = [q for q in inp.queries if q.kind == "indexed"]
    per_pass = []
    for i in range(passes):
        burst = [indexed[(i * INGEST_BURST + k) % len(indexed)]
                 for k in range(INGEST_BURST)]
        out = os.path.join(work, f"pass{i}")
        stats = ingest_round(spark, inp.pages, inp.docs, out, burst, tracer,
                             region, force_extract=tracer.enabled)
        stats["out"] = out
        stats["docs"] = len(inp.docs)
        per_pass.append(stats)
    region.stored_bytes = statistics.median([
        store_bytes(os.path.join(p["out"], "postings"),
                    [os.path.join(p["out"], t) for t in ("ocr_pages", "ocr_blocks")])
        for p in per_pass
    ])
    region.stored_docs = len(inp.docs)
    return per_pass


def ingest_check(spark, inp: IngestInputs, per_pass: list[dict],
                 region: Region, oracle: Oracle) -> tuple[int, int, list]:
    """Byte-identical text per url, conservation and quarantine."""
    from pyspark.sql import functions as F

    from studiocr_spark.operators.extract import extract_raw, quarantine

    attempted = failed = 0
    notes: list = []
    good = [d for d in inp.docs if d.bad is None]
    bad = {d.url for d in inp.docs if d.bad is not None}
    want = {d.url: d.text for d in good}
    want_hash = gen.content_hash(want.items())
    want_raw = sum(gen.expected_raw_blocks(d) for d in good)
    # the codec never emits whitespace-only texts (structural rows are '',
    # which the F1 filter keeps), so nothing may be filtered
    want_filtered = 0
    for p in per_pass:
        out = p["out"]
        got = dict(oracle.con.execute(
            "SELECT url, string_agg(page_text, ' ' ORDER BY page_no) FROM "
            f"read_parquet('{out}/ocr_pages/*/*.parquet') GROUP BY url"
        ).fetchall())
        attempted += len(want) + 1
        bad_urls = {u for u in want if got.get(u) != want[u]} | (set(got) - set(want))
        failed += len(bad_urls)
        if bad_urls:
            notes.append(f"{len(bad_urls)} urls differ in {os.path.basename(out)}")
        if gen.content_hash(got.items()) != want_hash:
            failed += 1
            notes.append("content hash differs")
        kept = oracle.con.execute(
            f"SELECT count(*) FROM read_parquet('{out}/ocr_blocks/*/*.parquet')"
        ).fetchone()[0]
        n_urls, n_blocks = oracle.con.execute(
            f"SELECT sum(n_urls), sum(n_blocks) FROM read_parquet('{out}/manifest/*.parquet')"
        ).fetchone()
        for ok, what in (
            (n_blocks == want_raw, f"raw blocks {n_blocks} != {want_raw}"),
            (kept + want_filtered == n_blocks, f"kept {kept} + filtered != raw {n_blocks}"),
            (n_urls == len(good), f"manifest n_urls {n_urls} != {len(good)}"),
        ):
            attempted += 1
            if not ok:
                failed += 1
                notes.append(what)
        p["blocks_kept"] = kept
        postings = os.path.join(out, "postings")
        p["postings_rows"] = count_rows(oracle, postings_files(postings))
        p["index_bytes"] = store_bytes(postings, [])
    region.extra["postings_rows"] = sum(p["postings_rows"] for p in per_pass)
    region.extra["index_bytes_written"] = sum(p["index_bytes"] for p in per_pass)
    # quarantine: every bad payload (plus a sample of good ones, which must
    # not appear) through the extract layer; one row per bad payload
    sample = bad | {d.url for d in good[:QUARANTINE_SAMPLE]}
    pages = spark.read.parquet(inp.pages).filter(F.col("url").isin(sorted(sample)))
    rows = quarantine(extract_raw(pages, backend="bitmap")).collect()
    attempted += len(bad)
    got_q = [r.url for r in rows]
    q_failed = len(bad ^ set(got_q)) + (len(got_q) - len(set(got_q)))
    failed += q_failed
    if q_failed:
        notes.append(f"quarantine rows {sorted(got_q)} != {sorted(bad)}")
    a, f, n = check_region(oracle, region)
    return attempted + a, failed + f, notes + n


# -- search --------------------------------------------------------------

@dataclass
class SearchInputs:
    docs: list[gen.Doc]
    deltas: list[list[gen.Doc]]
    base_blocks: str
    delta_blocks: list[str]
    warm_blocks: str
    queries: list[gen.Query]


def search_generate(seed: int, work: str) -> SearchInputs:
    vocab = gen.make_vocab(seed)

    def good(first: int, n: int) -> list[gen.Doc]:
        # no payloads are decoded here, so broken ones have no meaning
        return [d for d in gen.plan_corpus(seed, n, vocab, first_id=first)
                if d.bad is None]

    base = good(0, SEARCH_BASE_DOCS)
    deltas = [good(SEARCH_BASE_DOCS + i * SEARCH_DELTA_DOCS, SEARCH_DELTA_DOCS)
              for i in range(SEARCH_ROUNDS + 1)]
    paths = []
    for name, docs in [("base", base)] + [(f"delta{i}", d) for i, d in enumerate(deltas)]:
        path = os.path.join(work, f"{name}_blocks.parquet")
        gen.write_blocks(docs, path)
        paths.append(path)
    return SearchInputs(
        base, deltas[:-1], paths[0], paths[1:-1], paths[-1],
        gen.make_queries(base, seed, n_per_kind=24),
    )


def publish_blocks(spark, blocks_path: str, root: str, tracer: Tracer,
                   name: str = "index.publish") -> None:
    from studiocr_spark.operators.index import build_postings, write_postings_segment

    with tracer.span(name, "index"):
        write_postings_segment(
            build_postings(spark.read.parquet(blocks_path)), root,
            term_buckets=TERM_BUCKETS,
        )


def search_prepare(spark, inp: SearchInputs, root: str, tracer: Tracer) -> Store:
    """A fresh store holding the base segment (set-up, not timed)."""
    publish_blocks(spark, inp.base_blocks, root, tracer, "index.base")
    return Store([inp.base_blocks], root).refresh()


def search_warmup(spark, inp: SearchInputs, work: str, store: Store,
                  tracer: Tracer) -> None:
    """A second publish (into a scratch store) and a few queries of each
    kind, taken from the end of the mix: the base build was the first
    pass of the write path."""
    publish_blocks(spark, inp.warm_blocks, os.path.join(work, "warm_index"), tracer)
    for q in inp.queries[-SEARCH_WARM_QUERIES_PER_KIND * len(gen.QUERY_KINDS):]:
        run_query(spark, q, store, tracer)


def search_timed(spark, inp: SearchInputs, store: Store, seconds: int,
                 tracer: Tracer, region: Region) -> None:
    from studiocr_spark.operators.index import compact_postings

    n_queries = max(12, int(seconds * SEARCH_QUERIES_PER_S))
    burst = n_queries // SEARCH_ROUNDS
    region.extra["base_index_bytes"] = tree_bytes(store.index_root)[0]
    for i, (docs, path) in enumerate(zip(inp.deltas, inp.delta_blocks)):
        arrival = time.perf_counter()
        publish_blocks(spark, path, store.index_root, tracer)
        published = time.perf_counter()
        store.block_paths.append(path)
        store.refresh()
        rec = probe(spark, docs[0], store, tracer)
        region.freshness_s.append(time.perf_counter() - arrival)
        region.publish_s.append(published - arrival)
        region.probes.append((docs[0].url, rec))
        region.docs += len(docs)
        for k in range(burst):
            q = inp.queries[(i * burst + k) % len(inp.queries)]
            region.queries.append(run_query(spark, q, store, tracer))
    with tracer.span("index.compact", "index"):
        t0 = time.perf_counter()
        compact_postings(spark, store.index_root, term_buckets=TERM_BUCKETS)
        region.extra["compact_s"] = time.perf_counter() - t0
    store.refresh()
    # the compacted store must answer like the segmented one
    region.probes.append((inp.deltas[0][0].url,
                          probe(spark, inp.deltas[0][0], store, tracer)))
    region.stored_bytes = store_bytes(store.index_root, store.block_paths)
    region.stored_docs = len(inp.docs) + sum(len(d) for d in inp.deltas)


def search_check(store: Store, region: Region,
                 oracle: Oracle) -> tuple[int, int, list]:
    region.extra["postings_rows"] = count_rows(
        oracle, postings_files(store.index_root))
    region.extra["index_bytes_written"] = (
        tree_bytes(store.index_root)[0] - region.extra["base_index_bytes"])
    return check_region(oracle, region)


def query_metrics(region: Region) -> dict:
    """Latency percentiles over every query of the region: the bursts and
    the freshness probes (all closed loop, one client)."""
    lat = [r.latency_ms for r in region.queries] + [
        r.latency_ms for _, r in region.probes
    ]
    p50 = percentile(lat, 0.5)
    p90 = percentile(lat, 0.9)
    return {"p50": p50, "p90": p90}
