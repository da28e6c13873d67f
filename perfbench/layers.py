"""Per-layer metrics of a traced run, from three outside sources:

- the benchmark's spans around its calls into each layer,
- the decode and page-stats kernels called directly on a fixed sample,
  without Spark,
- the Spark event log, charged to spans through the job property the
  spans set.

Each metric's name, unit and the end-to-end metric it should move are in
``BENCHMARK.json`` and ``perfbench/README.md``. A layer a workload does
not run in its timed region reads 0 there.
"""

from __future__ import annotations

import os
import statistics
import time

from . import gen
from .eventlog import EventLog
from .measure import Tracer, percentile, tree_bytes, union_seconds
from .workloads import Region

UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "decode.ms_per_page": "ms",
    "decode.pages": "count",
    "decode.quarantined": "count",
    "pagestats.ms_per_page": "ms",
    "extract.stage_s": "s",
    "extract.python_s": "s",
    "extract.arrow_to_py_bytes": "B",
    "extract.arrow_from_py_bytes": "B",
    "extract.kernel_share": "ratio",
    "extract.blocks_raw": "count",
    "extract.blocks_kept": "count",
    "incremental.run_s": "s",
    "incremental.bytes_written": "B",
    "incremental.files_written": "count",
    "incremental.buckets": "count",
    "index.write_s": "s",
    "index.shuffle_write_bytes": "B",
    "index.postings_rows": "count",
    "index.bytes_written": "B",
    "index.compact_s": "s",
    "index.segments_live": "count",
    "index.files_per_scan": "count",
    "search.scan.p50_ms": "ms",
    "search.indexed.p50_ms": "ms",
    "search.indoc.p50_ms": "ms",
    "search.bm25.p50_ms": "ms",
    "search.p90_ms": "ms",
    "search.call_ms": "ms",
    "search.collect_ms": "ms",
    "search.jobs_per_query": "count",
    "search.tasks_per_query": "count",
    "search.rows_scanned_per_result": "ratio",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "trace.overhead_s": "s",
    "trace.unaccounted_s": "s",
}

# The per-layer metrics the output line carries (BENCHMARK.json's
# per_layer): the line must stay under a 2000-char tail even with every
# value at full float precision, so counts that only a bug would move and
# ratios derivable from other metrics stay in the run record only.
LINE_METRICS = (
    "session.start_s",
    "decode.ms_per_page",
    "pagestats.ms_per_page",
    "extract.stage_s",
    "extract.python_s",
    "extract.arrow_to_py_bytes",
    "extract.arrow_from_py_bytes",
    "incremental.run_s",
    "incremental.bytes_written",
    "index.write_s",
    "index.shuffle_write_bytes",
    "index.bytes_written",
    "index.compact_s",
    "search.scan.p50_ms",
    "search.indexed.p50_ms",
    "search.indoc.p50_ms",
    "search.bm25.p50_ms",
    "search.p90_ms",
    "search.call_ms",
    "search.jobs_per_query",
    "search.tasks_per_query",
    "search.rows_scanned_per_result",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.driver_gap_s",
    "trace.overhead_s",
)

KERNEL_SAMPLE_DOCS = 40
KERNEL_REPEATS = 3


def kernel_ms_per_page(docs: list[gen.Doc]) -> tuple[float, float]:
    """(decode, page stats) ms per page on a fixed sample of good docs,
    called in this process without Spark; the median of a few repeats."""
    from studiocr_spark.functions.pagestats import compute_page_stats
    from studiocr_spark.sources.decode import bitmap_decode

    sample = [d for d in docs if d.bad is None][:KERNEL_SAMPLE_DOCS]
    payloads = [gen.render_payload(d) for d in sample]
    decode_ms, stats_ms = [], []
    for _ in range(KERNEL_REPEATS):
        t0 = time.perf_counter()
        decoded = [bitmap_decode(p) for p in payloads]
        t1 = time.perf_counter()
        pages = [data for doc in decoded for _png, data, _text in doc]
        t2 = time.perf_counter()
        for data in pages:
            compute_page_stats(data)
        t3 = time.perf_counter()
        decode_ms.append((t1 - t0) * 1e3 / len(pages))
        stats_ms.append((t3 - t2) * 1e3 / len(pages))
    return statistics.median(decode_ms), statistics.median(stats_ms)


def _ids(spans) -> set[str]:
    return {str(s.span_id) for s in spans}


def per_layer(
    tracer: Tracer,
    log: EventLog,
    region: Region,
    region_t0: float,
    session_start_s: float,
    warmup_s: float,
    slots: int,
    kernel: tuple[float, float],
    passes: list[dict],
) -> tuple[dict, dict]:
    """(metrics, detail) for the traced timed region."""
    timed = tracer.select("timed")
    median = statistics.median
    by_name = lambda *names: [s for s in timed if s.name in names]  # noqa: E731
    extract_spans = by_name("extract.force")
    inc_spans = by_name("incremental.run")
    index_spans = by_name("index.publish")
    search_spans = [s for s in timed if s.layer == "search"]
    pages = sum(p["n_pages"] for p in passes)
    stage_s = sum(s.seconds for s in extract_spans)
    decode_ms, stats_ms = kernel
    written = [tree_bytes(p["out"], skip_dirs=("postings",)) for p in passes]
    lat = {k: [r.latency_ms for r in region.queries if r.query.kind == k]
           for k in gen.QUERY_KINDS}
    all_lat = [r.latency_ms for r in region.queries]
    n_search = max(1, len(search_spans))
    result_rows = sum(
        sum(len(b) for _, b in r.result) if r.query.kind == "indoc" else len(r.result)
        for r in region.queries + [rec for _, rec in region.probes]
    )
    tasks = log.tasks(_ids(timed))
    region_t1 = region_t0 + region.wall_s
    stages = [
        (max(a, region_t0), min(b, region_t1))
        for a, b in log.stage_intervals(_ids(timed))
        if b > region_t0 and a < region_t1
    ]
    stage_union = union_seconds(stages)
    span_union = union_seconds(
        [(s.t0, s.t1) for s in timed if s.parent is None]
    )
    m = {
        "session.start_s": session_start_s,
        "session.warmup_s": warmup_s,
        "decode.ms_per_page": decode_ms,
        "decode.pages": pages,
        "decode.quarantined": sum(
            p["docs"] - p["n_urls"] for p in passes
        ),
        "pagestats.ms_per_page": stats_ms,
        "extract.stage_s": stage_s,
        "extract.python_s": log.sql_metric(
            _ids(extract_spans), "time to run Python workers") / 1e3,
        "extract.arrow_to_py_bytes": int(log.sql_metric(
            _ids(extract_spans), "data sent to Python workers")),
        "extract.arrow_from_py_bytes": int(log.sql_metric(
            _ids(extract_spans), "data returned from Python workers")),
        "extract.kernel_share": (
            (decode_ms + stats_ms) * pages / (slots * stage_s * 1e3)
            if stage_s else 0.0
        ),
        "extract.blocks_raw": sum(p["n_blocks"] for p in passes),
        "extract.blocks_kept": sum(p.get("blocks_kept", 0) for p in passes),
        "incremental.run_s": sum(s.seconds for s in inc_spans),
        "incremental.bytes_written": sum(b for b, _ in written),
        "incremental.files_written": sum(f for _, f in written),
        "incremental.buckets": sum(p["buckets"] for p in passes),
        "index.write_s": sum(s.seconds for s in index_spans),
        "index.shuffle_write_bytes": log.tasks(
            _ids(index_spans)).shuffle_write_bytes,
        "index.postings_rows": region.extra["postings_rows"],
        "index.bytes_written": region.extra["index_bytes_written"],
        "index.compact_s": region.extra.get("compact_s", 0.0),
        "index.segments_live": median([r.segments for r in region.queries]),
        "index.files_per_scan": median(
            [len(r.postings_files) for r in region.queries]),
        **{
            f"search.{k}.p50_ms": percentile(v, 0.5)["value"] if v else 0.0
            for k, v in lat.items()
        },
        "search.p90_ms": percentile(all_lat, 0.9)["value"],
        "search.call_ms": median([r.call_s * 1e3 for r in region.queries]),
        "search.collect_ms": median([r.collect_s * 1e3 for r in region.queries]),
        "search.jobs_per_query": len(log.span_jobs(_ids(search_spans))) / n_search,
        "search.tasks_per_query": log.tasks(_ids(search_spans)).tasks / n_search,
        "search.rows_scanned_per_result": log.sql_metric(
            _ids(search_spans), "number of output rows", "Scan"
        ) / max(1, result_rows),
        "spark.executor_cpu_s": tasks.cpu_s,
        "spark.executor_run_s": tasks.run_s,
        "spark.gc_s": tasks.gc_s,
        "spark.shuffle_write_bytes": tasks.shuffle_write_bytes,
        "spark.spill_bytes": tasks.spill_bytes,
        "spark.tasks": tasks.tasks,
        "spark.driver_gap_s": region.wall_s - stage_union,
        # work done only because the run is traced: the forced extract
        # passes and tagging Spark jobs with their span
        "trace.overhead_s": stage_s + tracer.hook_s.get("timed", 0.0),
        "trace.unaccounted_s": region.wall_s - span_union,
    }
    self_s: dict[str, float] = {}
    for s in timed:
        if s.parent is None:
            self_s[s.layer] = self_s.get(s.layer, 0.0) + s.seconds
    detail = {
        "timed_wall_s": region.wall_s,
        "top_level_span_union_s": span_union,
        "stage_union_s": stage_union,
        "layer_span_s": self_s,
        "spans": len(tracer.spans),
        "queries": len(region.queries),
        "query_samples_by_kind": {k: len(v) for k, v in lat.items()},
        "search_p90_samples_beyond": percentile(all_lat, 0.9)["n_beyond"],
        "event_log_jobs": len(log.job_span),
    }
    return m, detail


def write_side_file(path: str, payload: dict) -> None:
    import json

    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(payload, f, indent=2, sort_keys=True)
