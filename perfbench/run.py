"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,search} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). Everything the run writes stays under ``.perfbench_work/``
(scratch, emptied per run) and ``.perfbench_results/`` (one JSON record
per run, with sample counts and, for traced runs, the layer table).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

SLOTS = 4  # Spark task slots, capped at the CPUs this process may use
DRIVER_MEM = "2g"
WORKLOADS = ("ingest", "search")
END_TO_END_UNITS = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "cpu_s": "core-s",
    "peak_rss_mb": "MB",
    "query_p50_ms": "ms",
    "stored_bytes_per_doc": "B/doc",
    "freshness_s": "s",
}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _set_environment(work: str) -> None:
    """Run conditions: explicit driver heap, Spark and temp dirs inside
    the checkout, one thread per native library call."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, Spark's launcher included: no /tmp/hsperfdata, temp
    # files inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["OMP_NUM_THREADS"] = "1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _start_session(work: str, slots: int, trace: bool):
    from studiocr_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a fixed, pre-touched heap: otherwise the tree's RSS follows
        # when the JVM happens to grow its heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
    return get_spark(app_name="perfbench", master=f"local[{slots}]",
                     shuffle_partitions=slots, extra_conf=conf)


def _stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    from .procstat import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.time() < deadline + 30:
        time.sleep(0.2)


def _measure(fn, region):
    """Run ``fn(region)`` as a timed region: wall, process-tree CPU and
    peak summed RSS."""
    from .procstat import TreeSampler, tree_cpu_seconds

    pid = os.getpid()
    sampler = TreeSampler(pid).start()
    cpu0 = tree_cpu_seconds(pid)
    t0 = time.perf_counter()
    wall0 = time.time()
    fn(region)
    region.wall_s = time.perf_counter() - t0
    region.cpu_s = tree_cpu_seconds(pid) - cpu0
    region.peak_rss_bytes = sampler.stop()
    return wall0


def run(workload: str, seed: int, seconds: int, trace: bool, root: str) -> dict:
    work = os.path.join(root, ".perfbench_work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _set_environment(work)  # before numpy, pyarrow or Spark load

    from . import layers, workloads as w
    from .eventlog import SPAN_PROPERTY, parse
    from statistics import median

    from .measure import Tracer
    from .oracle import Oracle

    slots = max(1, min(SLOTS, len(os.sched_getaffinity(0))))

    t = time.perf_counter()
    if workload == "ingest":
        inp = w.ingest_generate(seed, work, processes=slots)
    else:
        inp = w.search_generate(seed, work)
    _log(f"inputs generated in {time.perf_counter() - t:.1f}s (not timed)")

    spark = None
    tracer = Tracer(enabled=trace)
    try:
        t_setup = time.perf_counter()
        spark = _start_session(work, slots, trace)
        session_s = time.perf_counter() - t_setup
        sc = spark.sparkContext
        if trace:
            tracer.on_enter = lambda s: sc.setLocalProperty(
                SPAN_PROPERTY, None if s is None else str(s.span_id))
        t_warm = time.perf_counter()
        if workload == "ingest":
            w.ingest_warmup(spark, inp, work, tracer)
        else:
            store = w.search_prepare(spark, inp, os.path.join(work, "index"), tracer)
            w.search_warmup(spark, inp, work, store, tracer)
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup
        _log(f"set-up {setup_s:.1f}s (session {session_s:.1f}s)")

        region = w.Region()
        passes: list[dict] = []
        if workload == "ingest":
            fn = lambda r: passes.extend(  # noqa: E731
                w.ingest_timed(spark, inp, work, seconds, tracer, r))
        else:
            fn = lambda r: w.search_timed(  # noqa: E731
                spark, inp, store, seconds, tracer, r)
        tracer.phase = "timed"
        region_t0 = _measure(fn, region)
        tracer.phase = "check"
        _log(f"timed region {region.wall_s:.1f}s")

        oracle = Oracle(os.path.join(work, "tmp"))
        if workload == "ingest":
            attempted, failed, notes = w.ingest_check(spark, inp, passes, region, oracle)
        else:
            attempted, failed, notes = w.search_check(store, region, oracle)
    finally:
        if spark is not None:
            _stop_session(spark)

    qm = w.query_metrics(region)
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "slots": slots, "driver_mem": DRIVER_MEM,
        "timed_wall_s": region.wall_s,
        "query_samples": qm["p50"]["n"],
        "query_p90_ms": qm["p90"]["value"],
        "query_p90_samples_beyond": qm["p90"]["n_beyond"],
        "rounds": len(region.freshness_s),
        "query_latencies_ms": [round(r.latency_ms, 1) for r in region.queries],
        "check_notes": notes,
    }
    if not trace:
        metrics = {
            "setup_s": setup_s,
            "docs_per_s": region.docs / sum(region.publish_s),
            "cpu_s": region.cpu_s,
            "peak_rss_mb": region.peak_rss_bytes / 2**20,
            "query_p50_ms": qm["p50"]["value"],
            "stored_bytes_per_doc": region.stored_bytes / region.stored_docs,
            "freshness_s": median(region.freshness_s),
        }
        units = END_TO_END_UNITS
    else:
        log = parse(os.path.join(work, "eventlog"))
        metrics, detail = layers.per_layer(
            tracer, log, region, region_t0, session_s, warmup_s, slots,
            layers.kernel_ms_per_page(inp.docs), passes,
        )
        units = layers.UNITS
        record["layers_detail"] = detail
        record["all_layer_metrics"] = metrics
        metrics = {k: metrics[k] for k in layers.LINE_METRICS}
    oracle.close()
    record["metrics"] = metrics
    results = os.path.join(root, ".perfbench_results")
    layers.write_side_file(
        os.path.join(results, f"{workload}-seed{seed}-trace{int(trace)}.json"),
        record,
    )
    _log(json.dumps({k: v for k, v in record.items()
                     if k not in ("layers_detail", "all_layer_metrics")}))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "studiocr_spark", "__init__.py")):
        _log("no studiocr_spark package here: run from the repository root")
        return 2
    sys.path.insert(0, root)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), root)
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    # run as a script: make the package importable as ``perfbench``
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench.run import main as _main

    sys.exit(_main())
