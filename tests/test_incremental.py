"""Checkpoint/resume: crash mid-run, resume, no loss, no dupes."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from studiocr_spark.schemas import MANIFEST_SCHEMA
from studiocr_spark.streaming.incremental import (
    pending_buckets,
    run_checkpointed_extract,
    with_bucket,
)

N_BUCKETS = 8
OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def _files_per_bucket(table_dir: str) -> dict[str, int]:
    return {
        os.path.basename(d): len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(table_dir, "bucket=*"))
    }


def test_resume_after_crash(spark, pages_df, tmp_path):
    out = str(tmp_path / "ckpt")
    # run 1 "crashes" after 3 buckets
    m1 = run_checkpointed_extract(
        spark, pages_df, out, n_buckets=N_BUCKETS, fail_after_buckets=3
    )
    assert m1 is not None and m1.count() == 3
    pending = pending_buckets(spark, out, N_BUCKETS)
    assert len(pending) == N_BUCKETS - 3

    # run 2 completes the rest
    m2 = run_checkpointed_extract(spark, pages_df, out, n_buckets=N_BUCKETS)
    assert m2.count() == N_BUCKETS - 3
    assert pending_buckets(spark, out, N_BUCKETS) == []

    # run 3 is a no-op
    assert run_checkpointed_extract(spark, pages_df, out, n_buckets=N_BUCKETS) is None

    # outputs: every url exactly once per page, no dupes, full coverage
    pages_out = spark.read.parquet(f"{out}/ocr_pages")
    assert pages_out.groupBy("url", "page_no").count().filter("count > 1").count() == 0
    assert pages_out.select("url").distinct().count() == pages_df.count()

    blocks_out = spark.read.parquet(f"{out}/ocr_blocks")
    assert (
        blocks_out.groupBy("url", "page_no", "block_no").count()
        .filter("count > 1").count() == 0
    )

    # one decode task per pending bucket, in both runs: each bucket
    # directory holds one file per table, not one per input partition
    # (pages_df has 4)
    for table in ("ocr_pages", "ocr_blocks"):
        files = _files_per_bucket(f"{out}/{table}")
        assert len(files) == N_BUCKETS
        assert set(files.values()) == {1}, (table, files)

    # manifest lineage is sane
    manifest = spark.read.parquet(f"{out}/manifest")
    row = manifest.agg(
        F.sum("n_urls").alias("u"), F.sum("n_pages").alias("p")
    ).collect()[0]
    assert row.u == pages_df.count()
    assert row.p == pages_out.count()
    assert manifest.filter(F.col("docs_per_sec") < 0).count() == 0


def test_reprocessing_is_idempotent(spark, pages_df, tmp_path):
    """Crash AFTER data write but BEFORE manifest: rerun must not dupe.
    Dynamic partition overwrite is set per write: the session's own
    overwrite mode is left as it was."""
    out = str(tmp_path / "ckpt2")
    spark.conf.unset(OVERWRITE_MODE)
    session_mode = spark.conf.get(OVERWRITE_MODE)
    run_checkpointed_extract(
        spark, pages_df, out, n_buckets=4, fail_after_buckets=2
    )
    # simulate the lost-manifest crash: wipe the manifest, keep the data
    import shutil

    shutil.rmtree(f"{out}/manifest")
    run_checkpointed_extract(spark, pages_df, out, n_buckets=4)
    assert spark.conf.get(OVERWRITE_MODE) == session_mode
    pages_out = spark.read.parquet(f"{out}/ocr_pages")
    assert pages_out.groupBy("url", "page_no").count().filter("count > 1").count() == 0
    assert pages_out.select("url").distinct().count() == pages_df.count()


def test_manifest_rows_without_python_rdd(spark, tmp_path):
    """The returned manifest is a JVM-side local relation (no PythonRDD
    behind its actions) and holds one row per pending bucket; 3 docs in
    8 buckets leave empty buckets with null min_url/max_url."""
    from studiocr_spark.gen import generate_pages
    from studiocr_spark.operators.extract import extract_raw

    pages = generate_pages(spark, 3, partitions=1).cache()
    out = str(tmp_path / "ckpt3")
    manifest = run_checkpointed_extract(spark, pages, out, n_buckets=N_BUCKETS)

    lineage = manifest._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage
    assert manifest.schema == MANIFEST_SCHEMA

    docs = {
        r.bucket: r
        for r in with_bucket(pages, N_BUCKETS).groupBy("bucket").agg(
            F.count("*").alias("n_urls"),
            F.min("url").alias("min_url"),
            F.max("url").alias("max_url"),
        ).collect()
    }
    decoded = {
        r.bucket: r
        for r in with_bucket(
            extract_raw(pages).filter(F.col("error").isNull()), N_BUCKETS
        ).groupBy("bucket").agg(
            F.count("*").alias("n_pages"),
            F.sum(F.size("raw")).alias("n_blocks"),
        ).collect()
    }
    rows = sorted(manifest.collect(), key=lambda r: r.bucket)
    assert [r.bucket for r in rows] == list(range(N_BUCKETS))
    assert len(docs) < N_BUCKETS  # some bucket is empty
    for r in rows:
        d, x = docs.get(r.bucket), decoded.get(r.bucket)
        assert r.n_urls == (d.n_urls if d else 0)
        assert r.n_pages == (x.n_pages if x else 0)
        assert r.n_blocks == (x.n_blocks if x else 0)
        assert r.min_url == (d.min_url if d else None)
        assert r.max_url == (d.max_url if d else None)
        assert r.docs_per_sec == r.n_urls / r.wall_sec
    assert len({(r.wall_sec, r.completed_ts) for r in rows}) == 1
    stored = sorted(
        spark.read.parquet(f"{out}/manifest").collect(), key=lambda r: r.bucket
    )
    assert stored == rows
