"""End-to-end job runner test: NT files on disk → run_ingest → parquet
outputs that exactly match the composable-pipeline queries built from the
same fixture lines."""

import os
import shutil
import tempfile

import pytest

from ingest_fast_spark import jobs
from ingest_fast_spark.queries import fastq
from ingest_fast_spark.queries.fastq import (
    EVENT_LINES,
    GEOGRAPHIC_LINES,
    PERSONAL_LINES,
    TOPICAL_LINES,
    VIAF_ROWS,
)


def _freeze(rows):
    out = []
    for r in rows:
        d = r.asDict()
        out.append(
            tuple(
                (k, tuple(v) if isinstance(v, list) else v)
                for k, v in sorted(d.items())
            )
        )
    return sorted(out)


@pytest.fixture(scope="module")
def nt_dir():
    d = tempfile.mkdtemp(prefix="fast_nt_")
    for stem, lines in (
        ("FASTTopical", TOPICAL_LINES),
        ("FASTGeographic", GEOGRAPHIC_LINES),
        ("FASTEvent", EVENT_LINES),
        ("FASTPersonal", PERSONAL_LINES),
    ):
        with open(os.path.join(d, f"{stem}.nt"), "w") as f:
            f.write("\n".join(lines) + "\n")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_run_ingest_matches_pipeline_queries(spark, nt_dir):
    out_dir = tempfile.mkdtemp(prefix="fast_out_")
    try:
        viaf = spark.createDataFrame(
            VIAF_ROWS, "_id string, viaf string, lcId string, fast array<bigint>"
        )
        metrics = jobs.run_ingest(spark, nt_dir, out_dir, viaf=viaf)

        # The registered queries serialize arrays to '|'-joined strings for
        # the driver harness; the written tables keep real arrays, so
        # compare against the underlying operators.
        from ingest_fast_spark.operators import fast_pipeline as fp

        written_fast = spark.read.parquet(os.path.join(out_dir, "fast"))
        expected_fast = fp.build_fast_table(fastq._triples_by_type(spark))
        assert _freeze(written_fast.collect()) == _freeze(expected_fast.collect())

        written_viaf = spark.read.parquet(os.path.join(out_dir, "viaf"))
        expected_viaf = fp.build_viaf_updates(fastq._triples_by_type(spark), viaf)
        assert _freeze(written_viaf.collect()) == _freeze(expected_viaf.collect())

        assert metrics["n_fast_docs"] == written_fast.count()
        assert metrics["n_viaf_docs"] == written_viaf.count()
        assert metrics["n_types"] == 3  # Topical, Geographic, Event

        # Without viaf the job scans only the files the fast table reads.
        fast_only = jobs.run_ingest(spark, nt_dir, os.path.join(out_dir, "fast_only"))
        written = spark.read.parquet(os.path.join(out_dir, "fast_only", "fast"))
        assert _freeze(written.collect()) == _freeze(expected_fast.collect())
        assert fast_only == {k: metrics[k] for k in ("n_fast_docs", "n_types")}
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def _persisted_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_jobs_release_what_they_persist(spark, nt_dir):
    """run_ingest and every run_ingest_streaming micro-batch unpersist the
    frames they cache. Earlier tests in the session may still hold
    persisted RDDs (localCheckpoint blocks wait for GC), so the check is
    that no RDD persisted by the job outlives it."""
    out_dir = tempfile.mkdtemp(prefix="fast_release_")
    try:
        viaf = spark.createDataFrame(
            VIAF_ROWS, "_id string, viaf string, lcId string, fast array<bigint>"
        )
        before = _persisted_rdd_ids(spark)
        jobs.run_ingest(spark, nt_dir, os.path.join(out_dir, "batch"), viaf=viaf)
        assert _persisted_rdd_ids(spark) - before == set()

        q = jobs.run_ingest_streaming(spark, nt_dir, os.path.join(out_dir, "stream"))
        q.awaitTermination()
        assert _persisted_rdd_ids(spark) - before == set()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_validate_source_dir(spark, nt_dir):
    with pytest.raises(FileNotFoundError):
        jobs.validate_source_dir(nt_dir, require_all=True)  # only 4 of 8 files
    with pytest.raises(FileNotFoundError):
        jobs.validate_source_dir(tempfile.mkdtemp(prefix="empty_"), require_all=False)
    assert len(jobs.validate_source_dir(nt_dir, require_all=False)) == 4


def test_overwrite_semantics(spark, nt_dir):
    """S8 — a second run replaces the target (drop-and-recreate)."""
    out_dir = tempfile.mkdtemp(prefix="fast_out2_")
    try:
        jobs.run_ingest(spark, nt_dir, out_dir)
        n1 = spark.read.parquet(os.path.join(out_dir, "fast")).count()
        jobs.run_ingest(spark, nt_dir, out_dir)
        n2 = spark.read.parquet(os.path.join(out_dir, "fast")).count()
        assert n1 == n2  # idempotent, not appended
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_streaming_ingest_matches_batch(spark, nt_dir):
    """run_ingest_streaming over the same files == batch run_ingest."""
    out_b = tempfile.mkdtemp(prefix="fast_batch_")
    out_s = tempfile.mkdtemp(prefix="fast_stream_")
    try:
        jobs.run_ingest(spark, nt_dir, out_b)
        q = jobs.run_ingest_streaming(spark, nt_dir, out_s)
        q.awaitTermination()
        batch = spark.read.parquet(os.path.join(out_b, "fast"))
        streamed = spark.read.parquet(os.path.join(out_s, "fast"))
        assert _freeze(streamed.collect()) == _freeze(batch.collect())
    finally:
        shutil.rmtree(out_b, ignore_errors=True)
        shutil.rmtree(out_s, ignore_errors=True)


def test_run_curation_end_to_end(spark):
    out_dir = tempfile.mkdtemp(prefix="curation_")
    try:
        metrics = jobs.run_curation(
            spark, "/root/testdata/sf0.001", out_dir, target_file_bytes=10 * 1024 * 1024
        )
        assert 0 < metrics["n_curated"] < metrics["n_input"]
        corpus = spark.read.parquet(os.path.join(out_dir, "corpus"))
        decisions = spark.read.parquet(os.path.join(out_dir, "decisions"))
        assert corpus.count() == metrics["n_curated"] == decisions.count()
        # curated corpus carries full doc rows + cluster lineage
        assert {"doc_id", "text", "cluster_id"} <= set(corpus.columns)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_run_curation_gate_rejects_broken_input(spark, tmp_path):
    bad_dir = str(tmp_path)
    docs = spark.createDataFrame(
        [(1, "some text"), (1, "duplicate id"), (None, "null id")],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(os.path.join(bad_dir, "documents.parquet"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="constraint violations"):
        jobs.run_curation(spark, bad_dir, str(tmp_path / "out"))


def test_streaming_ingest_checkpoint_restart_is_incremental(spark):
    """A checkpointed restart processes ONLY newly-arrived files.

    Discriminating fixture: file 1 gives id 77 altLabel 'Alpha'; file 2
    (delivered after run 1) re-dumps id 77 with altLabel 'Beta'. The
    foreachBatch upsert REPLACES a doc whose _id reappears, so:
      * incremental restart (file 2 alone in batch 2) -> altLabel ['Beta']
      * full reprocess (both files in one batch)      -> per-file merge
        would union to ['Alpha', 'Beta']
    Asserting exactly ['Beta'] proves file 1 was not re-read."""
    base = tempfile.mkdtemp(prefix="fast_ckpt_")
    nt = os.path.join(base, "nt")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(nt)
    fast = "http://id.worldcat.org/fast"
    alt = "http://www.w3.org/2004/02/skos/core#altLabel"
    pref = "http://www.w3.org/2004/02/skos/core#prefLabel"
    try:
        with open(os.path.join(nt, "FASTTopical.nt"), "w") as f:
            f.write(f'<{fast}/77> <{pref}> "Thing" .\n')
            f.write(f'<{fast}/77> <{alt}> "Alpha" .\n')
        q = jobs.run_ingest_streaming(spark, nt, out, checkpoint_dir=ckpt)
        q.awaitTermination()
        t1 = {r["_id"]: r for r in spark.read.parquet(os.path.join(out, "fast")).collect()}
        assert list(t1[77]["altLabel"]) == ["Alpha"]

        with open(os.path.join(nt, "FASTTopical2.nt"), "w") as f:
            f.write(f'<{fast}/77> <{pref}> "Thing" .\n')
            f.write(f'<{fast}/77> <{alt}> "Beta" .\n')
            f.write(f'<{fast}/88> <{pref}> "Other" .\n')
        q = jobs.run_ingest_streaming(spark, nt, out, checkpoint_dir=ckpt)
        q.awaitTermination()
        t2 = {r["_id"]: r for r in spark.read.parquet(os.path.join(out, "fast")).collect()}
        assert set(t2) == {77, 88}
        assert list(t2[77]["altLabel"]) == ["Beta"], (
            "file 1 was reprocessed on restart"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
