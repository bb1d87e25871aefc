"""The full FAST ingest job — the engine's equivalent of the reference's
``require('ingest-fast').ingest(callback)`` entry point
(reference index.js:3-12, lib/ingest.js:15-95).

Topology replacement (SURVEY.md §3.1):
  * the reference forks one OS process per file with IPC work assignment
    (reference lib/ingest.js:68-95); here ALL files are ONE
    ``spark.read.text`` scan, tagged per-row with the authority type via
    ``input_file_name()`` — Spark's task scheduler replaces the cluster
    module, and adding files scales the scan, not the process count;
  * the FASTTermEvent double-read (reference lib/ingest.js:58,197) is
    gone: each run parses every file once into persisted ``filter_triples``
    records, and both sinks (the Event file feeds both) read that one
    frame, which the run releases before it returns;
  * Mongo collections become parquet tables written with
    ``mode('overwrite')`` (S8 drop-and-recreate semantics,
    reference lib/ingest.js:63-66);
  * the reference's IPC progress counters (A8,
    reference lib/ingest.js:77-84) become ``observe()`` metrics returned
    to the caller.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.fast_pipeline import (
    FILE_TYPES,
    VIAF_ONLY_TYPES,
    build_fast_table_tagged,
    build_viaf_updates_tagged,
    filter_triples,
    topical_records,
    type_from_filename,
)
from .session import apply_runtime_confs
from .sources.nt import parse_nt_lines

# The reference's expected work list (reference lib/ingest.js:42-58).
EXPECTED_FILES = tuple(f"{stem}.nt" for stem in FILE_TYPES)


def validate_source_dir(data_dir: str, require_all: bool = True) -> list[str]:
    """S5 — assert the expected NT files exist before starting
    (reference lib/ingest.js:42-55 statSync-checks all 7)."""
    present = [
        os.path.join(data_dir, f)
        for f in EXPECTED_FILES
        if os.path.exists(os.path.join(data_dir, f))
    ]
    if require_all and len(present) != len(EXPECTED_FILES):
        missing = sorted(set(EXPECTED_FILES) - {os.path.basename(p) for p in present})
        raise FileNotFoundError(f"missing FAST source files in {data_dir}: {missing}")
    if not present:
        raise FileNotFoundError(f"no FAST*.nt files in {data_dir}")
    return present


def _tagged_records(lines: DataFrame) -> DataFrame:
    """Raw NT lines (batch or stream) → ``filter_triples`` records that
    keep the per-row ``branch`` tag (S1/S2 + the type-from-filename rule,
    reference lib/ingest.js:201-210)."""
    tagged = lines.withColumn("branch", type_from_filename(F.input_file_name()))
    return filter_triples(parse_nt_lines(tagged, keep=("branch",)), keep=("branch",))


# run_ingest builds every plan through scan_tagged_triples,
# build_fast_table_tagged and build_viaf_updates_tagged: perfbench/run.py
# wraps these three names to trace plan construction.
def scan_tagged_triples(spark: SparkSession, paths: list[str]) -> DataFrame:
    """ONE scan over every source file → tagged ``filter_triples`` records,
    persisted so that both sinks share one parse. The caller owns the
    cache and must ``unpersist`` it."""
    records = _tagged_records(spark.read.text(paths))
    return records.persist(StorageLevel.MEMORY_AND_DISK)


def run_ingest(
    spark: SparkSession,
    data_dir: str,
    out_dir: str,
    viaf: DataFrame | None = None,
    require_all_files: bool = False,
) -> dict:
    """Run the complete ingest: scan → both pipeline branches → parquet
    sinks. Returns the observed counters (A8).

    ``viaf`` is the pre-existing viaf table to enrich (the reference
    queries and mutates a live collection, reference lib/ingest.js:108-128);
    when provided, the updated table is written to ``out_dir/viaf``.
    """
    apply_runtime_confs(spark)
    paths = validate_source_dir(data_dir, require_all=require_all_files)
    if viaf is None:
        # Without the viaf branch the Corporate/Personal files feed no
        # sink; leave them out of the scan rather than parse and cache them.
        paths = [
            p for p in paths
            if FILE_TYPES[os.path.basename(p)[: -len(".nt")]] not in VIAF_ONLY_TYPES
        ]
    records = scan_tagged_triples(spark, paths)
    try:
        fast_obs = Observation("fast_metrics")
        fast_docs = build_fast_table_tagged(records).observe(
            fast_obs,
            F.count(F.lit(1)).alias("n_fast_docs"),
            # DISTINCT aggregates are disallowed in observed metrics; the
            # HLL sketch is exact at this cardinality (8 type names).
            F.approx_count_distinct("type").alias("n_types"),
        )
        fast_docs.write.mode("overwrite").parquet(os.path.join(out_dir, "fast"))
        metrics = dict(fast_obs.get)

        # Agent/VIAF branch (§3.3).
        if viaf is not None:
            viaf_obs = Observation("viaf_metrics")
            updated = build_viaf_updates_tagged(records, viaf).observe(
                viaf_obs, F.count(F.lit(1)).alias("n_viaf_docs")
            )
            updated.write.mode("overwrite").parquet(os.path.join(out_dir, "viaf"))
            metrics.update(viaf_obs.get)
    finally:
        records.unpersist()
    return metrics


def run_ingest_streaming(
    spark: SparkSession,
    data_dir: str,
    out_dir: str,
    glob: str = "FAST*.nt",
    checkpoint_dir: str | None = None,
):
    """Incremental FAST ingest: readStream over the NT directory; each
    micro-batch of newly-arrived files runs the SAME fused pipeline and
    is merged into the fast table by _id (foreachBatch upsert — new docs
    replace old versions of the same id).

    This is the unbounded-variant of run_ingest: drop new FAST dump files
    into ``data_dir`` and the table converges without a full recompute of
    unchanged ids' inputs (each file is self-contained per the reference's
    one-type-per-file layout). Returns the StreamingQuery handle.

    ``checkpoint_dir`` makes restarts INCREMENTAL: the file-source offsets
    persist, so a relaunch processes only files that arrived since the
    last run (tests/test_jobs.py pins this). Without it every AvailableNow
    run re-reads the whole directory — correct (the upsert converges to
    the same table) but O(corpus) per restart instead of O(delta).

    Each micro-batch persists its records (read by the doc aggregate and
    the broadcast label side) and the merged table (which must be
    materialized before the write replaces the files it reads), and
    releases both before it returns.
    """
    apply_runtime_confs(spark)
    lines = (
        spark.readStream.format("text")
        .option("pathGlobFilter", glob)
        .load(data_dir)
    )
    topical = topical_records(_tagged_records(lines))
    target = os.path.join(out_dir, "fast")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        records = batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            if not records.take(1):
                return
            sess = records.sparkSession
            new_docs = build_fast_table_tagged(records)
            try:
                existing = sess.read.parquet(target)
            except Exception:
                existing = None
            if existing is not None:
                merged = existing.join(
                    new_docs.select("_id"), "_id", "left_anti"
                ).unionByName(new_docs)
            else:
                merged = new_docs
            merged = merged.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                merged.count()
                merged.write.mode("overwrite").parquet(target)
            finally:
                merged.unpersist()
        finally:
            records.unpersist()

    writer = (
        topical.writeStream.foreachBatch(merge_batch)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def run_curation(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    quality_min: float = 0.75,
    min_tokens: int = 20,
    lang: str = "en",
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """The full corpus-curation batch job, gate to sink:

      1. input CONSTRAINT GATE (operators/quality.py): doc_id non-null and
         unique, text non-null — hard-fails on violations rather than
         propagating broken rows downstream;
      2. CURATE (operators/curation.py): quality/language/length filters,
         survivor near-dup clustering, canonical selection;
      3. WRITE the curated corpus (full doc rows of the canonical set)
         size-targeted (sources/layout.py) plus the curation decisions
         table for lineage/audit.

    Returns run metrics {n_input, n_curated, files_written}.
    """
    import os

    from .catalog import load_table
    from .operators import quality as Q
    from .operators.curation import curate_documents
    from .sources.layout import write_sized

    apply_runtime_confs(spark)
    docs = load_table(spark, sf_dir, "documents")

    gate = {
        r["rule"]: r["violations"]
        for r in Q.quality_report(
            docs,
            scalar_rules=[Q.not_null("doc_id"), Q.not_null("text")],
            unique=[["doc_id"]],
        ).collect()
    }
    broken = {rule: n for rule, n in gate.items() if n > 0}
    if broken:
        raise ValueError(f"input constraint violations: {broken}")

    curated = curate_documents(
        docs, quality_min=quality_min, min_tokens=min_tokens, lang=lang
    ).localCheckpoint(eager=True)
    corpus = docs.join(curated.select("doc_id", "cluster_id"), "doc_id")

    # size_hint: the curated corpus is a SUBSET of docs plus one long
    # column, and the docs scan estimate is accurate where the join
    # product is fiction (Catalyst multiplied it to ~4 TB for 366 rows,
    # which wrote 100,000 near-empty files — see sources/layout.py).
    from .sources.layout import estimated_bytes

    n_files = write_sized(
        corpus,
        os.path.join(out_dir, "corpus"),
        target_file_bytes=target_file_bytes,
        size_hint_bytes=estimated_bytes(docs),
    )
    curated.write.mode("overwrite").parquet(os.path.join(out_dir, "decisions"))
    return {
        "n_input": docs.count(),
        "n_curated": curated.count(),
        "files_written": n_files,
    }
