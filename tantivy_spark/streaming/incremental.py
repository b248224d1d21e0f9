"""Incremental indexing via Structured Streaming.

The reference has no streaming operators — it is a batch micro-commit
engine: add_document -> commit -> readers reload (ARCHITECTURE.md:55-66,
src/reader/mod.rs:21-30).  The Spark-native analogue maps a streaming
micro-batch to one commit: each `foreachBatch` invocation appends new
segments (one per batch partition on the fused default path — tantivy's
multi-segment commit, where every worker thread seals its own segment;
one combined segment when the pandas analyzer runs) and atomically
rewrites the manifest — the same files-then-meta.json protocol as the
batch build.
Merge pressure from many small segments is handled by the LogMergePolicy
compaction job (operators/merge.py), tantivy's merge-thread role.

Scale: each micro-batch job is an independent bounded build; segment ords
grow monotonically; readers pin a manifest snapshot, so concurrent queries
never see a half-committed batch.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from tantivy_spark.config import IndexConfig
from tantivy_spark.operators.build import (
    MANIFEST_NAME,
    TERMS_DIR,
    build_docmap,
    encode_segment,
    load_manifest,
    next_segment_ord,
)


def _append_segment(spark: SparkSession, batch_df: DataFrame, index_dir: str,
                    cfg: IndexConfig,
                    manifest_extra: dict | None = None) -> dict:
    """Index one micro-batch as new segment(s); returns the new manifest.

    When the arrow kernel applies the batch takes the fused shuffle-free
    pass (one segment per batch partition, `build.build_fused_input`
    append mode); otherwise the pandas analyzer writes one combined
    docmap partition and the build's per-segment encoder writes its
    postings and term-dictionary slice.

    `manifest_extra` entries are stamped into the manifest TOP LEVEL in
    the same atomic commit — callers that need commit evidence that
    survives later manifest rewrites (compaction/deletes preserve
    unknown keys) record it here; `sync_index` stamps its crash-recovery
    nonce this way."""
    docmap_path = os.path.join(index_dir, "docmap")
    postings_path = os.path.join(index_dir, "postings")
    try:
        manifest = load_manifest(index_dir)
        next_ord = next_segment_ord(index_dir, manifest)
    except FileNotFoundError:
        os.makedirs(index_dir, exist_ok=True)
        manifest = {
            "format_version": 1,
            "terms_table": True,
            "config": json.loads(cfg.to_json()),
            "total_docs": 0,
            "total_tokens": 0,
            "segments": [],
            "streaming": True,
        }
        next_ord = 0

    terms_path = os.path.join(index_dir, TERMS_DIR)
    if cfg.uses_arrow_kernel():
        # fused append commit: the batch's partitions become new
        # segments in ONE shuffle-free pass (tantivy's multi-segment
        # commit — every worker thread seals its own segment,
        # index_writer.rs); docmap/postings/terms files land under new
        # segment ords, existing files untouched, manifest-last below
        from tantivy_spark.operators.build import build_fused_input

        new_entries = build_fused_input(
            spark, batch_df, docmap_path, postings_path, terms_path, cfg,
            seg_offset=next_ord, append=True)
    else:
        docmap = build_docmap(spark, batch_df, cfg,
                              fixed_segment_ord=next_ord)
        docmap.sortWithinPartitions("doc_id").write.mode(
            "append").partitionBy("segment_ord").parquet(docmap_path)
        new_entries = [encode_segment(spark, docmap_path, next_ord,
                                      postings_path, cfg, terms_path)]
    now = time.time()
    for e in new_entries:
        e["committed_at"] = now
    manifest["next_segment_ord"] = 1 + max(
        [next_ord - 1] + [e["segment_ord"] for e in new_entries])
    manifest["segments"].extend(new_entries)
    manifest["total_docs"] = int(sum(s["n_docs"] for s in manifest["segments"]))
    manifest["total_tokens"] = int(
        sum(s["n_tokens"] for s in manifest["segments"])
    )
    if cfg.extra_fields:
        manifest["field_tokens"] = {
            f: int(sum(s["field_tokens"][f] for s in manifest["segments"]))
            for f in cfg.extra_fields
        }
    if manifest_extra:
        manifest.update(manifest_extra)
    tmp = os.path.join(index_dir, MANIFEST_NAME + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(index_dir, MANIFEST_NAME))  # atomic commit
    return manifest


def index_stream(stream_df: DataFrame, index_dir: str,
                 cfg: IndexConfig | None = None,
                 checkpoint_dir: str | None = None,
                 available_now: bool = True):
    """Attach the incremental indexer to a streaming DataFrame.

    Returns the StreamingQuery.  With `available_now` the query drains all
    currently-available input then stops (the batch-commit lifecycle);
    otherwise it keeps committing a segment per micro-batch.
    """
    cfg = cfg or IndexConfig()
    checkpoint_dir = checkpoint_dir or os.path.join(index_dir, "_checkpoints")

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        _append_segment(batch_df.sparkSession, batch_df, index_dir, cfg)

    writer = stream_df.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
