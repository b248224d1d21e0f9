"""Log-structured segment merging + delete tombstones.

Reference:
* `IndexMerger` (/root/reference/src/indexer/merger.rs:515-546) — k-way
  merges segments: remaps doc ids, unions fieldnorms, drops deleted docs.
* `LogMergePolicy` (/root/reference/src/indexer/log_merge_policy.rs:9-16)
  — groups segments into exponential size layers; merges a layer when it
  holds >= min_num_segments; defaults: level_log_size 0.75, min_layer_size
  10_000, min_num_segments 8, max_docs_before_merge 10_000_000,
  del_docs_ratio_before_merge 1.0.
* Deletes (/root/reference/src/indexer/index_writer.rs:732,
  src/fastfield/alive_bitset.rs) — `delete_term` tombstones every doc
  containing the term; queries see an alive bitset; merges physically drop
  dead docs.

Spark-first mapping: a merge is a job over the docmap partitions of the
input segments — re-sort by the stable key, assign new dense doc ids,
write the merged docmap partition, then encode its postings in one task
with the build's own per-segment encoder (tantivy's merger reuses the
PostingsSerializer the same way), and swap the segment set in the
manifest (written last = the atomic commit).  Tombstones are a tiny
parquet of terms; the deleted-doc set is resolved by a pruned postings
scan and anti-joined (TAAT) or numpy-excluded (DAAT kernel) at query
time, exactly the alive-bitset role.

Scale: one merge touches only its input segments' partitions (partition
pruning on segment_ord); concurrent merges of disjoint layers are
independent jobs.  The merged segment's postings encode is the build's
per-segment task, so one task holds one merged segment — the bound every
build already has (max_docs_before_merge caps it at 10M docs — int32
doc-id-safe).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tantivy_spark.config import IndexConfig
from tantivy_spark.operators.build import (
    MANIFEST_NAME,
    TERMS_DIR,
    encode_segment,
    load_manifest,
    next_segment_ord,
    write_terms,
)

TOMBSTONES_DIR = "tombstones"


# --------------------------------------------------------------------------
# LogMergePolicy (log_merge_policy.rs arithmetic)
# --------------------------------------------------------------------------

class LogMergePolicy:
    def __init__(self, min_num_segments: int = 8,
                 max_docs_before_merge: int = 10_000_000,
                 min_layer_size: int = 10_000,
                 level_log_size: float = 0.75,
                 del_docs_ratio_before_merge: float = 1.0):
        self.min_num_segments = min_num_segments
        self.max_docs_before_merge = max_docs_before_merge
        self.min_layer_size = min_layer_size
        self.level_log_size = level_log_size
        self.del_docs_ratio_before_merge = del_docs_ratio_before_merge

    def compute_merge_candidates(self, segments: list[dict]) -> list[list[int]]:
        """segments: manifest dicts with segment_ord, n_docs (+ n_deleted).
        Returns lists of segment_ords to merge (one list per candidate) —
        the layer-grouping walk of log_merge_policy.rs compute_merge_candidates."""
        eligible = sorted(
            (s for s in segments if s["n_docs"] <= self.max_docs_before_merge),
            key=lambda s: -s["n_docs"],
        )
        if not eligible:
            return []
        # chunk_by on a rolling log2 level (log_merge_policy.rs:110-122):
        # a segment starts a new level when its (clipped) log2 size drops
        # more than level_log_size below the current level's anchor
        current_max_log_size = float("inf")
        levels: list[list[dict]] = []
        for s in eligible:
            log_size = math.log2(max(self.min_layer_size, s["n_docs"], 1))
            if log_size < current_max_log_size - self.level_log_size:
                current_max_log_size = log_size
                levels.append([])
            levels[-1].append(s)
        out = []
        for level in levels:
            high_deletes = any(
                s.get("n_deleted", 0) / max(s["n_docs"], 1)
                > self.del_docs_ratio_before_merge
                for s in level
            )
            if len(level) >= self.min_num_segments or high_deletes:
                out.append([s["segment_ord"] for s in level])
        return out


# --------------------------------------------------------------------------
# tombstone deletes
# --------------------------------------------------------------------------

def delete_term(spark: SparkSession, index_dir: str, term: str) -> None:
    """Tombstone every doc containing `term` (index_writer.rs:732 shape:
    the tombstone is by-term; materialization happens at query/merge)."""
    path = os.path.join(index_dir, TOMBSTONES_DIR)
    df = spark.createDataFrame([(term, time.time())], "term string, ts double")
    df.coalesce(1).write.mode("append").parquet(path)


def tombstoned_terms(index_dir: str) -> list[str]:
    """Pending delete-term tombstones, distinct and sorted: a driver-side
    pyarrow read of the tiny tombstone table, no Spark job.  Shared by
    the distributed Searcher and the serving reader."""
    path = os.path.join(index_dir, TOMBSTONES_DIR)
    if not os.path.isdir(path):
        return []
    t = pq.read_table(path, columns=["term"])
    return sorted(set(t.column("term").to_pylist()))


TOMBSTONES_DOCS_DIR = "tombstones_docs"
#: marker created inside the ".rewrite" staging dir AFTER its parquet
#: write completes; its presence is what makes the rewrite swap
#: recoverable (see tombstones_docs_path)
_REWRITE_DONE = "_REWRITE_COMPLETE"


def tombstones_docs_path(index_dir: str) -> str:
    """Path of the address-tombstone table, completing an interrupted
    rewrite swap first: a crash in `_rewrite_doc_tombstones` between
    removing the source dir and renaming the staged rewrite into place
    would otherwise silently lose every pending tombstone for unmerged
    segments (deleted docs reappearing in queries).  Every reader and
    appender resolves the path through here."""
    path = os.path.join(index_dir, TOMBSTONES_DOCS_DIR)
    tmp = path + ".rewrite"
    if (not os.path.isdir(path)
            and os.path.isfile(os.path.join(tmp, _REWRITE_DONE))):
        os.rename(tmp, path)
    return path


def has_doc_tombstones(index_dir: str) -> bool:
    """Cheap no-deletes guard: a filesystem check on the address
    tombstone table, no Spark job."""
    p = tombstones_docs_path(index_dir)
    return os.path.isdir(p) and any(
        f.endswith(".parquet") for f in os.listdir(p))


def delete_by_address(spark: SparkSession, index_dir: str,
                      addresses: list[tuple[int, int]]) -> None:
    """Tombstone explicit (segment_ord, doc_id) addresses
    (index_writer.rs:762 delete_by_address).  Materialized addresses
    give opstamp-like semantics: docs appended later are unaffected."""
    if not addresses:
        return
    path = tombstones_docs_path(index_dir)
    ts = time.time()
    df = spark.createDataFrame(
        [(int(s), int(d), ts) for s, d in addresses],
        "segment_ord int, doc_id int, ts double")
    df.coalesce(1).write.mode("append").parquet(path)


def delete_query(spark: SparkSession, index_dir: str, query) -> int:
    """Tombstone every doc matching `query` (index_writer.rs:750
    delete_query): evaluate the query un-scored against the current
    searcher snapshot and record the matching addresses with a
    DISTRIBUTED write — a hot-term delete matching 10^7 docs never
    lands on the driver (the matched count is the only scalar that
    does).  Returns the number of docs tombstoned."""
    from pyspark.sql import functions as F

    from tantivy_spark.operators.search import Searcher

    matches = (
        Searcher(spark, index_dir)
        .top_docs_frame(query, k=None, mode="taat64")
        .select(F.col("segment_ord").cast("int"),
                F.col("doc_id").cast("int"))
        .distinct()
        .withColumn("ts", F.lit(float(time.time())))
        .persist()
    )
    n = matches.count()
    if n:
        matches.write.mode("append").parquet(tombstones_docs_path(index_dir))
    matches.unpersist()
    return n


def doc_tombstones(spark: SparkSession, index_dir: str
                   ) -> list[tuple[int, int]]:
    path = tombstones_docs_path(index_dir)
    if not os.path.exists(path):
        return []
    return sorted(
        (r["segment_ord"], r["doc_id"])
        for r in spark.read.parquet(path)
        .select("segment_ord", "doc_id").distinct().collect())


def _rewrite_doc_tombstones(spark: SparkSession, index_dir: str,
                            drop_segments: set[int]) -> None:
    """Drop tombstone rows consumed by a merge (their doc ids were
    remapped into the new segment and physically dropped).  Distributed
    filter + rewrite-then-swap: the surviving tombstones never pass
    through the driver."""
    from pyspark.sql import functions as F

    path = tombstones_docs_path(index_dir)
    if not os.path.exists(path):
        return
    kept = spark.read.parquet(path).filter(
        ~F.col("segment_ord").isin(sorted(drop_segments)))
    if kept.isEmpty():
        shutil.rmtree(path)
        return
    tmp = path + ".rewrite"
    shutil.rmtree(tmp, ignore_errors=True)
    kept.write.parquet(tmp)     # materialize before dropping the source
    # marker LAST: a crash between the rmtree and the rename below is
    # recovered by tombstones_docs_path (marker present => tmp complete)
    with open(os.path.join(tmp, _REWRITE_DONE), "w"):
        pass
    shutil.rmtree(path)
    os.rename(tmp, path)
    # best-effort: drop the marker from the live dir (Spark/pyarrow
    # ignore "_"-prefixed files either way)
    try:
        os.unlink(os.path.join(path, _REWRITE_DONE))
    except OSError:
        pass


def delete_all_documents(spark: SparkSession, index_dir: str) -> None:
    """Remove every segment at commit (index_writer.rs:551
    delete_all_documents): an atomic manifest rewrite with an empty
    segment list — readers prune by the manifest's live-segment set, so
    the data files become invisible orphans until garbage_collect."""
    manifest = load_manifest(index_dir)
    # the ords of the dropped segments stay taken: their files remain
    manifest["next_segment_ord"] = next_segment_ord(index_dir, manifest)
    manifest["segments"] = []
    manifest["total_docs"] = 0
    manifest["total_tokens"] = 0
    manifest["field_tokens"] = {k: 0 for k in manifest.get("field_tokens", {})}
    tmp = os.path.join(index_dir, MANIFEST_NAME + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(index_dir, MANIFEST_NAME))
    for d in (TOMBSTONES_DIR, TOMBSTONES_DOCS_DIR,
              TOMBSTONES_DOCS_DIR + ".rewrite"):
        shutil.rmtree(os.path.join(index_dir, d), ignore_errors=True)


# --------------------------------------------------------------------------
# segment merging
# --------------------------------------------------------------------------

def merge_segments(spark: SparkSession, index_dir: str,
                   segment_ords: list[int] | None = None,
                   drop_deleted: bool = True) -> dict:
    """Merge the given segments (default: all) into one new segment.

    The merged segment takes the index's next unused ord; docs re-sorted
    by the stable key (the index-sorting invariant), dense ids
    reassigned, deleted docs physically dropped (merger.rs drop-deleted
    semantics), postings re-encoded.  Manifest rewritten LAST (atomic
    commit protocol).
    """
    from tantivy_spark.operators.search import Searcher

    manifest = load_manifest(index_dir)
    cfg = IndexConfig.from_json_dict(manifest["config"])
    all_ords = [s["segment_ord"] for s in manifest["segments"]]
    if segment_ords is None:
        segment_ords = all_ords
    new_ord = next_segment_ord(index_dir, manifest)

    docmap_path = os.path.join(index_dir, "docmap")
    postings_path = os.path.join(index_dir, "postings")

    dm = spark.read.parquet(docmap_path).filter(
        F.col("segment_ord").isin(segment_ords)
    )

    # physically drop tombstoned docs — one DISTRIBUTED left_anti join
    # against Searcher.dead_docs_df (address tombstones UNION docs of
    # tombstoned terms), so a merge after a hot-term delete_query that
    # tombstoned 10^7 docs never collects or broadcasts the dead set
    # (nothing proportional to |dead| touches the driver).
    had_doc_tombs = False
    if drop_deleted:
        searcher = Searcher(spark, index_dir)
        had_doc_tombs = searcher.has_doc_tombstones()
        dead = searcher.dead_docs_df()
        if dead is not None:
            dm = dm.join(dead, ["segment_ord", "doc_id"], "left_anti")

    # Re-assign dense doc ids in stable key order within the merged
    # segment — DISTRIBUTED: a global row_number window would pull the
    # whole merged segment through one task.  Instead: range-partition by
    # the stable key (global order = partition order), count rows per
    # partition (a tiny driver-side prefix sum — n_partitions entries),
    # then doc_id = partition offset + within-partition rank.  The ids
    # depend only on the key order, so the assignment is deterministic
    # regardless of partition boundaries.
    key_order = [F.col(c) for c in cfg.key_cols]
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    part_sorted = (
        dm.drop("segment_ord", "doc_id")
        .repartitionByRange(n_parts, *key_order)
        .withColumn("__pid", F.spark_partition_id())
        # pin the (sampled) range boundaries so the count pass and the
        # id-assignment pass see identical partitioning
        .persist()
    )
    counts = {
        int(r["__pid"]): int(r["c"])
        for r in part_sorted.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("c")).collect()
    }
    offs, acc = {}, 0
    for pid in sorted(counts):
        offs[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(
        *[F.lit(x) for pid in sorted(offs) for x in (pid, offs[pid])]
    )
    w = Window.partitionBy("__pid").orderBy(*key_order)
    merged = (
        part_sorted
        .withColumn(
            "doc_id",
            (off_map[F.col("__pid")] + F.row_number().over(w) - 1).cast("int"),
        )
        .withColumn("segment_ord", F.lit(new_ord).cast("int"))
        .drop("__pid")
    )

    # write the merged segment's docmap partition (append)
    merged.sortWithinPartitions("doc_id").write.mode("append").partitionBy(
        "segment_ord"
    ).parquet(docmap_path)
    part_sorted.unpersist()

    # the merged segment's postings (+ its term-dictionary slice when the
    # index has the table): the build's per-segment encoder in one task
    terms_path = os.path.join(index_dir, TERMS_DIR)
    new_entry = encode_segment(
        spark, docmap_path, new_ord, postings_path, cfg,
        terms_path if os.path.exists(terms_path) else None)
    new_entry["merged_from"] = sorted(segment_ords)

    # swap the segment set; manifest written last = commit (end_merge)
    kept = [s for s in manifest["segments"] if s["segment_ord"] not in segment_ords]
    kept.append(new_entry)
    manifest["segments"] = sorted(kept, key=lambda s: s["segment_ord"])
    manifest["next_segment_ord"] = new_ord + 1
    manifest["total_docs"] = int(sum(s["n_docs"] for s in manifest["segments"]))
    manifest["total_tokens"] = int(sum(s["n_tokens"] for s in manifest["segments"]))
    if cfg.extra_fields:
        # per-field exact totals must track physically-dropped docs so
        # scoped-term avgdl stays exact after merges (bm25.rs:33-51)
        manifest["field_tokens"] = {
            f: int(sum(s["field_tokens"][f] for s in manifest["segments"]))
            for f in cfg.extra_fields
        }
    tmp = os.path.join(index_dir, MANIFEST_NAME + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(index_dir, MANIFEST_NAME))

    # tombstone rows for merged-away segments are consumed (their docs
    # were remapped/dropped); clearing them is idempotent best-effort —
    # stale rows for dead segments are harmless no-ops for readers
    if had_doc_tombs:
        _rewrite_doc_tombstones(spark, index_dir, set(segment_ords))

    # old segment files are now orphans (GC'able, like segment_updater's
    # garbage_collect_files); leave them — readers pin the manifest
    return manifest


def garbage_collect(spark: SparkSession, index_dir: str,
                    rewrite_postings: bool = False) -> dict:
    """Remove files belonging to merged-away segments — the
    garbage_collect_files role (segment_updater.rs): safe because readers
    pin the manifest and the manifest no longer references those segments.

    docmap partitions are per-segment directories -> deleted directly.
    postings files mix segments within a tbucket dir, so reclaiming them
    requires a rewrite (`rewrite_postings=True`): read live rows, write a
    fresh table, swap directories.  At scale run this with the compaction
    cadence, not per-merge.
    """
    import shutil as _sh

    manifest = load_manifest(index_dir)
    live = {int(s["segment_ord"]) for s in manifest["segments"]}
    removed = []
    docmap_path = os.path.join(index_dir, "docmap")
    for name in os.listdir(docmap_path):
        if name.startswith("segment_ord="):
            ord_ = int(name.split("=", 1)[1])
            if ord_ not in live:
                _sh.rmtree(os.path.join(docmap_path, name), ignore_errors=True)
                removed.append(ord_)

    rewrote = False
    postings_path = os.path.join(index_dir, "postings")
    if rewrite_postings:
        df = spark.read.parquet(postings_path).filter(
            F.col("segment_ord").isin(sorted(live))
        )
        tmp = postings_path + ".gc"
        _sh.rmtree(tmp, ignore_errors=True)
        (
            df.repartition(
                max(8, spark.sparkContext.defaultParallelism), "tbucket", "term"
            )
            .sortWithinPartitions("tbucket", "term", "segment_ord")
            .write.mode("overwrite").partitionBy("tbucket").parquet(tmp)
        )
        old = postings_path + ".old"
        os.rename(postings_path, old)
        os.rename(tmp, postings_path)
        _sh.rmtree(old, ignore_errors=True)
        rewrote = True
        # the term dict mirrors the postings table — rewrite it too
        terms_path = os.path.join(index_dir, TERMS_DIR)
        if os.path.exists(terms_path):
            ttmp = terms_path + ".gc"
            _sh.rmtree(ttmp, ignore_errors=True)
            write_terms(spark, spark.read.parquet(postings_path), ttmp)
            told = terms_path + ".old"
            os.rename(terms_path, told)
            os.rename(ttmp, terms_path)
            _sh.rmtree(told, ignore_errors=True)
    return {"removed_docmap_segments": sorted(removed),
            "postings_rewritten": rewrote}


def maybe_merge(spark: SparkSession, index_dir: str,
                policy: LogMergePolicy | None = None) -> list[list[int]]:
    """Run the merge policy over the manifest and execute each candidate —
    the consider_merge_options / end_merge loop (segment_updater.rs:756,805)."""
    policy = policy or LogMergePolicy()
    manifest = load_manifest(index_dir)
    candidates = policy.compute_merge_candidates(manifest["segments"])
    for ords in candidates:
        merge_segments(spark, index_dir, ords)
    return candidates
