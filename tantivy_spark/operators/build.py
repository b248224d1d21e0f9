"""Index build — the distributed analogue of tantivy's write path.

tantivy: IndexWriter worker threads each build an independent immutable
segment (dense per-segment doc ids, in-arena term -> postings buffers),
then serialize sorted postings in 128-doc blocks and atomically commit a
meta.json (/root/reference/src/indexer/index_writer.rs,
segment_writer.rs:221-330, postings/serializer.rs:314-497,
segment_updater.rs:511).

Spark-first mapping (NOT a port — see SURVEY.md §3.1):

  stage 1 ``docmap``   tokenize once (vectorized Arrow kernel, or the
                       pandas analyzer for non-default chains), assign
                       each doc a dense per-segment doc_id by the stable
                       (conv_id, turn_idx) order, quantize fieldnorms.
                       Written partitioned by segment_ord — the per-segment
                       "segment files" and the tokenize checkpoint.
  stage 2 ``postings`` one task per segment reads its docmap partition,
                       encodes ALL of the segment's postings in one
                       vectorized pass (`_encode_segment_arrow`: rank-code
                       terms, lexsort (term, doc), 128-doc block encode)
                       and writes them as term-bucket files
                       ``tbucket=B/seg<ord>.parquet``, term-sorted (parquet
                       min/max stats play tantivy's term-dict FST role;
                       the tbucket dir plays term partition pruning),
                       plus the segment's slice of the term dictionary.
                       The build, the append commit and the merge all
                       write postings through this one encoder
                       (`_encode_write_segment`), like tantivy's
                       SegmentWriter -> PostingsSerializer, whose merger
                       reuses the same serializer.
  stage 3 ``manifest`` per-segment lineage/metrics + global stats + config,
                       written LAST — the atomic-meta.json commit protocol
                       (ARCHITECTURE.md:53).

Skew strategy (north-rule requirement): segments are the salt.  A
Zipf-hot term gets exactly one encoded row per (term, segment), and a
segment contributes at most one posting per doc, so no task ever holds
more than one segment's worth of one term; the postings step has no
shuffle at all.  At 10^12 turns: n_segments ≈ corpus/2M docs (or the
input split size bounds a segment), n_term_buckets 256+.

Resumability: each stage writes its table idempotently (overwrite) and then
drops a ``_done_<stage>`` marker; ``build_index(resume=True)`` skips stages
whose marker exists.  The manifest (with per-segment lineage: docs
tokenized, tokens, postings emitted, terms) commits last.
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tantivy_spark.config import IndexConfig
from tantivy_spark.functions import analysis
from tantivy_spark.functions.fieldnorm import fieldnorm_to_id
from tantivy_spark.operators import blocks

MANIFEST_NAME = "manifest.json"
TERMS_DIR = "terms"

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("segment_ord", T.IntegerType()),
        T.StructField("doc_freq", T.LongType()),
        T.StructField("sum_tf", T.LongType()),
        T.StructField("max_tf", T.LongType()),
        T.StructField("doc_enc", T.BinaryType()),
        T.StructField("tf_enc", T.BinaryType()),
        T.StructField("fnorm_enc", T.BinaryType()),
        T.StructField("block_last", T.ArrayType(T.LongType())),
        T.StructField("block_doc_off", T.ArrayType(T.IntegerType())),
        T.StructField("block_tf_off", T.ArrayType(T.IntegerType())),
        T.StructField("bm_norm_id", T.ArrayType(T.IntegerType())),
        T.StructField("bm_tf", T.ArrayType(T.IntegerType())),
        T.StructField("pos_enc", T.BinaryType(), nullable=True),
        T.StructField("pos_off", T.ArrayType(T.IntegerType()), nullable=True),
        T.StructField("tbucket", T.IntegerType()),
    ]
)


#: encoded-row schema: POSTINGS_SCHEMA minus tbucket — the bucket is the
#: partition directory each row is written under.
POSTINGS_ENC_SCHEMA = T.StructType(
    [f for f in POSTINGS_SCHEMA.fields if f.name != "tbucket"]
)


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side term -> partition bucket; must equal the crc32 the
    segment encoder buckets its rows by at write time."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_buckets


def _tokenize_arrow(base: DataFrame, text_col: str,
                    extra_fields: tuple[str, ...] = (),
                    positions: bool = False) -> DataFrame:
    """Stage-1 tokenize as a vectorized-numpy mapInArrow stage (default
    chain, single or multi field, with or without positions) — the scale
    hot path.

    The kernel (functions/arrow_tokenize.py) runs ~12x faster per core
    than a regex engine (java.util.regex or RE2), so the Arrow
    serialization boundary is a net win; output columns and values
    match the pandas path exactly (tests/test_arrow_tokenize.py pins
    the kernel per-codepoint and the docmap frames against each other).

    Multi-field output follows the pandas path's combined contract:
    scoped ``f:token`` terms appended after the main field's, `term_fns`
    carrying each token's own field's quantized norm, per-field
    `xf_tc_/xf_fn_` scalars.  Extra fields are cast to string in the
    Spark plan (Catalyst's cast semantics, as the pandas path sees
    them) before crossing into Arrow.
    """
    for f in extra_fields:
        base = base.withColumn(f, F.col(f).cast("string"))
    passthrough = [f.name for f in base.schema.fields if f.name != text_col]
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in base.schema.fields if f.name != text_col)
    out_schema = f"{out_fields}, terms array<string>"
    if positions:
        out_schema += ", positions array<int>"
    out_schema += ", token_count int, fieldnorm_id int"
    if extra_fields:
        out_schema += ", term_fns array<int>"
        for f in extra_fields:
            out_schema += f", xf_tc_{f} int, xf_fn_{f} int"

    def tok_batches(it):
        for batch in it:
            yield _arrow_tok_batch(batch, text_col, passthrough,
                                   extra_fields, positions)

    return base.mapInArrow(tok_batches, schema=out_schema)


def _arrow_tok_batch(batch, text_col: str, passthrough: list[str],
                     extra_fields: tuple[str, ...], positions: bool):
    """One Arrow batch through the vectorized default-analyzer kernel:
    passthrough columns + terms [+ positions] + token_count +
    fieldnorm_id [+ term_fns + per-field xf_tc_/xf_fn_ scalars] — the
    shared kernel of `_tokenize_arrow` (DataFrame path) and
    `build_docmap_segment_files` (direct-IO path)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from tantivy_spark.functions.arrow_tokenize import (
        concat_list_rows, tokenize_default_arrow)
    from tantivy_spark.functions.fieldnorm import fieldnorm_to_id

    def _tok(col):
        if positions:
            return tokenize_default_arrow(col, positions=True)
        return tokenize_default_arrow(col), None

    cols = {name: batch.column(name) for name in batch.schema.names}
    names = list(passthrough)
    arrays = [cols[n] for n in passthrough]
    toks, poss = _tok(cols[text_col])
    counts = np.diff(np.asarray(toks.offsets, dtype=np.int64))
    fn_ids = fieldnorm_to_id(counts).astype(np.int32)
    if not extra_fields:
        names += ["terms"] + (["positions"] if positions else [])
        arrays += [toks] + ([poss] if positions else [])
        arrays += [pa.array(counts.astype(np.int32)),
                   pa.array(fn_ids)]
        names += ["token_count", "fieldnorm_id"]
        return pa.RecordBatch.from_arrays(arrays, names)
    tok_arrs, pos_arrs = [toks], [poss]
    fn_flats = [np.repeat(fn_ids, counts)]
    xf_scalar_cols = []
    for f in extra_fields:
        xtoks, xposs = _tok(cols[f])
        xcounts = np.diff(np.asarray(xtoks.offsets, dtype=np.int64))
        xfn = fieldnorm_to_id(xcounts).astype(np.int32)
        scoped = pa.ListArray.from_arrays(
            xtoks.offsets,
            pc.binary_join_element_wise(
                pa.scalar(f + ":"), xtoks.values, pa.scalar("")))
        tok_arrs.append(scoped)
        pos_arrs.append(xposs)
        fn_flats.append(np.repeat(xfn, xcounts))
        xf_scalar_cols.append(
            (f, pa.array(xcounts.astype(np.int32)), pa.array(xfn)))
    comb_off, perm = concat_list_rows(tok_arrs)
    off_arr = pa.array(comb_off)
    flat = pa.concat_arrays(
        [t.values.cast(pa.string()) for t in tok_arrs]
    ).take(pa.array(perm))
    names += ["terms"]
    arrays += [pa.ListArray.from_arrays(off_arr, flat)]
    if positions:
        pos_flat = np.concatenate(
            [np.asarray(p.values, dtype=np.int32)
             for p in pos_arrs])[perm]
        names += ["positions"]
        arrays += [pa.ListArray.from_arrays(
            off_arr, pa.array(pos_flat, type=pa.int32()))]
    arrays += [pa.array(counts.astype(np.int32)), pa.array(fn_ids)]
    names += ["token_count", "fieldnorm_id"]
    fns_flat = np.concatenate(fn_flats)[perm].astype(np.int32)
    arrays += [pa.ListArray.from_arrays(off_arr, pa.array(fns_flat))]
    names += ["term_fns"]
    for f, tc, fn in xf_scalar_cols:
        arrays += [tc, fn]
        names += [f"xf_tc_{f}", f"xf_fn_{f}"]
    return pa.RecordBatch.from_arrays(arrays, names)


def _marker(index_dir: str, stage: str) -> str:
    return os.path.join(index_dir, f"_done_{stage}")


def _stage_done(index_dir: str, stage: str) -> bool:
    return os.path.exists(_marker(index_dir, stage))


def _mark_done(index_dir: str, stage: str) -> None:
    os.makedirs(index_dir, exist_ok=True)
    with open(_marker(index_dir, stage), "w") as f:
        f.write(str(time.time()))


# --------------------------------------------------------------------------
# stage 1: docmap (tokenize + dense per-segment doc ids + fieldnorms)
# --------------------------------------------------------------------------

def _docmap_base(source: DataFrame, cfg: IndexConfig,
                 fixed_segment_ord: int | None):
    """Shared stage-1 prep: segment assignment, DateOptions truncation,
    and the deterministic within-segment sort order.  Returns
    (frame with segment_ord, order columns)."""
    if fixed_segment_ord is not None:
        seg = F.lit(int(fixed_segment_ord)).cast("int")
    else:
        seg = F.pmod(F.xxhash64(F.col(cfg.segment_col)),
                     F.lit(cfg.n_segments)).cast("int")
    # keep ALL non-text source columns: the docmap doubles as the fast-field
    # column store (parquet is already columnar+bitpacked — the reference's
    # .fast file role, ARCHITECTURE.md:161-166)
    base = source.withColumn("segment_ord", seg)

    if cfg.date_precision is not None:
        # DateOptions fast-field truncation (date_time_options.rs
        # DateTimePrecision): applied at index time to every timestamp
        # column riding into the docmap's fast-field store
        prec = cfg.date_precision
        if prec not in ("seconds", "milliseconds", "microseconds"):
            raise ValueError(f"unknown date_precision {prec!r}")
        for f_ in base.schema.fields:
            if f_.dataType.simpleString() != "timestamp":
                continue
            col = F.col(f_.name)
            if prec == "seconds":
                trunc = F.date_trunc("second", col)
            elif prec == "milliseconds":
                trunc = F.timestamp_micros(
                    (F.unix_micros(col) / 1000).cast("long") * 1000)
            else:  # microseconds — parquet native precision
                trunc = col
            base = base.withColumn(f_.name, trunc)

    # index sorting (index_meta.rs:288-398): optional fast-field order
    # first, key_cols as the deterministic tiebreak
    order = [F.col(c) for c in cfg.key_cols]
    if cfg.sort_by_field is not None:
        fld, direction = cfg.sort_by_field
        lead = F.col(fld).desc() if direction == "desc" else F.col(fld).asc()
        order = [lead] + order
    return base, order


def _check_reserved(source: DataFrame) -> None:
    _check_reserved_names(source.columns)


def _check_reserved_names(columns) -> None:
    reserved = {"doc_id", "segment_ord", "fieldnorm_id", "terms",
                "token_count", "positions", "term_fns", "__pid"}
    clash = reserved & set(columns)
    if clash:
        # a source column with an internal docmap name would be silently
        # overwritten by the build (and break the merge remap later)
        raise ValueError(
            f"source columns {sorted(clash)} collide with reserved "
            "internal docmap column names — rename them before indexing")


def _spark_mmh3_int(i: int, seed: int = 42) -> int:
    """Spark's Murmur3Hash of one IntegerType value (Murmur3_x86_32
    hashInt, seed 42) — what HashPartitioning/`F.hash` compute.  Pure
    Python so partition placement can be planned driver-side without a
    probe job; parity with F.hash is pinned in tests."""
    def rotl(x, r):
        return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF

    k = (i & 0xFFFFFFFF) * 0xCC9E2D51 & 0xFFFFFFFF
    k = rotl(k, 15) * 0x1B873593 & 0xFFFFFFFF
    h = seed ^ k
    h = (rotl(h, 13) * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # byte length of one int
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


_PID_CACHE: dict[tuple[int, int], list[int]] = {}


def _placement_values(n_segments: int, n_part: int) -> list[int]:
    """Per-segment int v such that pmod(murmur3(v), n_part) ==
    segment_ord % n_part: repartitioning on a `__pid` column holding
    these values places each segment in its own partition (round-robin
    when n_segments > n_part).

    Why: `repartition(n, segment_ord)` throws n_segments balls into n
    bins — with 32 segments and 64 partitions the loaded bins hold 2-3
    whole segments, a 2-3x straggler for every post-shuffle stage
    (measured: fused stage 1 scaled 2->8 cores at 0.52 under that skew,
    0.8+ balanced).  Crafting the partition key makes the placement
    exact; determinism is preserved (the search is deterministic)."""
    key = (n_segments, n_part)
    if key not in _PID_CACHE:
        vals, v = [], 0
        for seg in range(n_segments):
            target = seg % n_part
            while _spark_mmh3_int(v) % n_part != target:
                v += 1
            vals.append(v)
            v += 1
        _PID_CACHE[key] = vals
    return _PID_CACHE[key]


def build_docmap_segment_files(spark: SparkSession, source: DataFrame,
                               docmap_path: str, cfg: IndexConfig) -> None:
    """Stage 1 with direct file IO — the hash-mode hot path whenever
    `cfg.uses_arrow_kernel()`.

    The DataFrame path tokenizes BEFORE the segment shuffle, so token
    arrays ride the exchange, get sorted twice (the id window + the
    writer's partition sort), cross Python->JVM a second time, and are
    row-encoded by the JVM parquet writer.  Here the pipeline is
    reordered so tokens never leave the Python worker that produced
    them:

        exchange raw TEXT rows by segment_ord
          -> sortWithinPartitions(segment_ord, <order>)     (text rows)
          -> ONE mapInArrow pass: tokenize batch, assign dense
             per-segment doc ids (runs are contiguous after the sort),
             write docmap parquet with pyarrow, per (partition, segment)
          -> tiny per-file summary rows back to the driver

    Determinism is the same contract as `build_docmap`: every row of a
    segment hash-lands in exactly one partition, the within-partition
    sort is on the same (sort_by_field?, key_cols) order, and ids count
    runs in that order — two builds at any parallelism produce identical
    ids (pinned by tests/test_arrow_tokenize.py's docmap-equality check).

    Scale shape: the ONLY shuffle of the entire build moves raw text
    once; stage 1 and stage 2 are otherwise direct-IO passes.  Requires
    `docmap_path` reachable from executors (the same property the
    per-segment postings encode assumes); task retries overwrite
    their own deterministic filenames idempotently.
    """
    import shutil

    _check_reserved(source)
    base, order = _docmap_base(source, cfg, None)
    text_col = cfg.text_col
    extra_fields = tuple(cfg.extra_fields)
    positions = cfg.positions
    for f in extra_fields:
        base = base.withColumn(f, F.col(f).cast("string"))
    passthrough = [f.name for f in base.schema.fields
                   if f.name not in (text_col, "segment_ord")]

    if os.path.exists(docmap_path):
        shutil.rmtree(docmap_path)
    os.makedirs(docmap_path, exist_ok=True)

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # exact segment -> partition placement (see _placement_values): the
    # exchange key is a crafted per-segment literal, so every partition
    # receives exactly ceil(n_segments / n_part) whole segments
    place = _placement_values(cfg.n_segments, n_part)
    base = base.withColumn(
        "__pid",
        F.element_at(F.array(*[F.lit(v) for v in place]),
                     F.col("segment_ord") + 1))

    def write_batches(it):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        pid = TaskContext.get().partitionId()
        writer = None           # open ParquetWriter for the current segment
        cur_seg = None
        next_id = 0             # dense doc id within the current segment
        rows_out: dict[int, int] = {}

        def close_writer():
            nonlocal writer
            if writer is not None:
                writer.close()
                writer = None

        for batch in it:
            if batch.num_rows == 0:
                continue
            segs = batch.column("segment_ord").to_numpy(zero_copy_only=False)
            tok = _arrow_tok_batch(batch, text_col,
                                   passthrough + ["segment_ord"],
                                   extra_fields, positions)
            # contiguous per-segment runs (sorted within the partition)
            bounds = np.flatnonzero(np.diff(segs)) + 1
            starts = np.concatenate(([0], bounds))
            stops = np.concatenate((bounds, [len(segs)]))
            for s, e in zip(starts, stops):
                seg = int(segs[s])
                if seg != cur_seg:
                    close_writer()
                    cur_seg = seg
                    next_id = 0
                sl = tok.slice(int(s), int(e - s))
                ids = pa.array(
                    np.arange(next_id, next_id + len(sl), dtype=np.int32))
                next_id += len(sl)
                out = pa.Table.from_batches([sl]).drop_columns(
                    ["segment_ord"]).append_column("doc_id", ids)
                if writer is None:
                    seg_dir = os.path.join(docmap_path, f"segment_ord={seg}")
                    os.makedirs(seg_dir, exist_ok=True)
                    writer = pq.ParquetWriter(
                        os.path.join(seg_dir, f"part-{pid:05d}.parquet"),
                        out.schema)
                writer.write_table(out)
                rows_out[seg] = rows_out.get(seg, 0) + len(sl)
        close_writer()
        if rows_out:
            yield pa.RecordBatch.from_arrays(
                [pa.array(sorted(rows_out), type=pa.int32()),
                 pa.array([rows_out[k] for k in sorted(rows_out)],
                          type=pa.int64())],
                ["segment_ord", "n_docs"])

    (
        base.repartition(n_part, "__pid").drop("__pid")
        .sortWithinPartitions(F.col("segment_ord").asc(), *order)
        .mapInArrow(write_batches, schema="segment_ord int, n_docs long")
        .collect()
    )


def build_fused_input(spark: SparkSession, source: DataFrame,
                      docmap_path: str, postings_path: str,
                      terms_path: str, cfg: IndexConfig,
                      seg_offset: int = 0,
                      append: bool = False) -> list[dict]:
    """The whole build as ONE shuffle-free mapInArrow pass —
    ``segment_assignment="input"``.

    This is the reference's actual IndexWriter dataflow
    (index_writer.rs: worker threads pull arriving documents and each
    fills its own segment in arrival order; doc ids are ingestion
    order): one Spark task per INPUT partition tokenizes its rows,
    writes the segment's docmap parquet as it streams, then encodes the
    segment's complete postings and writes the term-bucket files and
    the term-dictionary slice — tokens never cross a shuffle, never
    re-enter the JVM, and the docmap is never re-read.  The "hash" mode
    keeps the content-deterministic assignment (one raw-text exchange);
    this mode's layout is deterministic given the input partitioning
    and — because there is no exchange — independent of executor count
    by construction, which is exactly the N-vs-4N-identical-output
    property the scaling criterion wants.

    Scale shape: at 100 TB each task owns one input split (bounded by
    spark.sql.files.maxPartitionBytes, so per-task memory is bounded by
    the split size, not corpus/n_segments) and the job is a pure map —
    no exchange to skew, nothing to salt.  Segment count = input split
    count; the LogMergePolicy compacts small segments afterwards, like
    the reference.

    Returns per-segment lineage metrics (same rows `_segment_task`
    produces), collected through the mapInArrow output — stage 3 needs
    no stats jobs.
    """
    import shutil

    _check_reserved(source)
    base, order = _docmap_base(source, cfg, fixed_segment_ord=0)
    base = base.drop("segment_ord")
    if cfg.sort_by_field is not None:
        # index sorting needs a within-segment order; a local sort has no
        # exchange, so the pass stays shuffle-free
        base = base.sortWithinPartitions(*order)
    text_col = cfg.text_col
    extra_fields = tuple(cfg.extra_fields)
    positions = cfg.positions
    basic = cfg.record == "basic"
    multi = bool(extra_fields)
    nb = cfg.n_term_buckets
    for f in extra_fields:
        base = base.withColumn(f, F.col(f).cast("string"))
    passthrough = [f.name for f in base.schema.fields if f.name != text_col]

    for p in (docmap_path, postings_path, terms_path):
        if not append and os.path.exists(p):
            shutil.rmtree(p)
        os.makedirs(p, exist_ok=True)

    enc_cols = ["doc_id", "fieldnorm_id", "terms", "token_count"]
    if positions:
        enc_cols.append("positions")
    if multi:
        enc_cols.append("term_fns")
    enc_cols += [f"xf_tc_{f}" for f in extra_fields]

    metrics_schema = ("segment_ord int, n_docs long, n_tokens long, "
                      "n_terms long, n_postings long")
    metrics_schema += "".join(
        f", xf_tokens_{f} long" for f in extra_fields)

    def fused(it):
        import pyarrow as pa
        from pyspark import TaskContext

        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        # seg_offset supports APPEND commits (streaming/incremental):
        # the batch's partitions become new segments above the existing
        # ords — tantivy's multi-segment commit (one segment per worker
        # thread per commit, index_writer.rs)
        seg = seg_offset + TaskContext.get().partitionId()
        m = _fused_segment_core(it, seg, text_col, passthrough,
                                extra_fields, positions, multi, basic, nb,
                                docmap_path, postings_path, terms_path,
                                enc_cols)
        if m is None:
            return  # empty input partition -> no segment
        arrays = [
            pa.array([m["segment_ord"]], type=pa.int32()),
            pa.array([m["n_docs"]], type=pa.int64()),
            pa.array([m["n_tokens"]], type=pa.int64()),
            pa.array([m["n_terms"]], type=pa.int64()),
            pa.array([m["n_postings"]], type=pa.int64()),
        ]
        names = ["segment_ord", "n_docs", "n_tokens", "n_terms",
                 "n_postings"]
        for f in extra_fields:
            arrays.append(
                pa.array([m["field_tokens"][f]], type=pa.int64()))
            names.append(f"xf_tokens_{f}")
        yield pa.RecordBatch.from_arrays(arrays, names)

    rows = base.mapInArrow(fused, schema=metrics_schema).collect()
    metrics = []
    for r in rows:
        m = {
            "segment_ord": int(r["segment_ord"]),
            "n_docs": int(r["n_docs"]),
            "n_tokens": int(r["n_tokens"]),
            "n_terms": int(r["n_terms"]),
            "n_postings": int(r["n_postings"]),
        }
        if extra_fields:
            m["field_tokens"] = {
                f: int(r[f"xf_tokens_{f}"]) for f in extra_fields}
        metrics.append(m)
    return metrics


def _fused_segment_core(batches, seg: int, text_col: str,
                        passthrough: list[str],
                        extra_fields: tuple[str, ...], positions: bool,
                        multi: bool, basic: bool, nb: int,
                        docmap_path: str, postings_path: str,
                        terms_path: str, enc_cols: list[str]) -> dict | None:
    """One segment through the fused build: stream Arrow batches ->
    tokenize -> write the docmap parquet incrementally -> encode the
    segment's postings + terms slice; returns lineage metrics (None for
    an empty input).  Shared by `build_fused_input` (mapInArrow over a
    DataFrame) and `build_fused_input_files` (direct parquet-split
    reads)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    writer = None
    next_id = 0
    kept: list = []
    for batch in batches:
        if batch.num_rows == 0:
            continue
        tok = _arrow_tok_batch(batch, text_col, passthrough,
                               extra_fields, positions)
        ids = pa.array(
            np.arange(next_id, next_id + tok.num_rows, dtype=np.int32))
        next_id += tok.num_rows
        out = pa.Table.from_batches([tok]).append_column("doc_id", ids)
        if writer is None:
            seg_dir = os.path.join(docmap_path, f"segment_ord={seg}")
            os.makedirs(seg_dir, exist_ok=True)
            # deterministic filename: task retries overwrite
            # idempotently (same property as the other direct-IO paths)
            writer = pq.ParquetWriter(
                os.path.join(seg_dir, "part-00000.parquet"), out.schema)
        writer.write_table(out)
        # retain only the encode columns — the passthrough/fast-field
        # columns are already on disk and not needed for postings
        kept.append(out.select(enc_cols))
    if writer is None:
        return None
    writer.close()
    t = pa.concat_tables(kept).combine_chunks()
    return _encode_write_segment(t, seg, postings_path, nb, positions,
                                 multi, extra_fields, terms_path, basic)


def _validate_direct_source(splits: list[tuple], cfg: IndexConfig):
    """Validate config against the parquet footer schema BEFORE any
    destructive cleanup: a typo'd text_col / reserved-name collision
    must not destroy a previously built index on its way to the error.
    Returns (arrow schema, passthrough column list)."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    text_col = cfg.text_col
    _schema = _pq.ParquetFile(splits[0][0]).schema_arrow
    schema_names = _schema.names
    if text_col not in schema_names:
        raise ValueError(f"text_col {text_col!r} not in {schema_names}")
    _check_reserved_names(schema_names)
    for f in cfg.extra_fields:
        if f not in schema_names:
            raise ValueError(f"extra_field {f!r} not in {schema_names}")
        if not (_pa.types.is_string(_schema.field(f).type)
                or _pa.types.is_large_string(_schema.field(f).type)):
            # Arrow's and Catalyst's to-string casts render doubles /
            # timestamps differently (e.g. '1' vs '1.0'), so the direct
            # path would index different term bytes than build_index.
            # Refuse, like the other restrictions on this path.
            raise ValueError(
                f"build_index_direct requires string extra_fields; "
                f"{f!r} is {_schema.field(f).type} — cast it to string "
                "in the source, or use the DataFrame build "
                "(segment_assignment='input'), which casts in Catalyst")
    return _schema, [n for n in schema_names if n != text_col]


def _normalize_direct_batch(b, extra_fields: tuple[str, ...]):
    """Per-batch input normalization shared by the direct-IO builds:
    ns-timestamps -> Spark's micros (INT96/nanos parquet reads as
    timestamp[ns], which Spark can't read back from the docmap) and
    extra fields -> string (mirroring the DataFrame path's Catalyst
    cast so term bytes match)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = {n: b.column(n) for n in b.schema.names}
    changed = False
    for n, c in cols.items():
        if pa.types.is_timestamp(c.type) and c.type.unit == "ns":
            cols[n] = pc.cast(c, pa.timestamp("us", tz=c.type.tz))
            changed = True
    for f in extra_fields:
        if not pa.types.is_string(cols[f].type):
            cols[f] = pc.cast(cols[f], pa.string())
            changed = True
    if changed:
        b = pa.RecordBatch.from_arrays(
            [cols[n] for n in b.schema.names], list(b.schema.names))
    return b


def plan_parquet_splits(src_path: str | list,
                        split_bytes: int = 128 << 20,
                        snapshot_id: int | None = None) -> list[tuple]:
    """Driver-side split planning for the direct-IO fused build: walk the
    parquet footers (metadata only — no data read) and greedily pack
    row groups into splits of <= ``split_bytes`` (uncompressed), the
    same role as Spark's maxPartitionBytes.  Returns
    [(file, (row_group_idx, ...)), ...] in deterministic (file, order)
    order — the split list IS the segment list, independent of cluster
    size by construction.

    ``src_path`` may be a parquet file, a directory of parquet files, a
    pre-resolved list of files, or an **Iceberg table** directory
    (detected by ``metadata/*.metadata.json``) — Iceberg sources plan
    over the pinned snapshot's live data files (``snapshot_id=None`` =
    current), resolved with zero JVM via `sources/iceberg.py`."""
    import glob as _glob

    import pyarrow.parquet as pq

    if isinstance(src_path, (list, tuple)):
        files = sorted(src_path)
    elif os.path.isdir(src_path) and _glob.glob(
            os.path.join(src_path, "metadata", "*.metadata.json")):
        from ..sources.iceberg import IcebergTable

        tbl = IcebergTable(src_path)
        if tbl.delete_files(snapshot_id):
            # splits read data files as-is — they cannot apply v2
            # deletes; silently indexing deleted rows would be worse
            # than refusing (build_index_direct detects this case first
            # and falls back to the delete-applying DataFrame build)
            raise NotImplementedError(
                "this iceberg snapshot carries v2 delete files; direct "
                "split planning cannot apply them — use "
                "build_index_direct (it falls back to the DataFrame "
                "build) or read_table")
        files = [f["path"] for f in tbl.data_files(snapshot_id)]
        if not files:
            raise ValueError(
                f"iceberg table {src_path!r} has no data files at "
                f"snapshot {snapshot_id if snapshot_id is not None else 'current'}")
    elif os.path.isdir(src_path):
        # recursive: nested directory layouts are planned over all files.
        # CAVEAT: a Hive-partitioned dataset whose partition-key values
        # exist ONLY in directory names loses those columns on this path
        # (files are read as-is) — use the DataFrame build for such
        # sources, or write the keys into the files
        files = sorted(_glob.glob(os.path.join(src_path, "**", "*.parquet"),
                                  recursive=True))
    else:
        files = [src_path]
    if not files:
        raise ValueError(f"no parquet files under {src_path!r}")
    splits: list[tuple] = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        cur: list[int] = []
        cur_bytes = 0
        for i in range(md.num_row_groups):
            b = md.row_group(i).total_byte_size
            if cur and cur_bytes + b > split_bytes:
                splits.append((f, tuple(cur)))
                cur, cur_bytes = [], 0
            cur.append(i)
            cur_bytes += b
        if cur:
            splits.append((f, tuple(cur)))
    return splits


def build_fused_input_files(spark: SparkSession, src_path: str,
                            docmap_path: str, postings_path: str,
                            terms_path: str, cfg: IndexConfig,
                            split_bytes: int = 128 << 20,
                            batch_rows: int = 65536,
                            lineage_dir: str | None = None,
                            resume: bool = False,
                            snapshot_id: int | None = None) -> list[dict]:
    """The fused build with DIRECT parquet reads — the fully JVM-free
    data path (``build_index_direct``).

    `build_fused_input` already removed every shuffle; its remaining
    per-core tax is the JVM feed (block-manager / ColumnarToRow / Arrow
    IPC into the Python worker), which is also the single shared JVM's
    scaling drag on one box.  Here the driver plans row-group splits
    from the parquet footers (`plan_parquet_splits`) and each Spark task
    reads its own split with pyarrow directly — bytes go disk ->
    pyarrow -> numpy kernel -> parquet out, never touching the JVM.
    Spark provides scheduling, retries and lineage only — exactly the
    role it plays in the stage-2 direct-IO postings build.

    Segment = planned split: deterministic given the input files
    (footer metadata), independent of executor count, size bounded by
    ``split_bytes``.  At 100 TB this is the object-store pattern
    (pyarrow.fs reads s3://... the same way).

    Restrictions (clear errors, not silent fallbacks): the arrow kernel
    must apply (like segment_assignment="input"); date_precision
    and sort_by_field are not supported on this path — use
    `build_fused_input` (the DataFrame variant applies them in
    Catalyst)."""
    import shutil

    if cfg.date_precision is not None or cfg.sort_by_field is not None:
        raise ValueError(
            "build_index_direct does not support date_precision / "
            "sort_by_field — use the DataFrame build (segment_assignment="
            "'input'), which applies them in Catalyst")
    text_col = cfg.text_col
    extra_fields = tuple(cfg.extra_fields)
    positions = cfg.positions
    basic = cfg.record == "basic"
    multi = bool(extra_fields)
    nb = cfg.n_term_buckets

    splits = plan_parquet_splits(src_path, split_bytes, snapshot_id)
    _schema, passthrough = _validate_direct_source(splits, cfg)
    # per-SPLIT checkpoints (the north rule's "resumable from
    # per-partition checkpoints with lineage and metrics recorded per
    # task"): each completed split writes an atomic lineage marker with
    # its metrics; a resume with the SAME plan (files + config, pinned
    # by plan_sig) skips completed splits and re-runs only the rest.  A
    # changed plan invalidates everything (outputs are split-keyed).
    import hashlib

    plan_sig = hashlib.sha256(
        (repr(splits) + cfg.to_json() + str(split_bytes)).encode()
    ).hexdigest()
    plan_file = (os.path.join(lineage_dir, "plan.json")
                 if lineage_dir else None)
    keep_outputs = False
    if resume and plan_file and os.path.exists(plan_file):
        with open(plan_file) as f:
            keep_outputs = json.load(f).get("plan_sig") == plan_sig
    for p in (docmap_path, postings_path, terms_path):
        if not keep_outputs and os.path.exists(p):
            shutil.rmtree(p)
        os.makedirs(p, exist_ok=True)
    if lineage_dir:
        if not keep_outputs and os.path.exists(lineage_dir):
            shutil.rmtree(lineage_dir)
        os.makedirs(lineage_dir, exist_ok=True)
        tmp = plan_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"plan_sig": plan_sig, "n_splits": len(splits)}, f)
        os.replace(tmp, plan_file)
    resume_ok = keep_outputs

    enc_cols = ["doc_id", "fieldnorm_id", "terms", "token_count"]
    if positions:
        enc_cols.append("positions")
    if multi:
        enc_cols.append("term_fns")
    enc_cols += [f"xf_tc_{f}" for f in extra_fields]

    def split_task(item):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        sid, (fname, rgs) = item
        marker = (os.path.join(lineage_dir, f"seg_{sid}.json")
                  if lineage_dir else None)
        if resume_ok and marker and os.path.exists(marker):
            with open(marker) as f:
                return json.load(f)  # split already committed — skip

        def batches():
            pf = pq.ParquetFile(fname)
            for b in pf.iter_batches(batch_size=batch_rows,
                                     row_groups=list(rgs)):
                yield _normalize_direct_batch(b, extra_fields)

        m = _fused_segment_core(batches(), sid, text_col, passthrough,
                                extra_fields, positions, multi, basic,
                                nb, docmap_path, postings_path,
                                terms_path, enc_cols)
        if marker is not None:
            # lineage marker LAST, atomically: a task that dies mid-write
            # leaves no marker, so its retry (or a resume) redoes the
            # split and overwrites its deterministic filenames
            tmpm = marker + ".tmp"
            with open(tmpm, "w") as f:
                json.dump(m, f)
            os.replace(tmpm, marker)
        return m

    metrics = (
        spark.sparkContext.parallelize(list(enumerate(splits)), len(splits))
        .map(split_task)
        .collect()
    )
    return [m for m in metrics if m is not None]


def build_fused_hash_files(spark: SparkSession, src_path: str,
                           docmap_path: str, postings_path: str,
                           terms_path: str, cfg: IndexConfig,
                           split_bytes: int = 128 << 20,
                           batch_rows: int = 65536,
                           lineage_dir: str | None = None,
                           resume: bool = False,
                           staging_dir: str | None = None,
                           snapshot_id: int | None = None) -> list[dict]:
    """Content-deterministic (hash-assigned) segments through the
    direct-IO dataflow — the scale-safe replacement for the Catalyst
    hash mode's raw-text exchange+sort (measured 15-90 MB/s at 32
    cores with volatile scaling: every text byte crosses the JVM row
    machinery once).  Two map-only phases, a file-based shuffle in
    between:

      * **Phase A (one task per planned split)**: read the split with
        pyarrow, compute each row's segment as
        ``pmod(xxhash64(segment_col), n_segments)`` — bit-identical to
        Catalyst's assignment (`functions/xxhash64.py`, parity-pinned
        vs `F.xxhash64`) — and write the rows re-bucketed as
        ``staging/seg={s}/split-{sid}.parquet``.  The "shuffle" is
        parquet files on shared storage: columnar, compressed, written
        at parquet speed instead of JVM row-serialization speed.
      * **Phase B (one task per segment)**: read the segment's staged
        files, sort by ``key_cols`` (the hash mode's deterministic
        within-segment order, `_docmap_base`), and stream the sorted
        batches through the SAME `_fused_segment_core` as every other
        direct path.

    The resulting layout — doc→segment mapping AND within-segment doc
    order — is identical to `build_index(segment_assignment="hash")`
    at ANY parallelism, which is the entire point of hash mode
    (cross-cluster-size reproducibility); tests/test_hash_direct.py
    pins both the layout identity and the cross-parallelism
    bit-equality.  Resume: per-split markers for phase A, per-segment
    markers for phase B, both under the shared plan fingerprint.

    Scale notes: phase A buffers one split (<= split_bytes); phase B
    holds one segment in memory for the sort+encode — size segments
    via ``n_segments`` exactly as the fused core already requires (the
    postings encode is whole-segment).  Staged files are
    (splits x live segments); at 10^12 turns use a few hundred
    segments and object-store staging, the Hive-style dynamic
    partitioning shape."""
    import shutil

    from ..functions.xxhash64 import spark_pmod_segments

    if cfg.date_precision is not None or cfg.sort_by_field is not None:
        raise ValueError(
            "the direct hash build does not support date_precision / "
            "sort_by_field — use the DataFrame build "
            "(segment_assignment='hash'), which applies them in Catalyst")
    text_col = cfg.text_col
    extra_fields = tuple(cfg.extra_fields)
    positions = cfg.positions
    basic = cfg.record == "basic"
    multi = bool(extra_fields)
    nb = cfg.n_term_buckets
    n_segments = cfg.n_segments
    seg_col = cfg.segment_col
    key_cols = list(cfg.key_cols)

    splits = plan_parquet_splits(src_path, split_bytes, snapshot_id)
    _schema, passthrough = _validate_direct_source(splits, cfg)
    for c in (seg_col, *key_cols):
        if c not in _schema.names:
            raise ValueError(f"column {c!r} not in {_schema.names}")

    import hashlib

    staging = staging_dir or (docmap_path.rstrip("/\\") + "_staging")
    plan_sig = hashlib.sha256(
        ("hash2" + repr(splits) + cfg.to_json() + str(split_bytes)).encode()
    ).hexdigest()
    plan_file = (os.path.join(lineage_dir, "plan.json")
                 if lineage_dir else None)
    keep_outputs = False
    if resume and plan_file and os.path.exists(plan_file):
        with open(plan_file) as f:
            keep_outputs = json.load(f).get("plan_sig") == plan_sig
    for p in (docmap_path, postings_path, terms_path, staging):
        if not keep_outputs and os.path.exists(p):
            shutil.rmtree(p)
        os.makedirs(p, exist_ok=True)
    if lineage_dir:
        if not keep_outputs and os.path.exists(lineage_dir):
            shutil.rmtree(lineage_dir)
        os.makedirs(lineage_dir, exist_ok=True)
        tmp = plan_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"plan_sig": plan_sig, "n_splits": len(splits),
                       "n_segments": n_segments}, f)
        os.replace(tmp, plan_file)
    resume_ok = keep_outputs
    if resume_ok and lineage_dir:
        # staging is deleted after a SUCCESSFUL build, so a resume may
        # find bucket markers whose staged files are gone.  Any split
        # whose staged output a still-pending segment needs must
        # re-bucket: drop its marker (re-bucketing is idempotent — it
        # rewrites all of the split's seg files deterministically).
        pending = {s for s in range(n_segments)
                   if not os.path.exists(
                       os.path.join(lineage_dir, f"seg_{s}.json"))}
        for sid in range(len(splits)):
            bm = os.path.join(lineage_dir, f"bucket_{sid}.json")
            if not os.path.exists(bm):
                continue
            with open(bm) as f:
                staged = json.load(f).get("rows_per_segment", {})
            for s in staged:
                if int(s) in pending and not os.path.exists(os.path.join(
                        staging, f"seg={int(s)}",
                        f"split-{sid:05d}.parquet")):
                    os.remove(bm)
                    break

    enc_cols = ["doc_id", "fieldnorm_id", "terms", "token_count"]
    if positions:
        enc_cols.append("positions")
    if multi:
        enc_cols.append("term_fns")
    enc_cols += [f"xf_tc_{f}" for f in extra_fields]

    def bucket_task(item):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        sid, (fname, rgs) = item
        marker = (os.path.join(lineage_dir, f"bucket_{sid}.json")
                  if lineage_dir else None)
        if resume_ok and marker and os.path.exists(marker):
            return None  # split already staged

        per_seg: dict[int, list] = {}
        pf = pq.ParquetFile(fname)
        for b in pf.iter_batches(batch_size=batch_rows,
                                 row_groups=list(rgs)):
            b = _normalize_direct_batch(b, extra_fields)
            segs = spark_pmod_segments(b.column(seg_col), n_segments)
            t = pa.Table.from_batches([b])
            for s in np.unique(segs):
                per_seg.setdefault(int(s), []).append(
                    t.take(np.nonzero(segs == s)[0]))
        counts = {}
        for s, parts in per_seg.items():
            seg_dir = os.path.join(staging, f"seg={s}")
            os.makedirs(seg_dir, exist_ok=True)
            out = pa.concat_tables(parts)
            # deterministic filename: task retries overwrite idempotently
            pq.write_table(
                out, os.path.join(seg_dir, f"split-{sid:05d}.parquet"))
            counts[s] = out.num_rows
        if marker is not None:
            tmpm = marker + ".tmp"
            with open(tmpm, "w") as f:
                json.dump({"split": sid, "rows_per_segment": counts}, f)
            os.replace(tmpm, marker)
        return None

    def segment_task(s: int):
        import glob as _glob

        import pyarrow as pa
        import pyarrow.parquet as pq

        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        marker = (os.path.join(lineage_dir, f"seg_{s}.json")
                  if lineage_dir else None)
        if resume_ok and marker and os.path.exists(marker):
            with open(marker) as f:
                return json.load(f)
        files = sorted(_glob.glob(
            os.path.join(staging, f"seg={s}", "split-*.parquet")))
        if not files:
            return None  # no docs hashed into this segment
        t = pa.concat_tables(pq.read_table(f) for f in files)
        # the hash mode's deterministic within-segment order: key_cols
        # ascending (independent of which split contributed which rows,
        # so the layout is identical at any parallelism)
        t = t.sort_by([(k, "ascending") for k in key_cols])
        batches = t.combine_chunks().to_batches(max_chunksize=batch_rows)
        m = _fused_segment_core(iter(batches), s, text_col, passthrough,
                                extra_fields, positions, multi, basic,
                                nb, docmap_path, postings_path,
                                terms_path, enc_cols)
        if marker is not None and m is not None:
            tmpm = marker + ".tmp"
            with open(tmpm, "w") as f:
                json.dump(m, f)
            os.replace(tmpm, marker)
        return m

    sc = spark.sparkContext
    t_a = time.time()
    sc.parallelize(list(enumerate(splits)), len(splits)) \
        .map(bucket_task).collect()
    t_b = time.time()
    metrics = (
        sc.parallelize(list(range(n_segments)), n_segments)
        .map(segment_task)
        .collect()
    )
    t_end = time.time()
    if lineage_dir:
        # phase timing next to the plan: the file-shuffle stage (A) vs
        # the sort+encode stage (B), for the bench record / profiling
        with open(os.path.join(lineage_dir, "phases.json"), "w") as f:
            json.dump({"bucket_sec": round(t_b - t_a, 3),
                       "encode_sec": round(t_end - t_b, 3)}, f)
    shutil.rmtree(staging, ignore_errors=True)
    return [m for m in metrics if m is not None]


def build_index_direct(spark: SparkSession, src_path: str, index_dir: str,
                       cfg: IndexConfig | None = None,
                       resume: bool = False,
                       plugins: dict | None = None,
                       split_bytes: int = 128 << 20,
                       snapshot_id: int | None = None) -> dict:
    """`build_index` over a parquet path with the direct-IO fused
    dataflow (`build_fused_input_files`): one task per planned row-group
    split does tokenize -> docmap -> postings -> terms with pyarrow
    only — no shuffle, no JVM in the data path.  Same index layout,
    same manifest-last commit, same resume markers.

    ``src_path`` may also be an Iceberg table directory (see
    `plan_parquet_splits`); ``snapshot_id`` pins the snapshot to index
    (None = current) — the Searcher-session pinning SURVEY.md §2.1 maps
    to Iceberg snapshot ids.

    ``cfg.segment_assignment="hash"`` selects the two-phase direct
    hash build (`build_fused_hash_files`): content-deterministic
    segments, layout-identical to `build_index`'s hash mode, via a
    file-based re-bucketing shuffle instead of the JVM exchange.
    "auto"/"input" run the shuffle-free arrival-order pass."""
    import dataclasses
    import glob as _glob

    cfg = cfg or IndexConfig()
    # merge-on-read Iceberg tables: the direct split planner reads data
    # files as-is and cannot apply v2 delete files — route through the
    # DataFrame build over the delete-applying read (read_table), same
    # manifest/commit discipline, instead of silently indexing deleted
    # rows or refusing
    if (isinstance(src_path, str) and os.path.isdir(src_path)
            and _glob.glob(os.path.join(src_path, "metadata",
                                        "*.metadata.json"))):
        from ..sources.iceberg import IcebergTable, read_table

        if IcebergTable(src_path).delete_files(snapshot_id):
            return build_index(
                spark, read_table(spark, src_path, snapshot_id),
                index_dir, cfg, resume=resume, plugins=plugins)
    # the manifest must describe the layout actually built:
    # arrival-order input-split segments unless the caller explicitly
    # asked for content-hashed assignment
    hash_mode = cfg.segment_assignment == "hash"
    if not hash_mode:
        cfg = dataclasses.replace(cfg, segment_assignment="input")
    if cfg.record not in ("freqs", "basic"):
        raise ValueError(f"unknown record option {cfg.record!r}")
    if cfg.record == "basic" and cfg.positions:
        raise ValueError("record='basic' cannot record positions")
    if not cfg.uses_arrow_kernel():
        raise ValueError(
            "build_index_direct requires tokenizer='default' and "
            "jvm_tokenize=True (the fused single-pass path runs the "
            "arrow kernel)")
    os.makedirs(index_dir, exist_ok=True)
    docmap_path = os.path.join(index_dir, "docmap")
    postings_path = os.path.join(index_dir, "postings")
    t0 = time.time()
    stage_times: dict[str, float] = {}
    seg_metrics: list[dict] | None = None
    if not (resume and _stage_done(index_dir, "docmap")
            and _stage_done(index_dir, "postings")):
        t = time.time()
        builder = build_fused_hash_files if hash_mode \
            else build_fused_input_files
        seg_metrics = builder(
            spark, src_path, docmap_path, postings_path,
            os.path.join(index_dir, TERMS_DIR), cfg,
            split_bytes=split_bytes,
            lineage_dir=os.path.join(index_dir, "lineage"),
            resume=resume, snapshot_id=snapshot_id)
        for st in ("docmap", "postings", "terms"):
            _mark_done(index_dir, st)
        stage_times["fused_build"] = time.time() - t
    return _finish_build(spark, index_dir, docmap_path, postings_path,
                         cfg, plugins, resume, seg_metrics, t0, stage_times)


def build_docmap(spark: SparkSession, source: DataFrame, cfg: IndexConfig,
                 fixed_segment_ord: int | None = None) -> DataFrame:
    """Tokenized corpus with stable per-segment dense doc ids.

    Doc identity: tantivy assigns dense u32 doc ids in insertion order per
    segment (ARCHITECTURE.md:68-72); we assign them by the deterministic
    stable sort on key_cols within a deterministic hash-assigned segment, so
    two builds (at any parallelism) produce identical ids.

    `fixed_segment_ord` pins every doc to one segment — the incremental
    path (one segment per streaming micro-batch / commit, the reference's
    add_document -> commit -> new segment lifecycle).
    """
    tokenizer = cfg.tokenizer
    positions = cfg.positions
    extra_fields = tuple(cfg.extra_fields)
    _check_reserved(source)

    tok_schema = "terms array<string>"
    if positions:
        tok_schema += ", positions array<int>"
    tok_schema += ", token_count int, fieldnorm_id int"
    if extra_fields:
        # per-token fieldnorm (each scoped term carries ITS field's norm —
        # the reference records one fieldnorm byte per doc per field,
        # fieldnorm/writer.rs:58-95) + per-field scalar stats
        tok_schema += ", term_fns array<int>"
        for f in extra_fields:
            tok_schema += f", xf_tc_{f} int, xf_fn_{f} int"

    text_col = cfg.text_col

    def tokenize_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            texts = pdf[text_col]
            if tokenizer == "pretokenized":
                # PreTokStr (src/schema/field_type.rs PreTokenizedString,
                # src/tokenizer/tokenized_string.rs): the source column is
                # array<string> of ready tokens; the analyzer is bypassed
                # and positions are sequential token ordinals
                terms = texts.map(
                    lambda t: [str(x) for x in t] if t is not None else [])
                if positions:
                    poss = terms.map(lambda ts: list(range(len(ts))))
            elif positions:
                terms, poss = analysis.analyze_series_with_positions(texts, tokenizer)
            else:
                terms = analysis.analyze_series(texts, tokenizer)
            counts = terms.map(len).to_numpy(np.int64)
            fn_ids = fieldnorm_to_id(counts)
            out = pdf.drop(columns=[text_col])
            if extra_fields:
                # extra fields are plain strings even when the main field
                # is pretokenized — analyze them with the default chain
                xf_tok = "default" if tokenizer == "pretokenized" else tokenizer
                xf_terms, xf_poss, xf_counts, xf_fns = {}, {}, {}, {}
                for f in extra_fields:
                    col = pdf[f].astype("string").fillna("")
                    if positions:
                        ts, ps = analysis.analyze_series_with_positions(col, xf_tok)
                        xf_poss[f] = ps
                    else:
                        ts = analysis.analyze_series(col, xf_tok)
                    xf_terms[f] = ts
                    xf_counts[f] = ts.map(len).to_numpy(np.int64)
                    xf_fns[f] = np.asarray(fieldnorm_to_id(xf_counts[f]), np.int64)
                combined_terms, combined_pos, combined_fns = [], [], []
                for i in range(len(pdf)):
                    row_terms = list(terms.iloc[i])
                    row_fns = [int(fn_ids[i])] * len(row_terms)
                    row_pos = list(poss.iloc[i]) if positions else None
                    for f in extra_fields:
                        ftoks = [f"{f}:{t}" for t in xf_terms[f].iloc[i]]
                        row_terms.extend(ftoks)
                        row_fns.extend([int(xf_fns[f][i])] * len(ftoks))
                        if positions:
                            row_pos.extend(xf_poss[f].iloc[i])
                    combined_terms.append(row_terms)
                    combined_fns.append(row_fns)
                    if positions:
                        combined_pos.append(row_pos)
                out["terms"] = pd.Series(combined_terms, index=pdf.index)
                if positions:
                    out["positions"] = pd.Series(combined_pos, index=pdf.index)
                out["token_count"] = counts
                out["fieldnorm_id"] = np.asarray(fn_ids, dtype=np.int32)
                out["term_fns"] = pd.Series(combined_fns, index=pdf.index)
                for f in extra_fields:
                    out[f"xf_tc_{f}"] = xf_counts[f].astype(np.int32)
                    out[f"xf_fn_{f}"] = xf_fns[f].astype(np.int32)
            else:
                out["terms"] = terms
                if positions:
                    out["positions"] = poss
                out["token_count"] = counts
                out["fieldnorm_id"] = np.asarray(fn_ids, dtype=np.int32)
            yield out

    base, order = _docmap_base(source, cfg, fixed_segment_ord)
    w = Window.partitionBy("segment_ord").orderBy(*order)

    if cfg.uses_arrow_kernel():
        # default chain: the vectorized-numpy Arrow kernel (~12x a regex
        # engine per core; see functions/arrow_tokenize.py) — the scale
        # hot path; single or multi field, ± positions
        tokenized = _tokenize_arrow(base, text_col, extra_fields,
                                    positions=positions)
        return tokenized.withColumn(
            "doc_id", (F.row_number().over(w) - 1).cast("int"))

    passthrough = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in base.schema.fields
        if f.name != text_col
    )
    out_schema = f"{passthrough}, {tok_schema}"

    tokenized = base.mapInPandas(tokenize_batches, schema=out_schema)
    return tokenized.withColumn(
        "doc_id", (F.row_number().over(w) - 1).cast("int"))


# --------------------------------------------------------------------------
# stage 2: postings (one vectorized encode per segment)
# --------------------------------------------------------------------------

def _rank_coded_terms(str_array):
    """Dictionary-encode an Arrow string array and rank-code it so that
    ascending code == lexicographic term order (the factorize(sort=True)
    contract).  Returns (codes int64, uniq_terms sorted Arrow array)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    denc = str_array.dictionary_encode()
    idx = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    dictionary = denc.dictionary
    sort_perm = pc.array_sort_indices(dictionary).to_numpy(
        zero_copy_only=False).astype(np.int64)
    rank = np.empty(len(sort_perm), dtype=np.int64)
    rank[sort_perm] = np.arange(len(sort_perm))
    return rank[idx], dictionary.take(pa.array(sort_perm))


_ENC_ARROW_SCHEMA = None


def _postings_enc_arrow_schema():
    global _ENC_ARROW_SCHEMA
    if _ENC_ARROW_SCHEMA is None:
        from pyspark.sql.pandas.types import to_arrow_schema

        _ENC_ARROW_SCHEMA = to_arrow_schema(POSTINGS_ENC_SCHEMA)
    return _ENC_ARROW_SCHEMA


def _assemble_postings_arrow(seg, uniq_terms, enc, fn_run, term_starts,
                             pos_enc, pos_post_off, positions):
    """Per-term postings Arrow table from the flat-encoder outputs with
    ZERO per-term Python: binary columns are offset+buffer constructions
    over the global byte streams, list columns are ListArray.from_arrays
    over the flat block arrays.  (The round-2 shape — a pandas DataFrame
    with per-term bytes objects and per-term list slices — was ~80% of
    stage-2 wall time.)"""
    import pyarrow as pa

    schema = _postings_enc_arrow_schema()
    n_terms = len(uniq_terms)
    if n_terms == 0:
        return schema.empty_table()

    def binary_col(buf, off):
        return pa.Array.from_buffers(
            pa.binary(), n_terms,
            [None, pa.py_buffer(off.astype(np.int32).tobytes()),
             pa.py_buffer(buf.tobytes())],
        )

    def list_col(flat, off, typ):
        return pa.ListArray.from_arrays(
            pa.array(off.astype(np.int32), type=pa.int32()),
            pa.array(flat, type=typ),
        )

    blk_off = enc["block_offsets"]
    if positions:
        # per-posting byte offsets -> per-term byte ranges + relative lists
        pos_buf = np.frombuffer(pos_enc, dtype=np.uint8)
        post_off_ext = np.append(pos_post_off, len(pos_buf))
        term_byte_off = post_off_ext[term_starts]
        pos_enc_col = binary_col(pos_buf, term_byte_off)
        rel = (pos_post_off - np.repeat(
            term_byte_off[:-1], np.diff(term_starts))).astype(np.int32)
        pos_off_col = list_col(rel, term_starts, pa.int32())
    else:
        pos_enc_col = pa.nulls(n_terms, pa.binary())
        pos_off_col = pa.nulls(n_terms, pa.list_(pa.int32()))

    cols = [
        uniq_terms,
        pa.array(np.full(n_terms, seg, dtype=np.int32), type=pa.int32()),
        pa.array(enc["doc_freq"].astype(np.int64)),
        pa.array(enc["sum_tf"].astype(np.int64)),
        pa.array(enc["max_tf"].astype(np.int64)),
        binary_col(enc["doc_buf"], enc["doc_term_off"]),
        binary_col(enc["tf_buf"], enc["tf_term_off"]),
        binary_col(fn_run, term_starts),
        list_col(enc["block_last"].astype(np.int64), blk_off, pa.int64()),
        list_col(enc["block_doc_off"], blk_off, pa.int32()),
        list_col(enc["block_tf_off"], blk_off, pa.int32()),
        list_col(enc["bm_norm_id"], blk_off, pa.int32()),
        list_col(enc["bm_tf"], blk_off, pa.int32()),
        pos_enc_col,
        pos_off_col,
    ]
    return pa.table(dict(zip(schema.names, cols))).cast(schema)


def _encode_segment_arrow(table, positions: bool, multi_field: bool,
                          basic: bool = False):
    """Encode ALL postings of one segment in one vectorized pass — the
    reference's segment-local posting construction (SegmentWriter +
    PostingsSerializer, segment_writer.rs:221-330,
    postings_writer.rs:49-120) as an Arrow/numpy kernel: list-flatten the
    token stream (never materialized as Python objects), rank-code terms,
    lexsort (term, doc), run-length the (term, doc) runs into tfs, then
    the cross-term flat block encode."""
    if table.num_rows == 0:
        return _postings_enc_arrow_schema().empty_table()
    # NOTE: no row-level doc sort — a docmap written from several
    # partitions (a merge) reads back unordered, but the stable
    # token-grain lexsort below fully establishes
    # (term, doc, position) order on its own (doc ids are unique per row,
    # and flatten preserves each row's ascending positions), so sorting
    # the table first would just gather every term string twice.
    seg = int(table.column("segment_ord")[0].as_py())

    terms_col = table.column("terms").combine_chunks()
    offsets = terms_col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    counts = np.diff(offsets)
    if int(counts.sum()) == 0:
        return _postings_enc_arrow_schema().empty_table()
    codes, uniq_terms = _rank_coded_terms(terms_col.flatten())

    doc_rep = np.repeat(
        table.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64),
        counts,
    )
    if multi_field:
        # each token carries its own field's fieldnorm
        fn_rep = table.column("term_fns").combine_chunks().flatten().to_numpy(
            zero_copy_only=False).astype(np.int64)
    else:
        fn_rep = np.repeat(
            table.column("fieldnorm_id").to_numpy(
                zero_copy_only=False).astype(np.int64),
            counts,
        )
    pos_flat = None
    if positions:
        pos_flat = table.column("positions").combine_chunks().flatten(
        ).to_numpy(zero_copy_only=False).astype(np.int64)

    order = np.lexsort((doc_rep, codes))  # stable: positions stay doc-ordered
    c_s, d_s, f_s = codes[order], doc_rep[order], fn_rep[order]
    p_s = pos_flat[order] if positions else None

    # run boundaries of equal (term, doc) -> tf per posting
    new_run = np.empty(len(c_s), dtype=bool)
    new_run[0] = True
    np.not_equal(c_s[1:], c_s[:-1], out=new_run[1:])
    new_run[1:] |= d_s[1:] != d_s[:-1]
    run_starts = np.flatnonzero(new_run)
    tfs_all = np.diff(np.append(run_starts, len(c_s)))
    term_of_run = c_s[run_starts]
    doc_of_run = d_s[run_starts]
    fn_of_run = f_s[run_starts]
    term_starts = np.append(
        np.flatnonzero(np.diff(term_of_run, prepend=term_of_run[0] - 1)),
        len(term_of_run),
    )
    if basic:
        # IndexRecordOption::Basic — docs-only postings, tf fixed at 1
        tfs_all = np.ones_like(tfs_all)
    # one cross-term block encode + one cross-term positions encode (p_s
    # is already the per-run positions stream, lengths = tfs_all) + the
    # zero-copy Arrow assembly
    fn_u8 = np.asarray(fn_of_run, dtype=np.uint8)
    enc = blocks.encode_postings_flat(doc_of_run, tfs_all, fn_u8, term_starts)
    if positions:
        pos_enc, pos_post_off = blocks.encode_positions_flat(p_s, tfs_all)
    else:
        pos_enc, pos_post_off = b"", None
    return _assemble_postings_arrow(seg, uniq_terms, enc, fn_u8, term_starts,
                                    pos_enc, pos_post_off, positions)


def _segment_task(seg_dir: str, out_path: str, nb: int, positions: bool,
                  multi_field: bool, extra_fields: tuple[str, ...],
                  terms_path: str | None = None,
                  basic: bool = False) -> dict:
    """Encode ONE segment end-to-end inside one Spark task: read the
    segment's docmap partition directly with pyarrow (no JVM round-trip),
    run the flat block encoder, write term-bucketed parquet files, and
    return the segment's lineage metrics.  Single-threaded by
    construction (pyarrow pools pinned to 1) so cluster parallelism is
    exactly the task parallelism.

    When `terms_path` is given the task also writes its slice of the term
    dictionary (same rows `write_terms` would derive) in the same pass —
    the dictionary is a free byproduct of the encode, so it costs zero
    extra jobs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)

    seg = int(seg_dir.rstrip("/").rsplit("=", 1)[1])
    cols = ["doc_id", "fieldnorm_id", "terms", "token_count"]
    if positions:
        cols.append("positions")
    if multi_field:
        cols.append("term_fns")
    cols += [f"xf_tc_{f}" for f in extra_fields]
    t = pq.read_table(seg_dir, columns=cols, use_threads=False)
    return _encode_write_segment(t, seg, out_path, nb, positions,
                                 multi_field, extra_fields, terms_path,
                                 basic)


def _encode_write_segment(t, seg: int, out_path: str, nb: int,
                          positions: bool, multi_field: bool,
                          extra_fields: tuple[str, ...],
                          terms_path: str | None = None,
                          basic: bool = False) -> dict:
    """Encode one segment's in-memory docmap table and write its
    term-bucketed postings (+ optional term-dictionary slice); returns
    the segment's lineage metrics.  The one postings writer: every
    build, append commit and merge reaches it, through `_segment_task`
    (a committed docmap partition) or `_fused_segment_core` (the fused
    single-pass builds)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import zlib

    t = t.append_column(
        "segment_ord", pa.array(np.full(len(t), seg, dtype=np.int32)))
    out = _encode_segment_arrow(t, positions, multi_field, basic)

    terms = out.column("term").to_pylist()
    tb = np.fromiter(
        (zlib.crc32(s.encode("utf-8")) % nb for s in terms),
        dtype=np.int32, count=len(terms),
    )
    # rows are term-sorted, so each bucket's take keeps term order and
    # parquet row-group term stats stay prune-friendly
    for b in np.unique(tb):
        idx = np.flatnonzero(tb == b)
        sub = out.take(idx)
        bdir = os.path.join(out_path, f"tbucket={int(b)}")
        os.makedirs(bdir, exist_ok=True)
        pq.write_table(sub, os.path.join(bdir, f"seg{seg}.parquet"))
        if terms_path is not None:
            # term-dictionary slice: write_terms' row contract
            # (term, segment_ord, doc_freq, sum_tf, tlen; tbucket as the
            # partition dir), term-sorted like the postings rows
            tsub = sub.select(["term", "segment_ord", "doc_freq", "sum_tf"])
            tsub = tsub.append_column(
                "tlen", pc.cast(pc.utf8_length(tsub.column("term")),
                                pa.int32()))
            tdir = os.path.join(terms_path, f"tbucket={int(b)}")
            os.makedirs(tdir, exist_ok=True)
            pq.write_table(tsub, os.path.join(tdir, f"seg{seg}.parquet"))

    metrics = {
        "segment_ord": seg,
        "n_docs": len(t),
        "n_tokens": int(pc.sum(t.column("token_count")).as_py() or 0),
        "n_terms": len(out),
        "n_postings": int(pc.sum(out.column("doc_freq")).as_py() or 0),
    }
    if extra_fields:
        metrics["field_tokens"] = {
            f: int(pc.sum(t.column(f"xf_tc_{f}")).as_py() or 0)
            for f in extra_fields
        }
    return metrics


def build_postings_segment_files(spark: SparkSession, docmap_path: str,
                                 postings_path: str,
                                 cfg: IndexConfig,
                                 terms_path: str | None = None) -> list[dict]:
    """Per-segment postings build with direct file IO — the closest Spark
    analogue of tantivy's per-thread SegmentWriter (index_writer.rs worker
    threads each own one immutable segment): one Spark task per segment
    reads that segment's docmap partition, encodes its complete postings,
    and writes its term-bucket files.  ZERO shuffles and zero JVM<->Python
    Arrow IPC — at 100 TB the only data movement is each task streaming
    its own segment once.  Atomicity stays manifest-last (the index-level
    commit protocol); task retries overwrite their own deterministic
    filenames idempotently.

    Replaces the postings (and terms) tables wholesale; requires
    docmap_path/postings_path on storage every executor reaches
    (local[*], NFS, or object store via pyarrow.fs).

    Returns per-segment lineage metrics (docs, tokens, terms, postings) —
    collected from the same pass, so stage 3 needs no extra stats jobs.
    """
    import glob
    import shutil

    seg_dirs = sorted(glob.glob(os.path.join(docmap_path, "segment_ord=*")))
    for p in (postings_path, terms_path):
        if p and os.path.exists(p):
            shutil.rmtree(p)
        if p:
            os.makedirs(p, exist_ok=True)
    return _encode_segment_dirs(spark, seg_dirs, postings_path, cfg,
                                terms_path)


def encode_segment(spark: SparkSession, docmap_path: str, seg: int,
                   postings_path: str, cfg: IndexConfig,
                   terms_path: str | None = None) -> dict:
    """Encode the one docmap partition ``segment_ord=<seg>`` that an
    append commit or a merge just wrote, in one Spark task, next to the
    segments already in the postings (and terms) tables; returns its
    lineage metrics.  A segment with no docs (every merged doc deleted,
    an empty batch) has no partition and gets zero metrics."""
    seg_dir = os.path.join(docmap_path, f"segment_ord={seg}")
    if not os.path.isdir(seg_dir):
        m = {"segment_ord": seg, "n_docs": 0, "n_tokens": 0,
             "n_terms": 0, "n_postings": 0}
        if cfg.extra_fields:
            m["field_tokens"] = {f: 0 for f in cfg.extra_fields}
        return m
    return _encode_segment_dirs(spark, [seg_dir], postings_path, cfg,
                                terms_path)[0]


def _encode_segment_dirs(spark: SparkSession, seg_dirs: list[str],
                         postings_path: str, cfg: IndexConfig,
                         terms_path: str | None) -> list[dict]:
    """One `_segment_task` per docmap partition dir, one Spark task each."""
    nb = cfg.n_term_buckets
    positions = cfg.positions
    multi = bool(cfg.extra_fields)
    extra = tuple(cfg.extra_fields)
    basic = cfg.record == "basic"
    return (
        spark.sparkContext.parallelize(seg_dirs, max(len(seg_dirs), 1))
        .map(lambda d: _segment_task(d, postings_path, nb, positions,
                                     multi, extra, terms_path, basic))
        .collect()
    )


# --------------------------------------------------------------------------
# term dictionary (the FST analogue, materialized)
# --------------------------------------------------------------------------

def write_terms(spark: SparkSession, postings_df: DataFrame,
                terms_path: str) -> None:
    """Materialize the term dictionary table from a postings table — the
    persisted analogue of tantivy's FST term dict (src/termdict/
    fst_termdict/, ARCHITECTURE.md .term file role).  Builds, commits and
    merges write their slices inline (`_encode_write_segment`); this
    whole-table rewrite serves `merge.garbage_collect`.

    One row per (term, segment): the postings table minus its heavy
    encoded-block columns, plus a `tlen` length column.  fuzzy/regex/
    prefix expansion walks THIS table (length/prefix pruned, pushed to
    parquet stats) instead of aggregating the full postings table per
    query — the automaton ∩ term-dict walk of fuzzy_query.rs:80-106 /
    regex_query.rs:57.  Size: tens of bytes per (term, segment) vs KBs
    of blocks, so even an unpruned dictionary scan is ~100-1000x less IO
    than the postings table; exact lookups still prune by tbucket dir +
    term row-group stats.  Per-segment rows keep the table append-only
    under merges/streaming commits (live-segment visibility stays
    manifest-driven, like every other index table).
    """
    terms = postings_df.select(
        "term", "segment_ord", "doc_freq", "sum_tf", "tbucket",
        F.length("term").alias("tlen"),
    )
    (
        terms.repartition("tbucket")
        .sortWithinPartitions("tbucket", "term", "segment_ord")
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(terms_path)
    )


# --------------------------------------------------------------------------
# full build with checkpoint/resume + manifest
# --------------------------------------------------------------------------

def build_index(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    resume: bool = False,
    plugins: dict[str, "Callable[[DataFrame], DataFrame]"] | None = None,
) -> dict:
    """Build (or resume) the full index at ``index_dir``. Returns manifest.

    `plugins` is the SegmentPlugin extension surface (src/index/
    segment_component.rs:31-33, src/plugin.rs): each named callable maps
    the tokenized docmap frame to an extra table, written per segment
    under ``plugin_<name>/`` in the index directory and listed in the
    manifest; `Searcher.plugin(name)` reads it back.  Plugin frames must
    keep the ``segment_ord`` column (the per-segment-component contract)."""
    cfg = cfg or IndexConfig()
    if cfg.record not in ("freqs", "basic"):
        raise ValueError(f"unknown record option {cfg.record!r}")
    if cfg.record == "basic" and cfg.positions:
        # the reference ties positions to WithFreqsAndPositions
        # (index_record_option.rs:15-27) — Basic cannot carry them
        raise ValueError("record='basic' cannot record positions")
    if cfg.segment_assignment not in ("auto", "hash", "input"):
        raise ValueError(
            f"unknown segment_assignment {cfg.segment_assignment!r}")
    if cfg.segment_assignment == "auto":
        # default users onto the fused shuffle-free dataflow whenever the
        # config permits; the manifest records the RESOLVED mode
        import dataclasses as _dc

        cfg = _dc.replace(
            cfg, segment_assignment=cfg.resolved_segment_assignment())
    fused_input = cfg.segment_assignment == "input"
    if fused_input and not cfg.uses_arrow_kernel():
        raise ValueError(
            "segment_assignment='input' requires tokenizer='default' and "
            "jvm_tokenize=True (the fused single-pass path runs the "
            "arrow kernel and cannot honor the forced-pandas analyzer); "
            "use segment_assignment='hash' otherwise")
    os.makedirs(index_dir, exist_ok=True)
    docmap_path = os.path.join(index_dir, "docmap")
    postings_path = os.path.join(index_dir, "postings")

    t0 = time.time()
    stage_times: dict[str, float] = {}

    if fused_input:
        seg_metrics_fused: list[dict] | None = None
        if not (resume and _stage_done(index_dir, "docmap")
                and _stage_done(index_dir, "postings")):
            t = time.time()
            seg_metrics_fused = build_fused_input(
                spark, source, docmap_path, postings_path,
                os.path.join(index_dir, TERMS_DIR), cfg)
            for st in ("docmap", "postings", "terms"):
                _mark_done(index_dir, st)
            stage_times["fused_build"] = time.time() - t
        return _finish_build(spark, index_dir, docmap_path, postings_path,
                             cfg, plugins, resume, seg_metrics_fused,
                             t0, stage_times)

    if not (resume and _stage_done(index_dir, "docmap")):
        t = time.time()
        if cfg.uses_arrow_kernel():
            # fused direct-IO stage 1: the only data crossing the shuffle
            # is raw text; tokens are written to parquet by the same
            # Python worker that produced them (no JVM round-trip, no id
            # window, no writer re-sort) — see build_docmap_segment_files
            build_docmap_segment_files(spark, source, docmap_path, cfg)
        else:
            docmap = build_docmap(spark, source, cfg)
            # the window already shuffled by segment_ord (into
            # spark.sql.shuffle.partitions tasks); write directly from that
            # partitioning — re-repartitioning to exactly n_segments would
            # be a balls-in-bins hash with straggler partitions holding 2+
            # segments.
            (
                docmap.sortWithinPartitions("segment_ord", "doc_id")
                .write.mode("overwrite")
                .partitionBy("segment_ord")
                .parquet(docmap_path)
            )
        _mark_done(index_dir, "docmap")
        stage_times["docmap"] = time.time() - t

    seg_metrics: list[dict] | None = None
    if not (resume and _stage_done(index_dir, "postings")):
        t = time.time()
        # one task per segment with direct file IO — tantivy's per-thread
        # SegmentWriter shape, zero shuffles; returns per-segment lineage
        # so stage 3 needs no stats jobs, and writes the term dictionary
        # in the same pass.  Hot terms are bounded per task by segment
        # size (segments are the salt).
        seg_metrics = build_postings_segment_files(
            spark, docmap_path, postings_path, cfg,
            terms_path=os.path.join(index_dir, TERMS_DIR))
        for st in ("postings", "terms"):
            _mark_done(index_dir, st)
        stage_times["postings"] = time.time() - t

    return _finish_build(spark, index_dir, docmap_path, postings_path,
                         cfg, plugins, resume, seg_metrics, t0, stage_times)


def _finish_build(spark: SparkSession, index_dir: str, docmap_path: str,
                  postings_path: str, cfg: IndexConfig,
                  plugins: dict | None, resume: bool,
                  seg_metrics: list[dict] | None, t0: float,
                  stage_times: dict[str, float]) -> dict:
    """Shared build tail: plugin components, stats/lineage, manifest-last
    atomic commit.  `seg_metrics` non-None means the encode tasks already
    collected per-segment lineage; None (a resume that skipped the
    encode) falls back to DataFrame stats jobs over the written
    tables."""
    _docmap_df: list[DataFrame | None] = [None]

    def docmap_df() -> DataFrame:
        if _docmap_df[0] is None:
            _docmap_df[0] = spark.read.parquet(docmap_path)
        return _docmap_df[0]

    # stage 2.6: segment plugins (extra per-segment components)
    for pname, pfn in sorted((plugins or {}).items()):
        if resume and _stage_done(index_dir, f"plugin_{pname}"):
            continue
        t = time.time()
        out = pfn(docmap_df())
        if "segment_ord" not in out.columns:
            raise ValueError(
                f"plugin {pname!r} must keep the segment_ord column")
        (
            out.write.mode("overwrite")
            .partitionBy("segment_ord")
            .parquet(os.path.join(index_dir, f"plugin_{pname}"))
        )
        _mark_done(index_dir, f"plugin_{pname}")
        stage_times[f"plugin_{pname}"] = time.time() - t

    # stage 3: stats + per-segment lineage, manifest committed LAST
    t = time.time()
    if seg_metrics is not None:
        # the encode tasks already collected lineage
        segments = sorted(seg_metrics, key=lambda m: m["segment_ord"])
    else:
        xf_aggs = [
            F.sum(f"xf_tc_{f}").alias(f"xf_tokens_{f}")
            for f in cfg.extra_fields
        ]
        seg_doc_stats = {
            int(r["segment_ord"]): r
            for r in docmap_df().groupBy("segment_ord")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("token_count").alias("n_tokens"),
                *xf_aggs,
            )
            .collect()
        }
        seg_post_stats = {
            int(r["segment_ord"]): r
            for r in spark.read.parquet(postings_path)
            .groupBy("segment_ord")
            .agg(
                F.count(F.lit(1)).alias("n_terms"),
                F.sum("doc_freq").alias("n_postings"),
            )
            .collect()
        }
        segments = []
        for seg_ord in sorted(seg_doc_stats):
            d = seg_doc_stats[seg_ord]
            p = seg_post_stats.get(seg_ord)
            seg_entry = {
                "segment_ord": seg_ord,
                "n_docs": int(d["n_docs"]),
                "n_tokens": int(d["n_tokens"]),
                "n_terms": int(p["n_terms"]) if p else 0,
                "n_postings": int(p["n_postings"]) if p else 0,
            }
            if cfg.extra_fields:
                seg_entry["field_tokens"] = {
                    f: int(d[f"xf_tokens_{f}"] or 0)
                    for f in cfg.extra_fields
                }
            segments.append(seg_entry)
    stage_times["stats"] = time.time() - t

    manifest = {
        "format_version": 1,
        "terms_table": True,
        "config": json.loads(cfg.to_json()),
        "total_docs": int(sum(s["n_docs"] for s in segments)),
        "total_tokens": int(sum(s["n_tokens"] for s in segments)),
        "segments": segments,
        # a fresh build owns every ord on disk
        "next_segment_ord": 1 + max(
            (s["segment_ord"] for s in segments), default=-1),
        "stage_seconds": stage_times,
        "build_seconds": time.time() - t0,
    }
    if plugins:
        manifest["plugins"] = sorted(plugins)
    if cfg.extra_fields:
        # per-field exact token totals — the reference's per-field
        # total_num_tokens feeding per-field avgdl (bm25.rs:33-51,
        # inverted_index_reader.rs:73-74)
        manifest["field_tokens"] = {
            f: int(sum(s["field_tokens"][f] for s in segments))
            for f in cfg.extra_fields
        }
    tmp = os.path.join(index_dir, MANIFEST_NAME + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(index_dir, MANIFEST_NAME))  # atomic commit
    return manifest


def load_manifest(index_dir: str) -> dict:
    with open(os.path.join(index_dir, MANIFEST_NAME)) as f:
        return json.load(f)


def next_segment_ord(index_dir: str, manifest: dict) -> int:
    """The ord the next new segment (append commit or merge) takes.

    Ords never repeat within an index: a merged-away or deleted segment's
    files stay on disk until garbage_collect, and both readers select
    postings rows by segment_ord, so a reused ord would pick up stale
    rows.  Every build, commit and merge records the counter in the
    manifest.  Docmap partitions above it (left by a commit or merge
    that died before its manifest write, which writes the docmap first)
    push it past them.  A manifest written before the counter existed
    falls back to 1 + the highest ord on disk — the docmap partition
    names and the postings files' footers."""
    import glob

    ords = [int(d.rsplit("=", 1)[1]) for d in glob.glob(
        os.path.join(index_dir, "docmap", "segment_ord=*"))]
    if "next_segment_ord" in manifest:
        return max([int(manifest["next_segment_ord"]) - 1] + ords) + 1
    import pyarrow.parquet as pq

    ords += [int(s["segment_ord"]) for s in manifest["segments"]]
    for f in glob.glob(os.path.join(index_dir, "postings", "tbucket=*",
                                    "*.parquet")):
        md = pq.ParquetFile(f).metadata
        col = [md.schema.column(j).path
               for j in range(md.num_columns)].index("segment_ord")
        stats = [md.row_group(i).column(col).statistics
                 for i in range(md.num_row_groups)
                 if md.row_group(i).num_rows]
        if all(st is not None and st.has_min_max for st in stats):
            ords += [int(st.max) for st in stats]
        else:   # a file written without statistics: read the column
            ords += np.unique(pq.read_table(f, columns=["segment_ord"])
                              .column("segment_ord").to_numpy()).tolist()
    return 1 + max(ords, default=-1)
