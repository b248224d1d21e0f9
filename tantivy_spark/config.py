"""Index configuration — the analogue of tantivy's Schema + IndexSettings.

The reference declares a strict schema with per-field tokenizer/record
options and BM25 params (/root/reference/src/schema/, index_meta.rs:240-260).
We index a single text field of a typed DataFrame; the schema role is played
by the source table's StructType plus this config.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field

#: keys older manifests carry for options that no longer exist
_RETIRED_KEYS = ("postings_mode", "tokenize_engine")


@dataclass(frozen=True)
class IndexConfig:
    #: column holding the text to index
    text_col: str = "text"
    #: stable document identity; docs are ordered by these columns within a
    #: segment (the reference's index-sorting invariant: stable ordering by
    #: (conv_id, turn_idx), src/index/index_meta.rs:288-398)
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx")
    #: first key col is hashed to place a doc in a segment; all turns of a
    #: conversation land in one segment
    segment_col: str = "conv_id"
    #: analyzer name in tantivy_spark.functions.analysis.ANALYZERS
    tokenizer: str = "default"
    #: number of build segments. Scale note: one segment ≈ one stage-1 task;
    #: at 10^12 turns pick n_segments so a segment holds ~1-5M docs (doc ids
    #: are dense int32 per segment, like tantivy's per-segment u32 DocId).
    n_segments: int = 8
    #: directory-level partition buckets of the postings table; exact-term
    #: queries prune to |terms| buckets. 8 is right for tests; use 256+ at
    #: 100 TB so a bucket is a few GB.
    n_term_buckets: int = 8
    #: store token positions (needed for phrase queries)
    positions: bool = False
    #: IndexRecordOption (src/schema/index_record_option.rs:15-27):
    #: "freqs" (default, WithFreqs) records term frequencies; "basic"
    #: records docs only — every posting scores with tf=1 (the tf-1
    #: delta stream bitpacks to zero width, so no tf bytes are paid),
    #: matching the reference's Basic semantics.  Positions require
    #: freqs (WithFreqsAndPositions), like the reference.
    record: str = "freqs"
    #: DateOptions precision (src/schema/date_time_options.rs
    #: DateTimePrecision): truncate every timestamp fast-field column in
    #: the docmap to "seconds" | "milliseconds" | "microseconds".
    #: None keeps source precision (parquet micros).  Truncation happens
    #: at index time, so range bounds compare against truncated values —
    #: the reference's fast-field truncation semantics.
    date_precision: str | None = None
    #: additional indexed text columns (tantivy's multi-field schema,
    #: ARCHITECTURE.md:103-116).  Terms of field f are stored scoped as
    #: "f:token" with f's OWN per-doc fieldnorm and per-field token totals
    #: in the manifest, so scoped-term BM25 uses the field's avgdl exactly
    #: like the reference's per-field statistics (bm25.rs:33-51).
    extra_fields: tuple[str, ...] = ()
    #: index sorting (IndexSettings::sort_by_field, src/index/
    #: index_meta.rs:288-398): (field, "asc"|"desc") orders docs within
    #: each segment by that fast-field value, enabling early termination
    #: for top-k-by-that-field scans.  None (default) keeps the stable
    #: key_cols order.  key_cols remain the tiebreak either way, so the
    #: assignment stays deterministic.
    sort_by_field: tuple[str, str] | None = None
    #: True (default) tokenizes the default chain with the vectorized
    #: numpy kernel over Arrow buffers (functions/arrow_tokenize.py, parity
    #: pinned by tests/test_arrow_tokenize.py); False forces the
    #: vectorized-pandas analyzer (the parity oracle) on the default
    #: chain too.  Non-default tokenizers always use the pandas analyzer.
    #: (The name predates the kernel; it no longer has anything to do
    #: with the JVM.)
    jvm_tokenize: bool = True
    #: how documents are assigned to segments:
    #: "auto" (default): resolve to "input" whenever the arrow kernel
    #:   applies (`uses_arrow_kernel`: tokenizer="default" and
    #:   jvm_tokenize=True — the defaults), else "hash".
    #:   jvm_tokenize=False forces the vectorized-pandas analyzer, which
    #:   the fused arrow-kernel pass cannot honor, so auto falls back to
    #:   "hash" there.  The resolved mode is what the manifest records.
    #:   Rationale: "input" is the measured at-scale dataflow (BENCH.md:
    #:   ~0.87-0.99 scaling efficiency, ~170 MB/s at 32 cores vs "hash"'s
    #:   0.43 / ~16 MB/s through its raw-text exchange+sort) — the default
    #:   build a user gets must be the one that meets the scaling bar.
    #: "hash": segment = pmod(xxhash64(segment_col), n_segments).
    #:   Content-deterministic — the same doc lands in the same segment no
    #:   matter how the input is partitioned — at the cost of ONE raw-text
    #:   exchange + within-partition sort (the only shuffle of the build).
    #: "input": one segment per INPUT partition — the reference's actual
    #:   IndexWriter semantics (index_writer.rs worker threads fill
    #:   segments in arrival order; doc ids are ingestion order, not
    #:   content-hashed).  ZERO shuffles: one fused mapInArrow pass per
    #:   input split tokenizes, writes the docmap, encodes the postings
    #:   and writes the term-dictionary slice (build.build_fused_input).
    #:   Segment layout is deterministic given the same input partitioning
    #:   (for parquet scans, pin spark.sql.files.maxPartitionBytes /
    #:   minPartitionNum; a repartition()ed or persisted frame is already
    #:   fixed) and is by construction independent of executor count —
    #:   the 100-TB shape: n_segments/segment_col are ignored, segment
    #:   size is bounded by the split size instead of corpus/n_segments.
    #:   Requires `uses_arrow_kernel()`.  Query results are identical
    #:   to "hash" builds (scores use global manifest stats; only the
    #:   physical layout differs).
    segment_assignment: str = "auto"

    def resolved_segment_assignment(self) -> str:
        """Resolve "auto" to the mode this config will actually build
        with; "hash"/"input" pass through."""
        if self.segment_assignment != "auto":
            return self.segment_assignment
        return "input" if self.uses_arrow_kernel() else "hash"

    def uses_arrow_kernel(self) -> bool:
        """True when the default chain is tokenized by the arrow kernel —
        the one condition for the fused input pass, the direct builds,
        the direct-IO docmap stage and the fused append commit.  Every
        other config runs the pandas analyzer."""
        return self.tokenizer == "default" and self.jvm_tokenize

    k1: float = 1.2
    b: float = 0.75
    #: per-field BM25 overrides, ((field, k1, b), ...) — the reference's
    #: per-field Bm25Params (src/index/index_meta.rs:240-260: each text
    #: field option carries its own k1/b).  Fields not listed use the
    #: index-level k1/b above.  Applies to `extra_fields` entries (their
    #: terms are scoped `field:token`); the main text field can be
    #: overridden under the reserved name "" (empty string).
    field_bm25: tuple[tuple[str, float, float], ...] = ()

    def bm25_params_for_field(self, field: str | None) -> tuple[float, float]:
        """(k1, b) for `field` (None/"" = the main text field)."""
        key = field or ""
        for f, k1, b in self.field_bm25:
            if f == key:
                return float(k1), float(b)
        return self.k1, self.b

    def to_json(self) -> str:
        d = asdict(self)
        d["key_cols"] = list(self.key_cols)
        d["extra_fields"] = list(self.extra_fields)
        d["field_bm25"] = [list(t) for t in self.field_bm25]
        if self.sort_by_field is not None:
            d["sort_by_field"] = list(self.sort_by_field)
        return json.dumps(d)

    @staticmethod
    def from_json(s: str) -> "IndexConfig":
        return IndexConfig.from_json_dict(json.loads(s))

    @staticmethod
    def from_json_dict(d: dict) -> "IndexConfig":
        """The config a manifest records.  Keys of retired options are
        dropped: both only chose between dataflows that wrote identical
        postings, so an index that recorded them reads as-is."""
        d = {k: v for k, v in d.items() if k not in _RETIRED_KEYS}
        d["key_cols"] = tuple(d["key_cols"])
        d["extra_fields"] = tuple(d.get("extra_fields", ()))
        d["field_bm25"] = tuple(
            tuple(t) for t in d.get("field_bm25", ()))
        if d.get("sort_by_field") is not None:
            d["sort_by_field"] = tuple(d["sort_by_field"])
        return IndexConfig(**d)
