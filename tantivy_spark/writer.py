"""IndexWriter facade — API parity with the reference's write path.

Reference: IndexWriter (add_document / delete_term / commit / rollback,
/root/reference/src/indexer/index_writer.rs) and Index::create_in_dir /
open.  A user of the reference drives indexing through exactly this
surface; here each `commit()` turns the buffered docs into one new segment
(the micro-batch commit of streaming/incremental.py), `delete_term`
appends a tombstone, and `maybe_merge` runs the LogMergePolicy compaction.

This facade is the small-scale convenience layer; bulk loads should go
through operators.build.build_index on a DataFrame directly.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type

from tantivy_spark.config import IndexConfig
from tantivy_spark.operators.build import load_manifest
from tantivy_spark.operators.merge import (
    LogMergePolicy,
    delete_term as _delete_term,
    maybe_merge,
)
from tantivy_spark.streaming.incremental import _append_segment


class Index:
    """An index handle (Index::create_in_dir / open_in_dir analogue)."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 cfg: IndexConfig | None = None):
        self.spark = spark
        self.index_dir = index_dir
        try:
            manifest = load_manifest(index_dir)
            self.cfg = IndexConfig.from_json_dict(manifest["config"])
        except FileNotFoundError:
            self.cfg = cfg or IndexConfig()

    def writer(self) -> "IndexWriter":
        return IndexWriter(self)

    def searcher(self):
        """Point-in-time searcher (reader().searcher() analogue) — a fresh
        instance pins the current manifest snapshot (reload-on-call, the
        ReloadPolicy::Manual behavior)."""
        from tantivy_spark.operators.search import Searcher

        return Searcher(self.spark, self.index_dir)


class IndexWriter:
    """Buffer documents, commit as segments (index_writer.rs lifecycle:
    add_document stamps ops; commit cuts + publishes a segment; rollback
    drops the uncommitted buffer)."""

    def __init__(self, index: Index):
        self.index = index
        self._buffer: list[dict] = []
        self._opstamp = 0

    def add_document(self, doc: dict) -> int:
        """Buffer one document; returns its opstamp."""
        self._buffer.append(doc)
        self._opstamp += 1
        return self._opstamp

    def delete_term(self, term: str) -> int:
        """Tombstone all docs containing `term` (visible after commit of
        any searcher opened later; merges expunge physically)."""
        _delete_term(self.index.spark, self.index.index_dir, term)
        self._opstamp += 1
        return self._opstamp

    def rollback(self) -> int:
        """Drop buffered (uncommitted) documents (index_writer.rs:rollback)."""
        self._buffer.clear()
        return self._opstamp

    def commit(self) -> int:
        """Publish buffered docs as one new segment; atomic manifest swap."""
        if self._buffer:
            df = self._typed(
                self.index.spark.createDataFrame(pd.DataFrame(self._buffer)))
            _append_segment(self.index.spark, df, self.index.index_dir,
                            self.index.cfg)
            self._buffer.clear()
        self._opstamp += 1
        return self._opstamp

    def _typed(self, df: DataFrame) -> DataFrame:
        """Cast the buffer's columns to the types the docmap already
        stores (a pyarrow footer read).  Inferred types would otherwise
        leak into the new segment — plain ints as INT64, an all-None
        column as null — and a later merge could not read it together
        with the existing segments.  Before the first commit there is
        no docmap and inference stands."""
        path = os.path.join(self.index.index_dir, "docmap")
        if not os.path.isdir(path):
            return df
        stored = ds.dataset(path, format="parquet",
                            partitioning="hive").schema
        casts = {}
        for f in df.schema.fields:
            if f.name in stored.names:
                t = from_arrow_type(stored.field(f.name).type)
                if t != f.dataType:
                    casts[f.name] = F.col(f"`{f.name}`").cast(t)
        return df.withColumns(casts) if casts else df

    def maybe_merge(self, policy: LogMergePolicy | None = None) -> list[list[int]]:
        """Run the merge policy over the committed segments
        (segment_updater.rs consider_merge_options)."""
        return maybe_merge(self.index.spark, self.index.index_dir, policy)
