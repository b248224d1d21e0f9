"""One postings encoder for build, commit and merge.

A merge writes the merged docmap partition and encodes it with the
build's own per-segment encoder, so a merged segment's posting rows equal
a fresh build of the same live docs in the same key order.  Segment ords
never repeat within an index, even after delete_all_documents, and
manifests written before the ord counter (or carrying the keys of retired
options) keep working."""

import glob
import json
import os
import shutil
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tantivy_spark.config import IndexConfig
from tantivy_spark.operators.build import (
    MANIFEST_NAME,
    build_index,
    load_manifest,
    term_bucket_py,
)
from tantivy_spark.operators.merge import (
    delete_all_documents,
    delete_query,
    garbage_collect,
    merge_segments,
)
from tantivy_spark.operators.search import Searcher
from tantivy_spark.operators.serve import ServingSearcher
from tantivy_spark.plans import logical as L
from tantivy_spark.writer import Index

ROLES = ["user", "assistant", "tool call"]


def _pdf(n: int, first: int = 0, extra: str = "") -> pd.DataFrame:
    return pd.DataFrame({
        "conv_id": [f"c{(first + i) // 3:04d}" for i in range(n)],
        "turn_idx": [(first + i) % 3 for i in range(n)],
        "role": [ROLES[(first + i) % 3] for i in range(n)],
        "text": [f"common w{(first + i) % 7} hot hot tok{(first + i) % 11} "
                 f"phrase of words {first + i} {extra}"
                 for i in range(n)],
    })


def _segment_rows(index_dir: str, seg: int) -> dict:
    """Every posting row of one segment, term-sorted, segment_ord
    dropped, read straight from its ``seg<ord>.parquet`` files."""
    files = sorted(glob.glob(os.path.join(
        index_dir, "postings", "tbucket=*", f"seg{seg}.parquet")))
    t = pa.concat_tables(pq.read_table(f) for f in files)
    return t.drop_columns(["segment_ord"]).sort_by("term").to_pydict()


def _files(index_dir: str, table: str) -> set[str]:
    root = os.path.join(index_dir, table)
    return {os.path.relpath(p, root) for p in glob.glob(
        os.path.join(root, "tbucket=*", "*.parquet"))}


@pytest.mark.parametrize("cfg_kw", [
    {},
    {"positions": True, "extra_fields": ("role",)},
    {"record": "basic"},
], ids=["default", "positions_role", "basic"])
def test_merge_matches_fresh_build(spark, tmp_root, cfg_kw):
    """Merge 4 hash segments after a delete_query: the merged segment's
    posting rows, its manifest entry and its files equal a fresh
    one-segment build of the live docs."""
    pdf = _pdf(300)
    nb = 4
    idx = f"{tmp_root}/mp_merged_{time.time_ns()}"
    build_index(spark, spark.createDataFrame(pdf), idx,
                IndexConfig(n_segments=4, n_term_buckets=nb,
                            segment_assignment="hash", **cfg_kw))
    assert delete_query(spark, idx, L.TermQuery("w3")) > 0
    postings_before = _files(idx, "postings")
    terms_before = _files(idx, "terms")
    m = merge_segments(spark, idx)
    new = m["segments"][-1]
    assert [s["segment_ord"] for s in m["segments"]] == [4]

    live = pdf[[" w3 " not in t for t in pdf["text"]]]
    fresh = f"{tmp_root}/mp_fresh_{time.time_ns()}"
    mf = build_index(spark, spark.createDataFrame(live), fresh,
                     IndexConfig(n_segments=1, n_term_buckets=nb,
                                 segment_assignment="hash", **cfg_kw))
    ref = mf["segments"][0]

    merged_rows = _segment_rows(idx, 4)
    assert merged_rows == _segment_rows(fresh, 0)
    for key in ("n_docs", "n_tokens", "n_terms", "n_postings",
                "field_tokens"):
        assert new.get(key) == ref.get(key), key
    assert new["merged_from"] == [0, 1, 2, 3]
    assert m["next_segment_ord"] == 5

    # exactly one seg<new_ord>.parquet per touched term bucket, in the
    # postings and in the term dictionary
    touched = {f"tbucket={term_bucket_py(t, nb)}/seg4.parquet"
               for t in merged_rows["term"]}
    assert _files(idx, "postings") - postings_before == touched
    assert _files(idx, "terms") - terms_before == touched

    s = Searcher(spark, idx)
    assert s.count(L.TermQuery("w3")) == 0
    assert s.count(L.TermQuery("common")) == len(live)


def _commit_docs(spark, idx: str, pdf: pd.DataFrame) -> None:
    w = Index(spark, idx).writer()
    for doc in pdf.to_dict("records"):
        w.add_document(doc)
    w.commit()


def _oldonly_counts(spark, idx: str) -> list[int]:
    q = L.TermQuery("oldonly")
    s = Searcher(spark, idx)
    return [s.count(q), ServingSearcher(idx).count(q),
            len(s.search_batch([q], k=1000).collect())]


@pytest.mark.parametrize("variant", ["fused", "pandas", "legacy_manifest"])
def test_segment_ords_never_reused(spark, tmp_root, variant):
    """Build 4 segments, merge, delete_all_documents, two IndexWriter
    commits: no query may see the merged-away segment's postings, which
    are still on disk.  "pandas" commits through the per-segment encode
    of a Spark-written docmap partition; both also leave the docmap
    partition of a merge that died before its manifest write, whose ord
    must not be taken either.  "legacy_manifest" strips the ord counter
    and adds the retired option keys, then garbage-collects every docmap
    partition, so the next ord comes from the postings footers alone."""
    cfg = IndexConfig(n_segments=4, n_term_buckets=4,
                      segment_assignment="hash",
                      jvm_tokenize=variant != "pandas")
    idx = f"{tmp_root}/ords_{variant}_{time.time_ns()}"
    build_index(spark, spark.createDataFrame(_pdf(40, extra="oldonly")),
                idx, cfg)
    assert merge_segments(spark, idx)["next_segment_ord"] == 5
    delete_all_documents(spark, idx)
    if variant == "legacy_manifest":
        man = load_manifest(idx)
        del man["next_segment_ord"]
        man["config"].update(postings_mode="salted", tokenize_engine="jvm")
        with open(os.path.join(idx, MANIFEST_NAME), "w") as f:
            json.dump(man, f)
        garbage_collect(spark, idx)
        assert not glob.glob(os.path.join(idx, "docmap", "segment_ord=*"))
        first_ord = 5
    else:
        shutil.copytree(os.path.join(idx, "docmap", "segment_ord=4"),
                        os.path.join(idx, "docmap", "segment_ord=7"))
        first_ord = 8
    for c in range(2):
        _commit_docs(spark, idx, _pdf(20, first=1000 + 20 * c))
    ords = [s["segment_ord"] for s in load_manifest(idx)["segments"]]
    assert ords and min(ords) >= first_ord
    assert load_manifest(idx)["total_docs"] == 40
    assert _oldonly_counts(spark, idx) == [0, 0, 0]
    assert Searcher(spark, idx).count(L.TermQuery("common")) == 40


def test_retired_config_keys_open(spark, tmp_root):
    """A manifest that records the retired postings_mode /
    tokenize_engine keys (every manifest written before they were
    removed does) opens in both readers and the writer, and merges."""
    idx = f"{tmp_root}/retired_{time.time_ns()}"
    build_index(spark, spark.createDataFrame(_pdf(30)).repartition(3), idx,
                IndexConfig(n_term_buckets=4))
    man = load_manifest(idx)
    man["config"].update(postings_mode="segment", tokenize_engine="arrow")
    with open(os.path.join(idx, MANIFEST_NAME), "w") as f:
        json.dump(man, f)

    q = L.TermQuery("common")
    assert Searcher(spark, idx).count(q) == 30
    assert ServingSearcher(idx).count(q) == 30
    _commit_docs(spark, idx, _pdf(9, first=500))
    assert Searcher(spark, idx).count(q) == 39
    m = merge_segments(spark, idx)
    assert len(m["segments"]) == 1 and m["total_docs"] == 39
    assert ServingSearcher(idx).count(q) == 39
    assert IndexConfig.from_json_dict(m["config"]) == IndexConfig(
        n_term_buckets=4, segment_assignment="input")
