"""Merge / delete / incremental-indexing lifecycle tests.

Mirrors the reference lifecycle: add -> commit -> delete_term -> merge
expunges deleted docs (src/indexer/index_writer.rs, merger.rs,
log_merge_policy.rs); streaming micro-batch = one commit."""

import time

import pandas as pd
import pytest

from tantivy_spark.config import IndexConfig
from tantivy_spark.operators.build import build_index, load_manifest
from tantivy_spark.operators.merge import (
    LogMergePolicy,
    delete_term,
    merge_segments,
)
from tantivy_spark.operators.search import Searcher
from tantivy_spark.plans import logical as L


def _corpus(spark, n=40):
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:03d}" for i in range(n)],
            "turn_idx": [0] * n,
            "text": [
                f"common w{i % 7} {'deadbeef' if i % 10 == 0 else 'alive'} filler{i}"
                for i in range(n)
            ],
        }
    )
    return spark.createDataFrame(pdf)


@pytest.fixture()
def built(spark, tmp_root):
    idx = f"{tmp_root}/merge_idx_{time.time_ns()}"
    # repartition(4): the default (auto -> "input") build makes one
    # segment per input partition — these tests assert exact segment
    # counts, so pin the partitioning
    build_index(spark, _corpus(spark).repartition(4), idx,
                IndexConfig(n_segments=4, n_term_buckets=4))
    return idx


def test_delete_term_hides_docs(spark, built):
    s = Searcher(spark, built)
    before = s.count(L.TermQuery("common"))
    assert before == 40
    delete_term(spark, built, "deadbeef")
    s2 = Searcher(spark, built)
    assert s2.count(L.TermQuery("common")) == 36  # 4 docs tombstoned
    # deleted docs excluded from top-k too
    out = s2.search(L.TermQuery("deadbeef"), k=50, mode="taat64").collect()
    assert out == []
    # DAAT path honors tombstones as well
    out2 = s2.search(L.BooleanQuery.union(["deadbeef", "alive"]), k=50,
                     mode="daat").collect()
    assert all("deadbeef" not in r["conv_id"] for r in out2)
    assert len(out2) == 36


def test_merge_preserves_results_and_expunges(spark, built):
    s = Searcher(spark, built)
    q = L.BooleanQuery.union(["common", "w3"])
    before = [(r["conv_id"], round(float(r["score"]), 5))
              for r in s.search(q, k=40, mode="taat64").collect()]
    delete_term(spark, built, "deadbeef")

    manifest = merge_segments(spark, built)  # full compaction
    assert len(manifest["segments"]) == 1
    assert manifest["total_docs"] == 36  # deleted docs physically dropped

    s2 = Searcher(spark, built)
    assert s2.tombstones() != []  # tombstones still present but now no-ops
    after_all = s2.search(L.TermQuery("common"), k=50, mode="taat64").collect()
    assert len(after_all) == 36
    # scores change only because N/avgdl changed (docs removed); ordering of
    # surviving docs under an unaffected query stays consistent
    survivors_before = [c for c, _ in before if int(c[1:]) % 10 != 0]
    after = [r["conv_id"] for r in s2.search(q, k=40, mode="taat64").collect()]
    assert set(after) == set(survivors_before)
    # doc ids re-densified: 0..35 in one segment
    dm = s2.docmap().select("segment_ord", "doc_id").collect()
    assert {r["segment_ord"] for r in dm} == {manifest["segments"][0]["segment_ord"]}
    assert sorted(r["doc_id"] for r in dm) == list(range(36))


def test_merge_determinism_same_key_order(spark, built):
    manifest = merge_segments(spark, built)
    s = Searcher(spark, built)
    dm = s.docmap().orderBy("doc_id").collect()
    convs = [r["conv_id"] for r in dm]
    assert convs == sorted(convs)  # stable (conv_id, turn_idx) order


def test_log_merge_policy_levels():
    p = LogMergePolicy(min_num_segments=3, min_layer_size=10)
    # 8 tiny segments in one level -> one candidate
    segs = [{"segment_ord": i, "n_docs": 100} for i in range(8)]
    assert p.compute_merge_candidates(segs) == [[0, 1, 2, 3, 4, 5, 6, 7]]
    # two clear levels: 3 big + 3 small
    segs = (
        [{"segment_ord": i, "n_docs": 100_000} for i in range(3)]
        + [{"segment_ord": 10 + i, "n_docs": 200} for i in range(3)]
    )
    got = p.compute_merge_candidates(segs)
    assert [0, 1, 2] in got and [10, 11, 12] in got
    # below min_num_segments -> no merge
    segs = [{"segment_ord": i, "n_docs": 100} for i in range(2)]
    assert p.compute_merge_candidates(segs) == []
    # max_docs cap excludes giant segments
    p2 = LogMergePolicy(min_num_segments=2, max_docs_before_merge=1000)
    segs = [{"segment_ord": 0, "n_docs": 5000}] + [
        {"segment_ord": i, "n_docs": 100} for i in (1, 2)
    ]
    assert p2.compute_merge_candidates(segs) == [[1, 2]]


def test_streaming_incremental_commits(spark, tmp_root):
    import numpy as np

    from tantivy_spark.streaming.incremental import _append_segment, index_stream

    idx = f"{tmp_root}/stream_idx_{time.time_ns()}"
    cfg = IndexConfig(n_segments=2, n_term_buckets=4)

    # two manual micro-batches (the foreachBatch body, driver-invoked)
    b1 = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["a0", "a1"], "turn_idx": [0, 0],
        "text": ["hello streaming world", "hello again"],
    }))
    b2 = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["b0"], "turn_idx": [0],
        "text": ["late arrival world"],
    }))
    # a commit appends one segment per batch PARTITION (the fused path:
    # tantivy's multi-segment commit — every worker seals its own
    # segment); ords grow monotonically across commits
    m1 = _append_segment(spark, b1, idx, cfg)
    ords1 = [s["segment_ord"] for s in m1["segments"]]
    assert len(ords1) >= 1 and m1["total_docs"] == 2
    m2 = _append_segment(spark, b2, idx, cfg)
    ords2 = [s["segment_ord"] for s in m2["segments"]]
    assert ords2[:len(ords1)] == ords1          # append-only
    assert min(ords2[len(ords1):]) > max(ords1)  # new ords above old
    assert m2["total_docs"] == 3

    s = Searcher(spark, idx)
    out = s.search(L.TermQuery("world"), k=10, mode="daat").collect()
    assert {r["conv_id"] for r in out} == {"a0", "b0"}
    # global stats span segments (idf over all 3 docs)
    assert s.total_docs == 3

    # non-default analyzer falls back to the combined-segment path
    idx_f = f"{tmp_root}/stream_idx_fb_{time.time_ns()}"
    cfg_f = IndexConfig(n_segments=2, n_term_buckets=4, tokenizer="en_stem")
    mf = _append_segment(spark, b1, idx_f, cfg_f)
    assert [x["segment_ord"] for x in mf["segments"]] == [0]
    assert Searcher(spark, idx_f).count(L.TermQuery("stream")) == 1

    # real streaming query over a file source, availableNow drain
    src_dir = f"{tmp_root}/stream_src_{time.time_ns()}"
    b1.write.mode("overwrite").parquet(src_dir)
    stream = (
        spark.readStream.schema("conv_id string, turn_idx long, text string")
        .parquet(src_dir)
    )
    idx2 = f"{tmp_root}/stream_idx2_{time.time_ns()}"
    q = index_stream(stream, idx2, cfg)
    q.awaitTermination(60)
    man = load_manifest(idx2)
    assert man["total_docs"] == 2
    s2 = Searcher(spark, idx2)
    assert s2.count(L.TermQuery("hello")) == 2


def test_index_writer_facade(spark, tmp_root):
    from tantivy_spark.writer import Index

    idx_dir = f"{tmp_root}/writer_idx_{time.time_ns()}"
    idx = Index(spark, idx_dir, IndexConfig(n_segments=2, n_term_buckets=4))
    w = idx.writer()
    w.add_document({"conv_id": "x0", "turn_idx": 0, "text": "hello world"})
    w.add_document({"conv_id": "x1", "turn_idx": 0, "text": "hello there"})
    w.commit()
    w.add_document({"conv_id": "x2", "turn_idx": 0, "text": "another world"})
    w.commit()

    s = idx.searcher()
    assert s.total_docs == 3
    assert s.count(L.TermQuery("hello")) == 2
    assert s.count(L.TermQuery("world")) == 2

    # rollback drops the buffer
    w.add_document({"conv_id": "x3", "turn_idx": 0, "text": "dropped"})
    w.rollback()
    w.commit()
    assert idx.searcher().total_docs == 3

    # delete + merge-expunge through the facade
    w.delete_term("another")
    s2 = idx.searcher()
    assert s2.count(L.TermQuery("world")) == 1
    from tantivy_spark.operators.merge import LogMergePolicy
    # default min_layer_size clips both tiny segments into one level
    w.maybe_merge(LogMergePolicy(min_num_segments=2))
    s3 = idx.searcher()
    assert s3.total_docs == 2
    assert len(s3.manifest["segments"]) == 1


def test_garbage_collect(spark, built):
    import os

    from tantivy_spark.operators.merge import garbage_collect

    merge_segments(spark, built)  # all 4 segments -> 1 merged
    docmap = os.path.join(built, "docmap")
    before = {d for d in os.listdir(docmap) if d.startswith("segment_ord=")}
    assert len(before) == 5  # 4 old + 1 merged, orphans still on disk
    out = garbage_collect(spark, built, rewrite_postings=True)
    assert len(out["removed_docmap_segments"]) == 4
    after = {d for d in os.listdir(docmap) if d.startswith("segment_ord=")}
    assert len(after) == 1
    # index still fully queryable after GC
    s = Searcher(spark, built)
    assert s.count(L.TermQuery("common")) == 40
    segs = {r["segment_ord"] for r in
            spark.read.parquet(os.path.join(built, "postings"))
            .select("segment_ord").distinct().collect()}
    assert segs == {r2["segment_ord"] for r2 in s.docmap().select("segment_ord").distinct().collect()}


def _jobs_started(spark, fn):
    """(fn(), number of Spark jobs fn started) via a job group."""
    sc = spark.sparkContext
    group = f"count_jobs_{time.time_ns()}"
    sc.setJobGroup(group, "count jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _postings_df_sums(spark, idx, terms):
    """Oracle: postings doc_freq summed over the manifest's live segments."""
    import os

    live = [s["segment_ord"] for s in load_manifest(idx)["segments"]]
    pdf = (spark.read.parquet(os.path.join(idx, "postings"))
           .select("term", "segment_ord", "doc_freq").toPandas())
    pdf = pdf[pdf["term"].isin(terms) & pdf["segment_ord"].isin(live)]
    sums = pdf.groupby("term")["doc_freq"].sum()
    return {t: int(sums.get(t, 0)) for t in terms}


def test_doc_freqs_driver_read_parity(spark, built):
    """Searcher.doc_freqs reads the terms table on the driver: it equals
    the live-segment postings sum through append, delete, merge (with the
    merged-away files still on disk) and delete_term, starts no Spark
    job, and falls back to the postings table when there is no terms
    table."""
    import json
    import os
    import shutil

    from tantivy_spark.operators.merge import delete_query
    from tantivy_spark.writer import Index

    terms = ["common", "w3", "deadbeef", "alive", "filler3", "filler41",
             "appended", "absentterm"]
    _, n = _jobs_started(spark, lambda: spark.range(4).count())
    assert n >= 1                       # the job counter sees jobs

    def check(step):
        want = _postings_df_sums(spark, built, terms)
        s = Searcher(spark, built)
        got, n_jobs = _jobs_started(spark, lambda: s.doc_freqs(terms))
        assert got == want, step
        assert n_jobs == 0, step
        assert got["absentterm"] == 0, step
        return got

    before = check("build")
    assert before["common"] == 40 and before["w3"] == 6

    w = Index(spark, built).writer()
    for i in range(40, 45):
        w.add_document({"conv_id": f"c{i:03d}", "turn_idx": 0,
                        "text": f"common w3 appended filler{i}"})
    w.commit()
    got = check("append")
    assert got["common"] == 45 and got["filler41"] == 1

    assert delete_query(spark, built, L.TermQuery("w3")) == 11
    got = check("delete_query")
    # deleted docs still count until a merge (tantivy keeps stats)
    assert got["w3"] == 11

    merge_segments(spark, built)
    got = check("merge")
    assert got["w3"] == 0 and got["filler3"] == 0
    assert got["common"] == 34
    # the merged-away segments' files are still on disk
    raw = (spark.read.parquet(os.path.join(built, "terms"))
           .filter("term = 'filler3'").count())
    assert raw == 1

    delete_term(spark, built, "deadbeef")
    s = Searcher(spark, built)
    tombs, n_jobs = _jobs_started(spark, s.tombstones)
    assert tombs == ["deadbeef"] and n_jobs == 0
    check("delete_term")

    # an index without a terms table reads the postings table instead
    old = f"{built}_no_terms"
    shutil.copytree(built, old)
    shutil.rmtree(os.path.join(old, "terms"))
    man_path = os.path.join(old, "manifest.json")
    with open(man_path) as f:
        man = json.load(f)
    man.pop("terms_table", None)
    with open(man_path, "w") as f:
        json.dump(man, f)
    s = Searcher(spark, old)
    assert s.terms_table() is None
    got, n_jobs = _jobs_started(spark, lambda: s.doc_freqs(terms))
    assert got == _postings_df_sums(spark, old, terms)
    assert n_jobs == 0


def test_index_writer_casts_to_stored_types(spark, tmp_root):
    """Plain-dict docs (Python int turn_idx, tool=None in every doc)
    committed onto an index built with an INT32 turn_idx and a string
    tool column merge cleanly with the built segments."""
    from tantivy_spark.writer import Index

    idx = f"{tmp_root}/typed_writer_{time.time_ns()}"
    base = spark.createDataFrame(
        [(f"c{i:03d}", i % 3, f"base text{i}", "grep" if i % 4 == 0 else None)
         for i in range(24)],
        "conv_id string, turn_idx int, text string, tool string")
    build_index(spark, base.repartition(2), idx,
                IndexConfig(n_segments=2, n_term_buckets=4))
    w = Index(spark, idx).writer()
    for i in range(6):
        w.add_document({"conv_id": f"n{i:03d}", "turn_idx": i,
                        "text": f"fresh markerone{i % 2}", "tool": None})
    w.commit()
    merge_segments(spark, idx)
    s = Searcher(spark, idx)
    assert s.total_docs == 30
    assert s.count(L.TermQuery("fresh")) == 6
    assert s.count(L.TermQuery("markerone0")) == 3
    assert s.count(L.TermQuery("base")) == 24
