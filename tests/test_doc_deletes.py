"""delete_query / delete_by_address / delete_all_documents
(index_writer.rs:551,750,762 analogues over address tombstones)."""

import pytest

from tantivy_spark.config import IndexConfig
from tantivy_spark.operators.build import build_index
from tantivy_spark.operators.merge import (
    delete_all_documents, delete_by_address, delete_query, doc_tombstones,
    merge_segments,
)
from tantivy_spark.operators.search import Searcher
from tantivy_spark.plans import logical as L


@pytest.fixture()
def small_index(spark, tmp_path):
    rows = [(f"d{i:02d}", ("alpha common " * (i + 1)) +
             ("beta " if i % 3 == 0 else "") + f"tok{i}")
            for i in range(12)]
    src = spark.createDataFrame(rows, "k string, text string")
    idx = str(tmp_path / "del_idx")
    cfg = IndexConfig(text_col="text", key_cols=("k",),
                      segment_col="k", n_segments=3,
                      n_term_buckets=2, positions=False)
    build_index(spark, src, idx, cfg)
    return idx


def test_delete_query_excludes_matches(spark, small_index):
    s = Searcher(spark, small_index)
    beta_docs = {(r["segment_ord"], r["doc_id"]) for r in
                 s.top_docs_frame(L.TermQuery("beta"), k=None,
                                  mode="taat64").collect()}
    n = delete_query(spark, small_index, L.TermQuery("beta"))
    assert n == len(beta_docs) > 0
    s2 = Searcher(spark, small_index)
    # the deleted addresses never appear again, on either path
    for mode in ("daat", "taat64"):
        got = {(r["segment_ord"], r["doc_id"]) for r in
               s2.top_docs_frame(L.TermQuery("common"), k=4,
                                 mode=mode).collect()}
        assert got and not (got & beta_docs)
        assert len(got) == 4          # k fills with live docs
    assert s2.count(L.TermQuery("beta")) == 0
    assert s2.count(L.TermQuery("common")) == 12 - n
    # AllQuery path honors the tombstones too
    assert s2.top_docs_frame(L.AllQuery(), k=None,
                             mode="taat64").count() == 12 - n


def test_delete_by_address_then_merge_drops_physically(spark, small_index):
    s = Searcher(spark, small_index)
    top = s.top_docs_frame(L.TermQuery("common"), k=2).collect()
    addrs = [(r["segment_ord"], r["doc_id"]) for r in top]
    delete_by_address(spark, small_index, addrs)
    assert set(doc_tombstones(spark, small_index)) == set(addrs)
    s2 = Searcher(spark, small_index)
    got = {(r["segment_ord"], r["doc_id"]) for r in
           s2.top_docs_frame(L.TermQuery("common"), k=12).collect()}
    assert not (got & set(addrs)) and len(got) == 10
    merge_segments(spark, small_index)
    assert doc_tombstones(spark, small_index) == []   # consumed
    s3 = Searcher(spark, small_index)
    assert s3.count(L.TermQuery("common")) == 10
    assert s3.total_docs == 10


def test_delete_all_documents(spark, small_index):
    delete_all_documents(spark, small_index)
    s = Searcher(spark, small_index)
    assert s.total_docs == 0
    assert s.top_docs_frame(L.AllQuery(), k=None, mode="taat64").count() == 0


def test_mass_delete_is_scale_safe(spark, tmp_path):
    """Deleting ~20% of a 100k-doc corpus must stay distributed end to
    end: delete_query writes matches without collecting them, the DAAT
    top-k stays k live docs (no k+|dead| over-fetch: each kernel task
    reads its own segment's dead ids as an alive bitset), and the
    driver never materializes the dead list."""
    from pyspark.sql import functions as F

    n_docs, n_dead = 100_000, 20_000
    src = spark.range(n_docs).select(
        F.concat(F.lit("d"), F.col("id")).alias("k"),
        F.concat(
            F.lit("common word"),
            F.when(F.col("id") % 5 == 0, F.lit(" kill")).otherwise(F.lit("")),
            F.lit(" tok"), (F.col("id") % 97).cast("string"),
        ).alias("text"),
    )
    idx = str(tmp_path / "mass_del_idx")
    cfg = IndexConfig(text_col="text", key_cols=("k",), segment_col="k",
                      n_segments=8, n_term_buckets=4, positions=False)
    build_index(spark, src, idx, cfg)

    assert delete_query(spark, idx, L.TermQuery("kill")) == n_dead

    s = Searcher(spark, idx)
    rows = s.top_docs_frame(L.TermQuery("common"), k=10,
                            mode="daat").collect()
    # the global top-k is k docs, not k + |dead|
    assert len(rows) == 10
    live = s.search(L.TermQuery("common"), k=10).collect()
    assert len(live) == 10
    assert all(int(r["k"][1:]) % 5 != 0 for r in live)
    assert s.count(L.TermQuery("kill")) == 0
    assert s.count(L.TermQuery("common")) == n_docs - n_dead
    # the query path never pulled the dead list onto the driver
    assert s._doc_tombstones is None


def test_merge_drops_mass_deletes_distributed(spark, tmp_path, monkeypatch):
    """A merge after a hot-term delete_query tombstoning ~20% of a
    100k-doc corpus must consume the tombstones without EVER collecting
    the dead set on the driver: the docmap anti-join runs against the
    distributed dead_docs_df frame (merger.rs drop-deleted semantics,
    minus the reference's in-memory bitsets).  The driver-collect
    helpers are poisoned for the duration of the merge to prove they
    are never on the merge path."""
    from pyspark.sql import functions as F

    from tantivy_spark.operators import merge as M

    n_docs, n_dead = 100_000, 20_000
    src = spark.range(n_docs).select(
        F.concat(F.lit("d"), F.col("id")).alias("k"),
        F.concat(
            F.lit("common word"),
            F.when(F.col("id") % 5 == 0, F.lit(" kill")).otherwise(F.lit("")),
            F.lit(" tok"), (F.col("id") % 97).cast("string"),
        ).alias("text"),
    )
    idx = str(tmp_path / "mass_merge_idx")
    cfg = IndexConfig(text_col="text", key_cols=("k",), segment_col="k",
                      n_segments=8, n_term_buckets=4, positions=False)
    build_index(spark, src, idx, cfg)
    assert delete_query(spark, idx, L.TermQuery("kill")) == n_dead

    def _boom(*a, **kw):
        raise AssertionError("dead set collected on the driver")

    monkeypatch.setattr(M, "doc_tombstones", _boom)
    monkeypatch.setattr(Searcher, "doc_tombstones", _boom)
    merge_segments(spark, idx)

    s = Searcher(spark, idx)
    assert s.total_docs == n_docs - n_dead
    assert not s.has_doc_tombstones()      # consumed by the merge
    assert s.count(L.TermQuery("kill")) == 0
    assert s.count(L.TermQuery("common")) == n_docs - n_dead
    top = s.search(L.TermQuery("common"), k=10).collect()
    assert len(top) == 10
    assert all(int(r["k"][1:]) % 5 != 0 for r in top)


def test_reserved_column_names_rejected(spark, tmp_path):
    from tantivy_spark.operators.build import build_docmap

    src = spark.createDataFrame([("a", "x", 1)],
                                "doc_id string, text string, v int")
    cfg = IndexConfig(text_col="text", key_cols=("doc_id",),
                      segment_col="doc_id", n_segments=1, n_term_buckets=1)
    with pytest.raises(ValueError, match="reserved"):
        build_docmap(spark, src, cfg)


def test_tombstone_rewrite_crash_recovery(spark, small_index):
    """A crash in _rewrite_doc_tombstones between removing the source
    dir and renaming the staged rewrite into place must not lose the
    pending tombstones: readers recover the completed staging dir
    (marker present) via tombstones_docs_path."""
    import os
    import shutil

    from tantivy_spark.operators import merge as M
    from tantivy_spark.operators.serve import ServingSearcher

    s = Searcher(spark, small_index)
    top = s.top_docs_frame(L.TermQuery("common"), k=2).collect()
    addrs = [(r["segment_ord"], r["doc_id"]) for r in top]
    delete_by_address(spark, small_index, addrs)
    path = os.path.join(small_index, M.TOMBSTONES_DOCS_DIR)
    tmp = path + ".rewrite"
    # simulate the crash window: staged rewrite complete (marker
    # written), source removed, rename never executed
    shutil.copytree(path, tmp)
    open(os.path.join(tmp, M._REWRITE_DONE), "w").close()
    shutil.rmtree(path)
    # a fresh distributed reader recovers the swap and honors them
    s2 = Searcher(spark, small_index)
    got = {(r["segment_ord"], r["doc_id"]) for r in
           s2.top_docs_frame(L.TermQuery("common"), k=12).collect()}
    assert got and not (got & set(addrs))
    assert os.path.isdir(path) and not os.path.exists(tmp)
    # the serving reader resolves through the same helper
    shutil.copytree(path, tmp)
    open(os.path.join(tmp, M._REWRITE_DONE), "w").close()
    shutil.rmtree(path)
    srv = ServingSearcher(small_index)
    out = srv.search(L.TermQuery("common"), 12)
    got_srv = set(zip((int(x) for x in out["segment_ord"]),
                      (int(x) for x in out["doc_id"])))
    assert got_srv and not (got_srv & set(addrs))
    # an INCOMPLETE staging dir (no marker) is never recovered
    shutil.copytree(path, tmp)
    marker = os.path.join(tmp, M._REWRITE_DONE)
    if os.path.exists(marker):
        os.unlink(marker)
    shutil.rmtree(path)
    assert M.tombstones_docs_path(small_index) == path
    assert not os.path.isdir(path) and os.path.isdir(tmp)


def test_all_query_excludes_term_tombstones(spark, small_index):
    """Docs containing a deleted term are dead for EVERY query
    (index_writer.rs:732) — the match-all fast path included."""
    from tantivy_spark.operators.merge import delete_term

    s = Searcher(spark, small_index)
    beta = {(r["segment_ord"], r["doc_id"]) for r in
            s.flat_postings(["beta"]).select(
                "segment_ord", "doc_id").collect()}
    assert beta
    delete_term(spark, small_index, "beta")
    s2 = Searcher(spark, small_index)
    got = {(r["segment_ord"], r["doc_id"]) for r in
           s2.top_docs_frame(L.AllQuery(), k=None, mode="taat64").collect()}
    assert got and not (got & beta)
    assert s2.count(L.AllQuery()) == 12 - len(beta)
