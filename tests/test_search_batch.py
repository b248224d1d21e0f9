"""search_batch — many queries in ONE Spark job, rank/score parity.

For every query in the batch, the batched path must return BIT-IDENTICAL
(segment_ord, doc_id, f32 score) top-k to the in-process
`ServingSearcher.search` over the same index: same per-segment kernels,
same weights, same (score desc, segment_ord, doc_id) tie-break.
`search_batch` and per-query `search` share one executor
(`Searcher._run_programs`), and both engines share the query compiler
(`compile_program`) and the per-segment evaluator (`eval_program`), so
the serving reader is not an independent reference: the comparison pins
the two postings loaders, tombstone sources, top-k merges and expansion
engines.  The independent references are the TAAT float64 path, the
DuckDB oracle, the golden f32 fixtures and the brute-force kernel tests
(tests/test_kernel.py).  This is the serving-throughput primitive: per-query
driver scheduling is a fixed serial cost that caps throughput scaling no
matter how many executors exist (measured: 16-query batch at
4-in-flight scaled 2->8 cores at 0.545; batched, the same workload
scales with the kernel).
"""

import time

import numpy as np
import pytest

from tantivy_spark.config import IndexConfig
from tantivy_spark.operators.build import build_index
from tantivy_spark.operators.merge import delete_by_address, delete_term
from tantivy_spark.operators.search import Searcher
from tantivy_spark.operators.serve import ServingSearcher
from tantivy_spark.plans import logical as L
from tantivy_spark.sources.transcripts import transcripts_pdf

O = L.Occur
K = 10

QUERIES = [
    L.TermQuery("w0"),
    L.TermQuery("w17"),
    L.TermQuery("zzz-absent-term"),
    L.EmptyQuery(),
    L.BooleanQuery.union(["w3", "w5", "w11"]),
    L.BooleanQuery.intersection(["w0", "w2"]),
    L.BooleanQuery.new([(O.MUST, L.TermQuery("w0")),
                        (O.SHOULD, L.TermQuery("w9")),
                        (O.MUST_NOT, L.TermQuery("w4"))]),
    L.BooleanQuery.new([(O.SHOULD, L.TermQuery("w1")),
                        (O.SHOULD, L.TermQuery("w6")),
                        (O.SHOULD, L.TermQuery("w8"))],
                       minimum_should_match=2),
    L.BoostQuery(L.TermQuery("w2"), 2.5),
    L.ConstScoreQuery(L.BooleanQuery.union(["w7", "w13"]), 0.25),
    L.BooleanQuery.new([(O.SHOULD, L.BoostQuery(L.TermQuery("w5"), 3.0)),
                        (O.SHOULD, L.TermQuery("w21"))]),
    L.TermSetQuery(("w30", "w31", "w32")),
    L.DisjunctionMaxQuery((L.TermQuery("w1"), L.TermQuery("w2")), 0.3),
    L.BoostQuery(
        L.DisjunctionMaxQuery((L.TermQuery("w0"),
                               L.BoostQuery(L.TermQuery("w3"), 1.7)), 0.0),
        1.3),
    L.PhraseQuery(("w0", "w1")),
    L.PhraseQuery(("w1", "w0"), slop=2),
    L.BoostQuery(L.PhraseQuery(("w0", "w0")), 2.0),
    L.PhraseQuery(("w0", "zzz-absent-term")),
    # mixed boolean: phrase beside terms (BooleanWeight + PhraseScorer)
    L.BooleanQuery.new([(O.MUST, L.PhraseQuery(("w0", "w1"))),
                        (O.SHOULD, L.TermQuery("w5"))]),
    L.BooleanQuery.new([(O.MUST, L.PhraseQuery(("w0", "zzz-absent"))),
                        (O.SHOULD, L.TermQuery("w5"))]),
    # mixed dismax: phrase arm beside a term arm
    L.DisjunctionMaxQuery((L.PhraseQuery(("w0", "w1")),
                           L.TermQuery("w3")), 0.2),
    # phrase programs whose slots hold alternatives
    L.RegexPhraseQuery(("w0", "w[12]")),
    L.BoostQuery(L.PhrasePrefixQuery(("w0", "w1")), 1.5),
    L.PhrasePrefixQuery(("w",)),
]


@pytest.fixture(scope="module")
def built(spark, tmp_root):
    pdf = transcripts_pdf(220)
    idx = f"{tmp_root}/batch_{time.time_ns()}"
    build_index(spark, spark.createDataFrame(pdf), idx,
                IndexConfig(n_segments=5, n_term_buckets=4, positions=True))
    return idx


def _individual(s: Searcher, q, k=K):
    rows = (s.top_docs_frame(q, k=k, mode="daat")
            .select("segment_ord", "doc_id", "score").collect())
    return [(r["segment_ord"], r["doc_id"], np.float32(r["score"]))
            for r in rows]


def _serving(srv: ServingSearcher, q, k=K):
    out = srv.search(q, k)
    return [(int(s), int(d), np.float32(sc)) for s, d, sc in
            zip(out["segment_ord"], out["doc_id"], out["score"])]


def _batched(s: Searcher, queries, k=K):
    rows = s.search_batch(queries, k=k).collect()
    out = {qi: [] for qi in range(len(queries))}
    for r in rows:
        out[r["query_idx"]].append(
            (r["segment_ord"], r["doc_id"], np.float32(r["score"])))
    for qi in out:
        out[qi].sort(key=lambda t: (-t[2], t[0], t[1]))
    return out


def _assert_parity(spark, idx, queries, k=K):
    """search_batch and per-query search must be bit-identical to the
    in-process serving reader."""
    s = Searcher(spark, idx)
    srv = ServingSearcher(idx)
    want = [_serving(srv, q, k) for q in queries]
    got = _batched(s, queries, k)
    for qi, q in enumerate(queries):
        assert got[qi] == want[qi], \
            f"batch query {qi} ({q}): {got[qi]} != {want[qi]}"
        assert _individual(s, q, k) == want[qi], f"search query {qi} ({q})"


def test_batch_matches_individual(spark, built):
    _assert_parity(spark, built, QUERIES)


def test_batch_k1_and_large_k(spark, built):
    some = QUERIES[:8]
    _assert_parity(spark, built, some, k=1)
    _assert_parity(spark, built, some, k=500)


def test_batch_with_tombstones(spark, built, tmp_root):
    """Term + address tombstones flow into the batch kernel as the same
    per-segment alive bitset the individual path uses."""
    import shutil

    idx = f"{tmp_root}/batch_del_{time.time_ns()}"
    shutil.copytree(built, idx)
    delete_term(spark, idx, "w9")
    srch = Searcher(spark, idx)
    victims = srch.search(L.TermQuery("w0"), k=2,
                          fetch_keys=False).collect()
    delete_by_address(
        spark, idx, [(r["segment_ord"], r["doc_id"]) for r in victims])
    _assert_parity(spark, idx, QUERIES)


def test_batch_unsupported_type_raises(spark, built):
    s = Searcher(spark, built)
    with pytest.raises(ValueError, match="search_batch supports"):
        s.search_batch([L.TermQuery("w0"),
                        L.FuzzyTermQuery("w0", distance=1)])


def test_batch_all_empty(spark, built):
    s = Searcher(spark, built)
    out = s.search_batch([L.EmptyQuery(), L.TermQuery("zzz-absent")], k=5)
    assert out.columns == ["query_idx", "segment_ord", "doc_id", "score"]
    assert out.count() == 0


def test_batch_server_parity(spark, built):
    """The batch server must return, for several SUCCESSIVE batches,
    exactly the rows search_batch produces — including that a repeated
    batch re-executes rather than replaying stale results."""
    s = Searcher(spark, built)
    srv = s.batch_server(k=K)
    try:
        for queries in (QUERIES[:10], QUERIES[10:], QUERIES):
            got = {qi: [] for qi in range(len(queries))}
            out = srv.search_many(queries)
            for r in out.itertuples(index=False):
                got[int(r.query_idx)].append(
                    (int(r.segment_ord), int(r.doc_id),
                     np.float32(r.score)))
            want = _batched(s, queries, K)
            assert got == want
    finally:
        srv.close()


def test_batch_fetch_keys(spark, built):
    s = Searcher(spark, built)
    out = s.search_batch([L.TermQuery("w0"), L.TermQuery("w1")], k=3,
                         fetch_keys=True).collect()
    assert {r["query_idx"] for r in out} == {0, 1}
    key_cols = list(s.cfg.key_cols)
    for r in out:
        for c in key_cols:
            assert r[c] is not None
