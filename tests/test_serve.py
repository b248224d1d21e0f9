"""ServingSearcher (operators/serve.py) — in-process reader parity.

The serving path must return BIT-IDENTICAL (segment_ord, doc_id, f32
score) top-k to the distributed Searcher's DAAT path over the same index
directory: same kernels, same Bm25StatsMixin weight math, same tie-break
(score desc, (segment_ord, doc_id) asc).  This pins the reference's
reader/writer split (src/reader/mod.rs: a Searcher over a pinned manifest
serves queries in-process while writers publish new snapshots).
"""

import time

import numpy as np
import pytest

from tantivy_spark.config import IndexConfig
from tantivy_spark.operators.build import build_index
from tantivy_spark.operators.merge import (
    delete_by_address, delete_query, delete_term,
)
from tantivy_spark.operators.search import Searcher
from tantivy_spark.operators.serve import ServingSearcher
from tantivy_spark.plans import logical as L
from tantivy_spark.sources.transcripts import transcripts_pdf

O = L.Occur
K = 10


@pytest.fixture(scope="module")
def built(spark, tmp_root):
    pdf = transcripts_pdf(220)
    idx = f"{tmp_root}/serve_{time.time_ns()}"
    build_index(spark, spark.createDataFrame(pdf), idx,
                IndexConfig(n_segments=5, n_term_buckets=4, positions=True))
    return idx


def _dist(spark, idx, q, k=K):
    rows = (Searcher(spark, idx)
            .top_docs_frame(q, k=k, mode="daat")
            .select("segment_ord", "doc_id", "score").collect())
    return [(r["segment_ord"], r["doc_id"], np.float32(r["score"]))
            for r in rows]


def _serv(idx, q, k=K):
    out = ServingSearcher(idx).search(q, k)
    return [(int(s), int(d), np.float32(sc)) for s, d, sc in
            zip(out["segment_ord"], out["doc_id"], out["score"])]


QUERIES = [
    L.TermQuery("w0"),
    L.TermQuery("w17"),
    L.TermQuery("zzz-absent-term"),
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
]


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_serving_matches_distributed_daat(spark, built, qi):
    q = QUERIES[qi]
    assert _serv(built, q) == _dist(spark, built, q)


def test_some_queries_nonempty(spark, built):
    """Guard: the parity sweep must not pass vacuously."""
    nonempty = sum(1 for q in QUERIES if _serv(built, q))
    assert nonempty >= 12


def test_serving_count_fast_path(spark, built):
    s = ServingSearcher(built)
    d = Searcher(spark, built)
    for t in ("w0", "w123", "zzz-absent-term"):
        assert s.count(L.TermQuery(t)) == d.count(L.TermQuery(t))


def test_serving_fetch_keys(spark, built):
    out = ServingSearcher(built).search(
        L.BooleanQuery.union(["w2", "w6"]), K, fetch_keys=True)
    assert list(out.columns)[:3] == ["segment_ord", "doc_id", "score"]
    assert {"conv_id", "turn_idx"} <= set(out.columns)
    assert len(out) == K
    # keys agree with the distributed docmap join
    d = Searcher(spark, built)
    addr = {(r["segment_ord"], r["doc_id"]): (r["conv_id"], r["turn_idx"])
            for r in d.docmap().select(
                "segment_ord", "doc_id", "conv_id", "turn_idx").collect()}
    for row in out.itertuples():
        assert addr[(row.segment_ord, row.doc_id)] == \
            (row.conv_id, row.turn_idx)


def test_serving_warm_then_offline_reads_nothing(built, monkeypatch):
    """After warm(), queries over the warmed terms touch no files — the
    page-cache posture of the reference's mmap'd reader."""
    s = ServingSearcher(built).warm(["w0", "w1", "w2"])
    s._dead_by_segment(), s._term_tombstones()  # pin tombstone state too
    import pyarrow.parquet as pq

    def boom(*a, **k):
        raise AssertionError("filesystem touched after warm()")
    monkeypatch.setattr(pq, "read_table", boom)
    monkeypatch.setattr(pq, "ParquetFile", boom)
    for q in (L.TermQuery("w0"),
              L.BooleanQuery.union(["w1", "w2"]),
              L.PhraseQuery(("w0", "w1"))):
        assert len(s.search(q, K)) > 0


@pytest.fixture()
def deleted(spark, tmp_root):
    pdf = transcripts_pdf(120)
    idx = f"{tmp_root}/serve_del_{time.time_ns()}"
    build_index(spark, spark.createDataFrame(pdf), idx,
                IndexConfig(n_segments=4, n_term_buckets=4, positions=True))
    return idx


def test_serving_honors_address_tombstones(spark, deleted):
    before = _serv(deleted, L.TermQuery("w0"))
    assert before
    n = delete_query(spark, deleted, L.TermQuery("w4"))
    assert n > 0
    delete_by_address(spark, deleted, [tuple(before[0][:2])])
    for q in (L.TermQuery("w0"),
              L.BooleanQuery.union(["w0", "w2"]),
              L.DisjunctionMaxQuery((L.TermQuery("w0"),
                                     L.TermQuery("w2")), 0.4),
              L.PhraseQuery(("w0", "w1"))):
        got = _serv(deleted, q)
        assert got == _dist(spark, deleted, q)
        assert tuple(before[0][:2]) not in {g[:2] for g in got}
    # the general count path (no longer the fast path) agrees too
    s = Searcher(spark, deleted)
    assert (ServingSearcher(deleted).count(L.TermQuery("w0"))
            == s.count(L.TermQuery("w0")))


def test_serving_honors_term_tombstones(spark, deleted):
    delete_term(spark, deleted, "w7")
    q = L.BooleanQuery.union(["w0", "w7"])
    got = _serv(deleted, q)
    assert got == _dist(spark, deleted, q)
    # every surviving doc is w7-free (the injected must_not)
    s = Searcher(spark, deleted)
    w7 = {(r["segment_ord"], r["doc_id"]) for r in
          s.flat_postings(["w7"]).select("segment_ord", "doc_id").collect()}
    assert w7 and not ({g[:2] for g in got} & w7)


# ---- expansion queries (fuzzy / regex / phrase-prefix / term-set) ----------

EXPANSION_QUERIES = [
    L.FuzzyTermQuery("w10", distance=1),
    L.FuzzyTermQuery("w10", distance=2),
    L.FuzzyTermQuery("w1", distance=1, prefix=True),
    L.FuzzyTermQuery("w10", distance=1, transposition_cost_one=False),
    L.BoostQuery(L.FuzzyTermQuery("w2", distance=1), 2.0),
    L.RegexQuery("w1[0-9]"),
    L.RegexQuery("w[0-9]"),
    L.BoostQuery(L.RegexQuery("w2.*"), 0.5),
    L.PhrasePrefixQuery(("w0", "w1")),
    L.PhrasePrefixQuery(("w",)),
]


@pytest.mark.parametrize("qi", range(len(EXPANSION_QUERIES)))
def test_serving_expansion_matches_distributed(spark, built, qi):
    q = EXPANSION_QUERIES[qi]
    got = _serv(built, q)
    assert got == _dist(spark, built, q)


def test_expansion_queries_nonempty(spark, built):
    """Guard: the expansion parity sweep must not pass vacuously."""
    nonempty = sum(1 for q in EXPANSION_QUERIES if _serv(built, q))
    assert nonempty >= 8


def test_serving_expansion_lists_match_distributed(spark, built):
    """The expansion sets themselves (not just the scored results) agree
    between the in-process vocab walk and the distributed terms-table
    scan — incl. the CPython-re vs Java-regex engines."""
    s = Searcher(spark, built)
    v = ServingSearcher(built)
    for term, d, pfx in (("w10", 1, False), ("w10", 2, False),
                         ("w1", 1, True), ("w100", 2, True)):
        assert v.expand_fuzzy_scored(term, d, True, pfx) == \
            s.expand_fuzzy_scored(term, d, True, pfx)
    for pat in ("w1[0-9]", "w[0-9]+", "w2.*", "(?i)W1", "w1|w2|w3"):
        assert v.expand_regex(pat) == s.expand_regex(pat)
    for pfx2 in ("w1", "w", "zzz"):
        assert v.expand_prefix(pfx2, 50) == s.expand_prefix(pfx2, 50)


def test_serving_fuzzy_honors_address_tombstones(spark, deleted):
    q = L.FuzzyTermQuery("w10", distance=1)
    before = _serv(deleted, q)
    assert before
    delete_by_address(spark, deleted, [tuple(before[0][:2])])
    got = _serv(deleted, q)
    assert got == _dist(spark, deleted, q)
    assert tuple(before[0][:2]) not in {g[:2] for g in got}


def test_decoded_cache_budget(spark, built):
    """decoded_cache_postings=0 -> no memos ever, queries still exact;
    default budget -> hot terms carry the memo after a query."""
    q = L.BooleanQuery.union(["w0", "w1"])
    lean = ServingSearcher(built, decoded_cache_postings=0)
    got = [(int(s), int(d), np.float32(sc)) for s, d, sc in
           zip(*[lean.search(q, K)[c]
                 for c in ("segment_ord", "doc_id", "score")])]
    assert got == _dist(spark, built, q)
    assert all("_decoded" not in tp.__dict__
               for by_seg in lean._tp.values() for tp in by_seg.values())
    rich = ServingSearcher(built)
    rich.search(q, K)
    assert any("_decoded" in tp.__dict__
               for by_seg in rich._tp.values() for tp in by_seg.values())


def test_lazy_positions_and_grant_release(spark, built):
    """Pure term/boolean queries must not read position streams (the
    largest posting component — lazy per-component reads are the point
    of the serving reader); upgrading a term to positions for a phrase
    query releases the old decoded-cache grant before re-granting."""
    s = ServingSearcher(built)
    s.search(L.TermQuery("w0"), K)
    assert s._tp["w0"], "w0 should have postings"
    assert all(tp.pos_enc is None
               for by_seg in s._tp.values() for tp in by_seg.values())
    # phrase query upgrades w0/w1 to positions
    s.search(L.PhraseQuery(("w0", "w1")), K)
    assert all(tp.pos_enc is not None for tp in s._tp["w0"].values())
    # the budget accounting matches the granted flags exactly (the old
    # grants were released when the term was re-loaded)
    total = sum(tp.doc_freq
                for by_seg in s._tp.values() for tp in by_seg.values()
                if tp.cache_decoded)
    assert s._decoded_granted == total
    # phrase result still matches the distributed engine after upgrade
    q = L.PhraseQuery(("w0", "w1"))
    got = [(int(a), int(b), np.float32(c)) for a, b, c in
           zip(*[s.search(q, K)[c]
                 for c in ("segment_ord", "doc_id", "score")])]
    assert got == _dist(spark, built, q)


# ---- full query-surface parity (nested trees, fast fields, match-all) ------

MLT_DOC = "w0 w1 w2 w0 w1 w3 w5 w0"

# kernel-exact paths: bit-identical f32 vs the distributed DAAT engine
SURFACE_KERNEL_QUERIES = [
    L.BooleanQuery.new([(O.MUST, L.PhraseQuery(("w0", "w1"))),
                        (O.SHOULD, L.TermQuery("w5"))]),
    L.BooleanQuery.new([(O.MUST, L.TermQuery("w0")),
                        (O.MUST_NOT, L.PhraseQuery(("w1", "w2"))),
                        (O.SHOULD, L.PhraseQuery(("w0", "w1"), slop=1))]),
    L.DisjunctionMaxQuery((L.PhraseQuery(("w0", "w1")),
                           L.TermQuery("w5")), 0.3),
    L.BoostQuery(L.DisjunctionMaxQuery(
        (L.BoostQuery(L.PhraseQuery(("w0", "w1")), 2.0),
         L.TermQuery("w2")), 0.5), 1.5),
    L.RegexPhraseQuery(("w0", "w[12]")),
    L.MoreLikeThisQuery(MLT_DOC, min_doc_frequency=1, min_term_frequency=1),
]


@pytest.mark.parametrize("qi", range(len(SURFACE_KERNEL_QUERIES)))
def test_serving_surface_kernel_matches_distributed(spark, built, qi):
    q = SURFACE_KERNEL_QUERIES[qi]
    assert _serv(built, q) == _dist(spark, built, q)


def test_surface_kernel_queries_nonempty(spark, built):
    for q in SURFACE_KERNEL_QUERIES:
        assert _serv(built, q), q


# float64 paths (nested trees / fast-field scans): the distributed DAAT
# engine falls back to the TAAT64 tree evaluation there; serving runs the
# same formulas in numpy.  Summation order inside Catalyst aggregations is
# not pinned, so compare doc sets + per-address score closeness at a k
# that covers every match (rank boundaries can swap on 1-ulp f64 noise).
NESTED_QUERIES = [
    L.BoostQuery(L.AllQuery(), 2.0),
    L.BooleanQuery.new([
        (O.MUST, L.BooleanQuery.union(["w0", "w1"])),
        (O.SHOULD, L.BoostQuery(L.TermQuery("w3"), 2.0)),
        (O.MUST_NOT, L.TermQuery("w9")),
    ]),
    L.DisjunctionMaxQuery((L.TermQuery("w0"),
                           L.BooleanQuery.union(["w3", "w5"])), 0.4),
    L.BooleanQuery.new([
        (O.MUST, L.TermSetQuery(("w0", "w1"))),
        (O.MUST_NOT, L.TermQuery("w7")),
    ]),
    L.BooleanQuery.new([
        (O.MUST, L.RangeQuery("turn_idx", 2, 5)),
        (O.MUST, L.TermQuery("w0")),
    ]),
    L.RangeQuery("turn_idx", 1, 3),
    L.RangeQuery("turn_idx", None, None),
    L.ExistsQuery("tool"),
    L.BooleanQuery.new([
        (O.MUST, L.ExistsQuery("tool")),
        (O.MUST, L.BooleanQuery.union(["w0", "w2"])),
    ]),
]


def _assert_close(spark, idx, q, k=5000):
    want = {(s, d): sc for s, d, sc in _dist(spark, idx, q, k)}
    got = {(s, d): sc for s, d, sc in _serv(idx, q, k)}
    assert set(got) == set(want), q
    for a in got:
        assert np.isclose(got[a], want[a], rtol=1e-5, atol=1e-6), (q, a)


@pytest.mark.parametrize("qi", range(len(NESTED_QUERIES)))
def test_serving_nested_matches_distributed(spark, built, qi):
    _assert_close(spark, built, NESTED_QUERIES[qi])


def test_nested_queries_nonempty(spark, built):
    for q in NESTED_QUERIES:
        assert _serv(built, q, 5000), q


def test_serving_all_query(spark, built):
    # const scores -> fully deterministic ordering on both engines
    assert _serv(built, L.AllQuery(), 7) == _dist(spark, built,
                                                  L.AllQuery(), 7)
    big = _serv(built, L.AllQuery(), 10 ** 6)
    assert len(big) == ServingSearcher(built).total_docs


def test_serving_count_matches_distributed(spark, built):
    s = Searcher(spark, built)
    srv = ServingSearcher(built)
    queries = [
        L.AllQuery(),
        L.BooleanQuery.union(["w0", "w3"]),
        L.BooleanQuery.intersection(["w0", "w1"]),
        L.RangeQuery("turn_idx", 2, 5),
        L.ExistsQuery("tool"),
        L.FuzzyTermQuery("w10", distance=1),
        L.RegexQuery("w1[0-9]"),
        L.PhraseQuery(("w0", "w1")),
        L.MoreLikeThisQuery(MLT_DOC, min_doc_frequency=1,
                            min_term_frequency=1),
    ] + NESTED_QUERIES
    for q in queries:
        assert srv.count(q) == s.count(q), q
    # slop phrases count via phrase_match_arrays (the distributed count
    # path needs a finite k there — compare against a full DAAT fetch)
    slop = L.PhraseQuery(("w1", "w0"), slop=2)
    assert srv.count(slop) == len(_dist(spark, built, slop, 10 ** 6))


def test_serving_surface_honors_tombstones(spark, deleted):
    n = delete_query(spark, deleted, L.TermQuery("w4"))
    assert n > 0
    delete_term(spark, deleted, "w7")
    s = Searcher(spark, deleted)
    srv = ServingSearcher(deleted)
    assert (_serv(deleted, L.AllQuery(), 7)
            == _dist(spark, deleted, L.AllQuery(), 7))
    for q in (L.AllQuery(),
              NESTED_QUERIES[1],
              L.RangeQuery("turn_idx", 1, 3),
              L.ExistsQuery("tool")):
        _assert_close(spark, deleted, q)
        assert srv.count(q) == s.count(q), q


def test_deletes_apply_to_every_query_path(spark, deleted):
    """delete_term materializes to per-segment alive bitsets in the
    reference, and EVERY scorer consults them (index_writer.rs:732) —
    phrase, dismax, expansion and match-all included, on BOTH engines."""
    s0 = Searcher(spark, deleted)
    w7 = {(r["segment_ord"], r["doc_id"]) for r in
          s0.flat_postings(["w7"]).select("segment_ord", "doc_id").collect()}
    assert w7
    delete_term(spark, deleted, "w7")
    for q in (L.PhraseQuery(("w0", "w1")),
              L.DisjunctionMaxQuery((L.TermQuery("w0"),
                                     L.TermQuery("w2")), 0.4),
              L.FuzzyTermQuery("w10", distance=1),
              L.RegexQuery("w1[0-9]"),
              L.PhrasePrefixQuery(("w0", "w1"))):
        got = _serv(deleted, q, 50)
        assert got == _dist(spark, deleted, q, 50)
        assert not ({g[:2] for g in got} & w7), q
    # match-all too, and counts agree
    all_d = _dist(spark, deleted, L.AllQuery(), 10 ** 6)
    assert all_d == _serv(deleted, L.AllQuery(), 10 ** 6)
    assert not ({g[:2] for g in all_d} & w7)
    s = Searcher(spark, deleted)
    srv = ServingSearcher(deleted)
    for q in (L.AllQuery(), L.PhraseQuery(("w0", "w1")),
              L.RegexQuery("w1[0-9]")):
        assert srv.count(q) == s.count(q), q


def test_nested_topk_fills_under_term_tombstones(spark, deleted):
    """The nested fallback excludes term-tombstoned docs BEFORE its
    top-k limit: k results come back when k alive matches exist (an
    after-limit anti-join would under-fill)."""
    delete_term(spark, deleted, "w7")
    nested = L.BooleanQuery.new([
        (O.MUST, L.BooleanQuery.union(["w0", "w1"])),
        (O.SHOULD, L.BoostQuery(L.TermQuery("w3"), 2.0)),
    ])
    alive_total = ServingSearcher(deleted).count(nested)
    k = min(10, alive_total)
    assert k > 0
    want = _dist(spark, deleted, nested, k)
    assert len(want) == k  # filled to k from alive matches
    got = _serv(deleted, nested, k)
    assert {g[:2] for g in got} == {w[:2] for w in want}


def test_msm_counts_absent_should_phrase(spark, built):
    """A SHOULD phrase whose term is corpus-absent still participates in
    minimum_should_match bookkeeping (the distributed _eval_tree yields
    an empty frame, not a dropped clause) — serving mirrors that."""
    q = L.BooleanQuery.new(
        [(O.MUST, L.BooleanQuery.union(["w0", "w1"])),
         (O.SHOULD, L.PhraseQuery(("zzz-absent", "yyy-absent")))],
        minimum_should_match=1)
    assert _serv(built, q, 100) == _dist(spark, built, q, 100) == []
    assert ServingSearcher(built).count(q) == Searcher(spark, built).count(q) == 0


def test_serving_timestamp_range_bounds(spark, built):
    """String rfc3339 bounds on a timestamp fast field coerce the same
    way on both engines (serve._typed_bound_arrow mirrors
    Searcher._typed_bound)."""
    q = L.RangeQuery("ts", "2026-01-01T03:00:00Z", "2026-01-01T20:00:00Z",
                     upper_inclusive=False)
    _assert_close(spark, built, q)
    assert (ServingSearcher(built).count(q)
            == Searcher(spark, built).count(q) > 0)


def test_uncoercible_range_bound_raises(spark, built):
    """An unparseable string bound on a typed fast field is an error on
    BOTH engines (Spark 4 ANSI cast raises CAST_INVALID_INPUT on the
    distributed path; the serving side raises a clear ValueError instead
    of handing pyarrow a string-vs-numeric comparison)."""
    q = L.RangeQuery("turn_idx", "not-a-number", None)
    with pytest.raises(ValueError, match="cannot be coerced"):
        _serv(built, q, 100)
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        _dist(spark, built, q, 100)


def test_serving_reload_picks_up_commits(spark, deleted):
    """IndexReader::reload (src/reader/mod.rs): a long-lived reader
    refreshes to the current manifest — new deletes apply without a
    manifest rewrite, and a merge (manifest rewrite) swaps the segment
    snapshot; results always match a freshly opened reader."""
    from tantivy_spark.operators.merge import merge_segments

    srv = ServingSearcher(deleted)
    before = srv.search(L.TermQuery("w0"), K)
    assert len(before)
    # deletes don't rewrite the manifest: reload() returns False but
    # refreshes tombstone state
    addr = (int(before["segment_ord"][0]), int(before["doc_id"][0]))
    delete_by_address(spark, deleted, [addr])
    assert srv.reload() is False
    got = srv.search(L.TermQuery("w0"), K)
    assert addr not in set(zip((int(x) for x in got["segment_ord"]),
                               (int(x) for x in got["doc_id"])))
    # a merge rewrites the manifest: reload() returns True and the
    # refreshed reader matches a fresh one AND the distributed engine
    merge_segments(spark, deleted)
    assert srv.reload() is True
    q = L.BooleanQuery.union(["w0", "w2"])
    refreshed = [(int(s), int(d), np.float32(sc)) for s, d, sc in
                 zip(*[srv.search(q, K)[c]
                       for c in ("segment_ord", "doc_id", "score")])]
    assert refreshed == _serv(deleted, q) == _dist(spark, deleted, q)


def test_serving_snippets_and_space_usage_match_distributed(spark, built):
    q = L.BooleanQuery.union(["w0", "w1"])
    text = "w0 and then w1 follow each other in w0 w1 sequence"
    g_s = ServingSearcher(built).snippet_generator(q)
    g_d = Searcher(spark, built).snippet_generator(q)
    assert g_s.terms_text == g_d.terms_text
    assert g_s.snippet(text).to_html() == g_d.snippet(text).to_html()
    assert (ServingSearcher(built).space_usage()
            == Searcher(spark, built).space_usage())


RELOAD_QUERIES = [
    L.TermQuery("w0"),
    L.BooleanQuery.union(["w3", "w5", "w11"]),
    L.BooleanQuery.intersection(["w0", "w2"]),
    L.DisjunctionMaxQuery((L.TermQuery("w1"), L.TermQuery("w2")), 0.3),
    L.PhraseQuery(("w0", "w1")),
]


def _top(srv, q, k=K):
    out = srv.search(q, k)
    return [(int(s), int(d), np.float32(sc)) for s, d, sc in
            zip(out["segment_ord"], out["doc_id"], out["score"])]


def _files_under(d):
    """path -> (mtime_ns, size) of the data files under directory `d`."""
    import os

    out = {}
    for root, _, names in os.walk(d):
        for n in names:
            if not n.startswith(("_", ".")):
                st = os.stat(os.path.join(root, n))
                out[os.path.join(root, n)] = (st.st_mtime_ns, st.st_size)
    return out


def test_reload_keeps_unchanged_segments(spark, tmp_root, monkeypatch):
    """A long-lived reader kept open through appends, a delete, a merge
    (its orphan files left on disk), a postings garbage collection and a
    delete_all_documents with its recommit: after every
    reload() its top-10 equals a freshly opened reader's, its
    decoded-cache accounting is exact, and after a commit or a merge it
    reads no postings file that was on disk before (the posting lists
    of unchanged segments are kept, and the footer segment range skips
    files of merged-away segments)."""
    import os

    import pyarrow.parquet as pq

    from tantivy_spark.operators.merge import (
        delete_all_documents, garbage_collect, merge_segments,
    )
    from tantivy_spark.sources.transcripts import generate_conversations
    from tantivy_spark.writer import Index

    idx = f"{tmp_root}/serve_reload_{time.time_ns()}"
    build_index(spark, spark.createDataFrame(transcripts_pdf(60)), idx,
                IndexConfig(n_segments=4, n_term_buckets=4, positions=True))
    readers = [ServingSearcher(idx),
               ServingSearcher(idx, decoded_cache_postings=0)]
    postings_dir = os.path.join(idx, "postings")
    opened: list[str] = []

    class RecordingParquetFile(pq.ParquetFile):
        def __init__(self, source, *a, **kw):
            opened.append(str(source))
            super().__init__(source, *a, **kw)

    real_read_table = pq.read_table

    def recording_read_table(source, *a, **kw):
        # a directory read touches every file under it
        src = str(source)
        opened.extend(_files_under(src) if os.path.isdir(src) else [src])
        return real_read_table(source, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", RecordingParquetFile)
    monkeypatch.setattr(pq, "read_table", recording_read_table)

    def check(step):
        fresh = ServingSearcher(idx)
        for srv in readers:
            for q in RELOAD_QUERIES:
                assert _top(srv, q) == _top(fresh, q), (step, q)
            granted = sum(tp.doc_freq for by_seg in srv._tp.values()
                          for tp in by_seg.values() if tp.cache_decoded)
            assert srv._decoded_granted == granted, step

    file_reads = [0, 0]

    def check_stats(step, new_reads):
        for n, srv in enumerate(readers):
            st = srv.stats()
            assert st["decoded_postings"] == srv._decoded_granted, step
            assert st["file_postings"] <= st["file_postings_limit"], step
            assert st["file_reads"] >= file_reads[n] + new_reads, step
            file_reads[n] = st["file_reads"]
        assert readers[0].stats()["file_cache_hits"] > 0
        assert readers[1].stats()["files_cached"] == 0
        assert readers[1].stats()["decoded_postings"] == 0

    def reload_rereads(changed):
        """reload() + the queries again after `changed()`: the postings
        files opened that were on disk, unchanged, before it, and the
        number of postings files opened."""
        before = _files_under(postings_dir)
        changed()
        opened.clear()
        for srv in readers:
            srv.reload()
            for q in RELOAD_QUERIES:
                srv.search(q, K)
        now = _files_under(postings_dir)
        ours = {p for p in opened if p.startswith(postings_dir)}
        return (sorted(p for p in ours
                       if p in before and before[p] == now.get(p)),
                len(ours))

    check("build")
    w = Index(spark, idx).writer()
    first = 1000
    for c in range(2):
        def commit():
            pdf = generate_conversations(np.arange(first + 10 * c,
                                                   first + 10 * c + 10), 7)
            for doc in pdf.to_dict("records"):
                w.add_document(doc)
            w.commit()
        rereads, n_opened = reload_rereads(commit)
        assert rereads == [], f"commit {c}"
        assert n_opened > 0, f"commit {c}"
        check(f"commit {c}")
        check_stats(f"commit {c}", 1)

    delete_query(spark, idx, L.TermQuery("w7"))
    assert all(srv.reload() is False for srv in readers)
    check("delete_query")
    check_stats("delete_query", 0)

    rereads, n_opened = reload_rereads(lambda: merge_segments(spark, idx))
    assert rereads == [] and n_opened > 0, "merge"
    check("merge")
    check_stats("merge", 1)

    garbage_collect(spark, idx, rewrite_postings=True)
    for srv in readers:
        srv.reload()
        assert all(os.path.exists(p) for p in srv._files)
    check("garbage_collect")
    check_stats("garbage_collect", 0)

    taken = max(readers[0]._live)
    delete_all_documents(spark, idx)
    pdf = generate_conversations(np.arange(2000, 2010), 7)
    for doc in pdf.to_dict("records"):
        w.add_document(doc)
    w.commit()
    for srv in readers:
        assert srv.reload() is True
        assert srv._live[0] > taken       # ords never repeat
    check("delete_all + recommit")
    check_stats("delete_all + recommit", 1)
    assert _top(readers[0], L.TermQuery("w0"))


def test_concurrent_queries_across_reloads(spark, tmp_root):
    """Queries on 8 threads while the manifest flips between the
    snapshots before and after a merge (the merged-away files stay on
    disk, so both are valid) and every query entry may reload: no query
    fails on a map that a reload changed under it, and afterwards the
    reader's decoded-cache accounting is exact and its answers equal a
    freshly opened reader's."""
    import json
    import os
    import sys
    import threading

    from tantivy_spark.operators.build import MANIFEST_NAME, load_manifest
    from tantivy_spark.operators.merge import merge_segments

    idx = f"{tmp_root}/serve_threads_{time.time_ns()}"
    build_index(spark, spark.createDataFrame(transcripts_pdf(60)), idx,
                IndexConfig(n_segments=4, n_term_buckets=4))
    before = load_manifest(idx)
    merge_segments(spark, idx, [0, 1])
    after = load_manifest(idx)
    path = os.path.join(idx, MANIFEST_NAME)

    def publish(man):
        with open(path + ".tmp", "w") as f:
            json.dump(man, f)
        os.replace(path + ".tmp", path)

    queries = [q for q in RELOAD_QUERIES if not isinstance(q, L.PhraseQuery)]
    queries += [L.TermQuery(f"w{i}") for i in range(3, 40, 3)]
    srv = ServingSearcher(idx, reload_policy="on_commit", reload_delay=0.0)
    errors: list[BaseException] = []
    stop = threading.Event()

    def serve():
        try:
            while not stop.is_set():
                for q in queries:
                    srv.search(q, K)
        except BaseException as e:  # reported by the main thread
            errors.append(e)

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    threads = [threading.Thread(target=serve) for _ in range(8)]
    try:
        for t in threads:
            t.start()
        deadline = time.monotonic() + 3.0
        flips = 0
        while time.monotonic() < deadline and not errors:
            publish(after if flips % 2 == 0 else before)
            srv.reload()
            flips += 1
            time.sleep(0.005)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(old_interval)
        publish(after)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert flips > 10
    srv.reload()
    granted = sum(tp.doc_freq for by_seg in srv._tp.values()
                  for tp in by_seg.values() if tp.cache_decoded)
    assert srv._decoded_granted == granted
    fresh = ServingSearcher(idx)
    for q in queries:
        assert _top(srv, q) == _top(fresh, q), q
