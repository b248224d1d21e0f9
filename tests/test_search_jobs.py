"""An interactive distributed query is ONE Spark job.

`Searcher.search(q, k).collect()` of a kernel-family query runs its
top-k as a batch of one on the direct per-segment executor
(`Searcher._run_programs`: one job of cluster-sized tasks), merges the
candidates on the driver and fetches the keys with a pruned pyarrow
docmap read into a local relation — building and collecting that
relation runs no job.  Term statistics are a driver read of the terms
table.  The hits must stay bit-equal to the in-process
`ServingSearcher.search` and carry the same key columns, with and
without pending term and address tombstones.

Regex-phrase and phrase-prefix queries first expand their patterns
against the term dictionary, which is a Spark scan of the terms table
of its own (`expand_regex` / `expand_prefix`); those jobs are counted
separately and allowed on top of the one query job.
"""

import shutil
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

QUERIES = {
    "term": L.TermQuery("w0"),
    "or": L.BooleanQuery.union(["w3", "w5", "w11"]),
    "and": L.BooleanQuery.intersection(["w0", "w2"]),
    "dismax": L.DisjunctionMaxQuery((L.TermQuery("w1"),
                                     L.TermQuery("w2")), 0.3),
    "phrase": L.PhraseQuery(("w0", "w1")),
    "mixed": L.BooleanQuery.new([(O.MUST, L.PhraseQuery(("w0", "w1"))),
                                 (O.SHOULD, L.TermQuery("w5"))]),
    "regex_phrase": L.RegexPhraseQuery(("w0", "w[12]")),
    "phrase_prefix": L.PhrasePrefixQuery(("w0", "w1")),
    # an empty result must not fall back to an RDD-backed frame
    "no_hits": L.BooleanQuery.intersection(["w0", "zzz-absent"]),
}


@pytest.fixture(scope="module")
def built(spark, tmp_root):
    pdf = transcripts_pdf(220)
    idx = f"{tmp_root}/jobs_{time.time_ns()}"
    build_index(spark, spark.createDataFrame(pdf), idx,
                IndexConfig(n_segments=5, n_term_buckets=4, positions=True))
    return idx


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("test_search_jobs_idle", "idle")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _expansion_jobs(spark, s: Searcher, q, group: str) -> int:
    """Spark jobs of the term-dictionary expansions `q` runs."""
    def expand():
        if isinstance(q, L.RegexPhraseQuery):
            for pat in q.patterns:
                s.expand_regex(pat, max_expansions=q.max_expansions)
        elif isinstance(q, L.PhrasePrefixQuery):
            s.expand_prefix(q.phrase_terms[-1], q.max_expansions)
    return _jobs(spark, group, expand)[1]


def _check(spark, idx: str, tag: str) -> None:
    s = Searcher(spark, idx)
    srv = ServingSearcher(idx)
    keys = list(s.cfg.key_cols)
    # the first query of a session starts the Python workers
    s.search(L.TermQuery("w7"), K).collect()
    for name, q in QUERIES.items():
        group = f"{tag}_{name}_{time.time_ns()}"
        rows, jobs = _jobs(spark, group, lambda: s.search(q, K).collect())
        allowed = 1 + _expansion_jobs(spark, s, q, group + "_exp")
        assert jobs <= allowed, f"{tag} {name}: {jobs} Spark jobs"
        want = srv.search(q, K, fetch_keys=True)
        assert (len(want) == 0) == (name == "no_hits"), f"{tag} {name}"
        got_hits = [(r["segment_ord"], r["doc_id"],
                     np.float32(r["score"]).view(np.uint32)) for r in rows]
        want_hits = [(int(a), int(b), np.float32(c).view(np.uint32))
                     for a, b, c in zip(want["segment_ord"],
                                        want["doc_id"], want["score"])]
        assert got_hits == want_hits, f"{tag} {name}"
        assert [tuple(r[c] for c in keys) for r in rows] == \
            [tuple(t) for t in want[keys].itertuples(index=False)], \
            f"{tag} {name}: key columns"
    # the query path never collects the address-tombstone list
    assert s._doc_tombstones is None


def test_one_job_per_query(spark, built):
    _check(spark, built, "clean")


def test_one_job_per_query_with_tombstones(spark, built, tmp_root):
    idx = f"{tmp_root}/jobs_del_{time.time_ns()}"
    shutil.copytree(built, idx)
    delete_term(spark, idx, "w9")
    victims = Searcher(spark, idx).search(
        L.TermQuery("w0"), k=3, fetch_keys=False).collect()
    delete_by_address(
        spark, idx, [(r["segment_ord"], r["doc_id"]) for r in victims])
    _check(spark, idx, "deletes")
