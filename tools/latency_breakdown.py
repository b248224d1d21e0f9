"""Where does the distributed top-10's ~1 s go, and what does the
in-process ServingSearcher do to it?  (VERDICT r3 "Next round" #5.)

Measures, over the sf0.1 documents index (same index directory for both
readers):

  1. spark job-scheduling floor: a no-op `spark.range` count and a
     trivial 1-partition collect — the irreducible per-job cost of the
     distributed path;
  2. the distributed DAAT top-10 split into the driver-side doc-freq
     read (pyarrow over the terms table, no Spark job) and the
     per-segment kernel job (plan build + submit + Arrow round-trip +
     TakeOrderedAndProject);
  3. ServingSearcher latency: cold (process start: manifest + first
     pruned posting reads) and warm (page-cache posture — repeat query,
     best and median over N);
  4. serving after a commit, on a scratch copy of the index (the
     caller's index is never written): one IndexWriter commit of 200
     source documents, the reader's reload(), then one term and one
     OR-3 query over terms read before the commit, each timed once,
     with the postings-file reads each caused (ServingSearcher.stats()):
     only files of the commit's new segments should be read.

Usage:  python tools/latency_breakdown.py [sf_dir]   (default sf0.1)
Prints one JSON document.
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _t(fn, n=1):
    best = float("inf")
    samples = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        samples.append(dt)
        best = min(best, dt)
    return best, samples


def _after_commit(spark, index_dir: str, sf_dir: str, q_term, q_or3) -> dict:
    """Leg 4: reload + the first queries after an append commit, run on
    a copy of `index_dir` in a temporary directory."""
    import shutil
    import tempfile

    import pyarrow.parquet as pq
    from tantivy_spark.operators.serve import ServingSearcher
    from tantivy_spark.writer import Index

    scratch = tempfile.mkdtemp(prefix="latency_breakdown_")
    try:
        copy = os.path.join(scratch, "index")
        shutil.copytree(index_dir, copy)
        srv = ServingSearcher(copy)
        srv.search(q_term, 10)   # the queried terms are read before
        srv.search(q_or3, 10)    # the commit
        docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                             columns=["doc_id", "text", "lang", "source",
                                      "n_chars"]).slice(0, 200).to_pylist()
        segs_before = len(srv._live)
        w = Index(spark, copy).writer()
        for d in docs:
            w.add_document({
                "ext_id": d["doc_id"] + 10**12, "text": d["text"],
                "lang": d["lang"], "source": d["source"],
                "n_chars": d["n_chars"],
                "facet": f"/{d['lang']}/{d['source']}"})
        commit_sec, _ = _t(w.commit)

        def timed(fn):
            reads = srv.stats()["file_reads"]
            sec, _ = _t(fn)
            return sec, srv.stats()["file_reads"] - reads

        reload_sec, reload_reads = timed(srv.reload)
        term_sec, term_reads = timed(lambda: srv.search(q_term, 10))
        or3_sec, or3_reads = timed(lambda: srv.search(q_or3, 10))
        return {
            "commit_sec": round(commit_sec, 4),
            "reload_ms": round(reload_sec * 1e3, 3),
            "cold_term_top10_ms": round(term_sec * 1e3, 3),
            "cold_or3_top10_ms": round(or3_sec * 1e3, 3),
            "file_reads": {"reload": reload_reads, "term": term_reads,
                           "or3": or3_reads},
            "segments_before_commit": segs_before,
            "segments_after_commit": len(srv._live),
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from tantivy_spark.session import get_spark
    import __spark_entry__ as E
    from tantivy_spark.plans import logical as L
    from tantivy_spark.operators.serve import ServingSearcher

    out: dict = {"sf_dir": sf_dir}
    nproc = os.cpu_count() or 1
    spark = get_spark(cores=nproc, shuffle_partitions=nproc)

    s = E._searcher(spark, sf_dir)            # builds once / opens cache
    out["index_dir"] = s.index_dir
    out["total_docs"] = s.total_docs

    q_term = L.TermQuery("table")
    q_or3 = L.BooleanQuery.union(["table", "value", "spark"])
    q_phrase = L.PhraseQuery(("the", "same"))

    # warm everything once (JIT, code paths, FS cache)
    s.search(q_term, 10, "daat").collect()
    s.search(q_or3, 10, "daat").collect()
    s.search(q_phrase, 10, "daat").collect()

    # 1. scheduling floor
    floor_range, _ = _t(lambda: spark.range(32).count(), 5)
    floor_collect, _ = _t(
        lambda: spark.range(10).toDF("x").coalesce(1).collect(), 5)
    out["spark_job_floor_sec"] = {
        "range_count": round(floor_range, 4),
        "one_partition_collect": round(floor_collect, 4),
    }

    # 2. distributed split: driver-side doc-freq read vs kernel job
    def stats_only():
        s._df_cache.clear()
        s.doc_freqs(["table", "value", "spark"])

    stats_sec, _ = _t(stats_only, 5)
    # with the df cache warm, search() skips the doc-freq read -> kernel only
    s.doc_freqs(["table", "value", "spark"])
    kernel_term, _ = _t(lambda: s.search(q_term, 10, "daat").collect(), 5)
    kernel_or3, _ = _t(lambda: s.search(q_or3, 10, "daat").collect(), 5)
    full_term, _ = _t(
        lambda: (s._df_cache.clear(),
                 s.search(q_term, 10, "daat").collect()), 5)
    out["distributed_sec"] = {
        "doc_freq_driver_read": round(stats_sec, 4),
        "kernel_job_term_top10": round(kernel_term, 4),
        "kernel_job_or3_top10": round(kernel_or3, 4),
        "full_term_top10_cold_stats": round(full_term, 4),
    }

    # 3. serving path
    t0 = time.perf_counter()
    srv = ServingSearcher(s.index_dir)
    open_sec = time.perf_counter() - t0
    t0 = time.perf_counter()
    srv.search(q_term, 10)
    cold_term = time.perf_counter() - t0
    t0 = time.perf_counter()
    srv.search(q_or3, 10)
    cold_or3 = time.perf_counter() - t0
    t0 = time.perf_counter()
    srv.search(q_phrase, 10)
    cold_phrase = time.perf_counter() - t0

    warm = {}
    for name, q in (("term", q_term), ("or3", q_or3), ("phrase", q_phrase)):
        best, samples = _t(lambda q=q: srv.search(q, 10), 25)
        warm[name] = {
            "best_ms": round(best * 1e3, 3),
            "median_ms": round(statistics.median(samples) * 1e3, 3),
        }
    out["serving_sec"] = {
        "open_manifest": round(open_sec, 4),
        "cold_term_top10": round(cold_term, 4),
        "cold_or3_top10": round(cold_or3, 4),
        "cold_phrase_top10": round(cold_phrase, 4),
        "warm_ms": warm,
    }

    # 4. serving after a commit (scratch copy of the index)
    out["serving_after_commit"] = _after_commit(
        spark, s.index_dir, sf_dir, q_term, q_or3)

    # parity spot check (cheap insurance in the same run)
    a = srv.search(q_or3, 10)
    b = (s.search(q_or3, 10, "daat")
          .select("segment_ord", "doc_id", "score").collect())
    ok = [(int(x), int(y), float(z)) for x, y, z in
          zip(a["segment_ord"], a["doc_id"], a["score"])] == \
         [(r[0], r[1], float(r[2])) for r in b]
    out["serving_matches_distributed"] = bool(ok)

    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
