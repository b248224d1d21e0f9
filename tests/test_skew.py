"""Hot-term skew: the north rule requires explicit skew handling.

Segments are the salt: the postings step encodes one segment per task,
so a term occurring in EVERY doc still produces exactly one encoded row
per (term, segment), and no task ever holds more than one segment's
worth of one term."""

import time

import pandas as pd
from pyspark.sql import functions as F

from tantivy_spark.config import IndexConfig
from tantivy_spark.operators.build import build_index
from tantivy_spark.operators.search import Searcher
from tantivy_spark.plans import logical as L


def test_hot_term_bounded_per_segment(spark, tmp_root):
    n = 400
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:04d}" for i in range(n)],
            "turn_idx": [0] * n,
            # 'hot' in every doc several times + a long-tail term per doc
            "text": [f"hot hot hot rare{i} hot" for i in range(n)],
        }
    )
    idx = f"{tmp_root}/skew_{time.time_ns()}"
    cfg = IndexConfig(n_segments=8, n_term_buckets=4)
    build_index(spark, spark.createDataFrame(pdf), idx, cfg)

    import os

    post = spark.read.parquet(os.path.join(idx, "postings"))
    hot = post.filter(F.col("term") == "hot").collect()
    # exactly one encoded row per segment -> the work splits by
    # (term x segment), never into a single giant task
    assert len(hot) == 8
    assert sum(r["doc_freq"] for r in hot) == n
    assert all(r["doc_freq"] < n for r in hot)
    # per-row payload is the compressed blocks of ONE segment only
    assert max(len(r["doc_enc"]) for r in hot) < 4 * n

    # the stopword-frequency head term still queries correctly
    s = Searcher(spark, idx)
    assert s.count(L.TermQuery("hot")) == n
    top = s.search(L.BooleanQuery.union(["hot", "rare7"]), k=5, mode="daat").collect()
    assert top[0]["conv_id"] == "c0007"  # rare term dominates scoring
    # df=1 tail term resolves through the same pruned path
    assert s.count(L.TermQuery("rare399")) == 1
