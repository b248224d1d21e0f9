"""Docmap parity of the two settings of ``IndexConfig.jvm_tokenize``.

``jvm_tokenize=True`` (the default) tokenizes the default analyzer with
the Arrow kernel; ``jvm_tokenize=False`` forces the vectorized-pandas
analyzer.  Both must yield the same docmap on adversarial corpora
(single and multi field), or the vocabulary an index is built with
would depend on a performance switch.
"""
from __future__ import annotations

import random

import pandas as pd
import pytest

from tantivy_spark.config import IndexConfig
from tantivy_spark.operators.build import build_docmap
from tests.test_arrow_tokenize import EDGE_TEXTS


def _docmap_frames(spark, pdf, cfg_jvm, cfg_py, cols):
    src = spark.createDataFrame(pdf)
    a = build_docmap(spark, src, cfg_jvm).select(*cols).toPandas()
    b = build_docmap(spark, src, cfg_py).select(*cols).toPandas()
    a = a.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    b = b.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return a, b


class TestDocmapParity:
    @pytest.fixture(scope="class")
    def corpus(self):
        rng = random.Random(7)
        texts = EDGE_TEXTS * 3 + [
            f"conv turn {i} filler text value {'x' * (i % 45)}"
            for i in range(60)
        ]
        return pd.DataFrame({
            "conv_id": [f"c{i % 13}" for i in range(len(texts))],
            "turn_idx": list(range(len(texts))),
            "role": [rng.choice(["user", "assistant"]) for _ in texts],
            "text": texts,
        })

    def test_single_field(self, spark, corpus):
        cfg = IndexConfig(n_segments=4, jvm_tokenize=True)
        cfg_py = IndexConfig(n_segments=4, jvm_tokenize=False)
        assert cfg.uses_arrow_kernel() and not cfg_py.uses_arrow_kernel()
        cols = ["conv_id", "turn_idx", "segment_ord", "doc_id",
                "terms", "token_count", "fieldnorm_id"]
        a, b = _docmap_frames(spark, corpus, cfg, cfg_py, cols)
        assert a["terms"].map(list).tolist() == b["terms"].map(list).tolist()
        for c in cols:
            if c != "terms":
                assert a[c].tolist() == b[c].tolist(), c

    def test_multi_field(self, spark, corpus):
        corpus = corpus.assign(
            role=corpus["role"],
            title=[t[:25] if t else t for t in corpus["text"]],
        )
        cfg = IndexConfig(n_segments=4, jvm_tokenize=True,
                          extra_fields=("role", "title"))
        cfg_py = IndexConfig(n_segments=4, jvm_tokenize=False,
                             extra_fields=("role", "title"))
        cols = ["conv_id", "turn_idx", "segment_ord", "doc_id", "terms",
                "token_count", "fieldnorm_id", "term_fns",
                "xf_tc_role", "xf_fn_role", "xf_tc_title", "xf_fn_title"]
        a, b = _docmap_frames(spark, corpus, cfg, cfg_py, cols)
        assert a["terms"].map(list).tolist() == b["terms"].map(list).tolist()
        assert a["term_fns"].map(list).tolist() == b["term_fns"].map(list).tolist()
        for c in cols:
            if c not in ("terms", "term_fns"):
                assert a[c].tolist() == b[c].tolist(), c
