"""Arrow-kernel default-analyzer parity vs the Python parity oracle.

The index build's default hot path tokenizes with the vectorized numpy
kernel over raw Arrow buffers (functions/arrow_tokenize.py, wired in
build.py _tokenize_arrow).  A divergent byte anywhere silently splits
the index vocabulary from the query analyzer, so parity is pinned here:
per-codepoint class membership (full-space strided sweep + the
Unicode-version-skew ranges exhaustively), the RemoveLong byte boundary,
the no-final-sigma lowercase contract incl. the U+0130 utf8proc patch,
doc boundaries, null handling, and whole-docmap equality of the three
stage-1 dataflows (arrow kernel in a DataFrame stage, arrow kernel in
the direct-IO docmap writer, pandas analyzer) on adversarial corpora.
"""
from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from tantivy_spark.config import IndexConfig
from tantivy_spark.functions import analysis
from tantivy_spark.functions.arrow_tokenize import tokenize_default_arrow
from tantivy_spark.operators.build import (build_docmap,
                                           build_docmap_segment_files)

#: Codepoints CPython (Unicode 15) classes as alphanumeric but Java 17
#: (Unicode 13) does not (525 cps, all added to Unicode after 13: Arabic
#: Extended-B, Latin Ext-F/G, Old Uyghur, Cypro-Minoan, Tangsa, Kana
#: Ext-B, CJK Ext ...) — the characters where engines built on different
#: Unicode versions disagree, swept exhaustively below.
_SKEW_RANGES = (
    (0x870, 0x887), (0x889, 0x88E), (0x8B5, 0x8B5), (0x8C8, 0x8C9),
    (0xC5D, 0xC5D), (0xCDD, 0xCDD), (0x170D, 0x170D), (0x171F, 0x171F),
    (0x1B4C, 0x1B4C), (0x2C2F, 0x2C2F), (0x2C5F, 0x2C5F), (0x9FFD, 0x9FFF),
    (0xA7C0, 0xA7C1), (0xA7D0, 0xA7D1), (0xA7D3, 0xA7D3), (0xA7D5, 0xA7D9),
    (0xA7F2, 0xA7F4), (0x10570, 0x1057A), (0x1057C, 0x1058A),
    (0x1058C, 0x10592), (0x10594, 0x10595), (0x10597, 0x105A1),
    (0x105A3, 0x105B1), (0x105B3, 0x105B9), (0x105BB, 0x105BC),
    (0x10780, 0x10785), (0x10787, 0x107B0), (0x107B2, 0x107BA),
    (0x10F70, 0x10F81), (0x11071, 0x11072), (0x11075, 0x11075),
    (0x11740, 0x11746), (0x11AB0, 0x11ABF), (0x12F90, 0x12FF0),
    (0x16A70, 0x16ABE), (0x16AC0, 0x16AC9), (0x1AFF0, 0x1AFF3),
    (0x1AFF5, 0x1AFFB), (0x1AFFD, 0x1AFFE), (0x1B11F, 0x1B122),
    (0x1DF00, 0x1DF1E), (0x1E290, 0x1E2AD), (0x1E7E0, 0x1E7E6),
    (0x1E7E8, 0x1E7EB), (0x1E7ED, 0x1E7EE), (0x1E7F0, 0x1E7FE),
    (0x2A6DE, 0x2A6DF), (0x2B735, 0x2B738),
)

# chars from the Unicode-version-skew ranges (Python-only word chars)
_PATCH_SAMPLES = [chr(a) for a, _ in _SKEW_RANGES] + [
    chr(b) for _, b in _SKEW_RANGES
]

EDGE_TEXTS = [
    None,
    "",
    "   ",
    "___",
    "hello world",
    "Hello_World mixed_CASE",
    "ΣΑΣ ΟΔΥΣΣΕΥΣ τελος ΤΕΛΟΣ σοφός ήδη ΉΔΗ",          # final-sigma contexts
    "ςδε δες ΑΣΒ",                                      # genuine ς preserved
    "İstanbul ısız SS ß ẞ straße STRASSE",               # special casings
    "a" * 39 + " " + "b" * 40 + " " + "c" * 41,          # byte-length boundary
    "é" * 19 + " " + "é" * 20 + " " + "é" * 21,          # 2-byte chars at 38/40/42
    "€100 50% a+b=c x_y-z",
    "日本語のテキスト 中文文本 русский текст العربية",
    "Ⅻ ⅻ ① ¼ ² ３．１４",                                # Nl / No / fullwidth digits
    "ﬁﬂﬆ ǅǈǋ ǆǉǌ",                                       # ligature/titlecase lowers
    " ".join(_PATCH_SAMPLES),                            # version-skew chars
    "á ë̄ combining",                   # combining marks split
    "tab\tnewline\nmix\r\nend",
    "𝕳𝖊𝖑𝖑𝖔 𝒲𝑜𝓇𝓁𝒹 𝟙𝟚𝟛",                                  # math alnum (astral)
    "😀 emoji 🎉 mix 🚀x",
]


def _py_tokens(texts: list[str | None]) -> list[list[str]]:
    return [
        analysis.tokenize_default(t)[0] if t is not None else []
        for t in texts
    ]


def _arrow_tokens(texts: list[str | None]) -> list[list[str]]:
    return tokenize_default_arrow(pa.array(texts, type=pa.string())).to_pylist()


class TestKernelParity:
    def test_edge_vectors(self):
        assert _arrow_tokens(EDGE_TEXTS) == _py_tokens(EDGE_TEXTS)

    def test_length_boundaries(self):
        # RemoveLong is byte-based and pre-lowercase; 1/2/3/4-byte chars
        # straddling the 40-byte limit, plus İ whose LOWERED form grows
        texts = []
        for ch in ["x", "é", "你", "𐐷", "Ⱥ"]:
            w = len(ch.encode())
            for n in (39 // w, 40 // w, 40 // w + 1):
                texts.append(ch * n)
                texts.append(f"pre {ch * n} post")
        texts += ["İ" * 20, "İ" * 13 + " ok", "K" * 13, "Å" * 14]
        assert _arrow_tokens(texts) == _py_tokens(texts)

    def test_sigma_and_utf8proc_patch(self):
        texts = ["ΣΑΣ ΟΔΥΣΣΕΥΣ", "ΑΣ", "Σ", "ςδε δες", "İstanbul", "İ",
                 "aİb Σc", "ÄÖÜ ǅǈǋ ﬁﬂ"]
        assert _arrow_tokens(texts) == _py_tokens(texts)

    def test_nulls_and_boundaries(self):
        # nulls -> [], empties, and adjacent docs whose token bytes touch
        # (a doc ending in a token byte followed by a doc starting with one
        # must NOT merge across the boundary)
        texts = [None, "", "abc", "", None, "def", "a", "b", None]
        assert _arrow_tokens(texts) == _py_tokens(texts)
        # sliced array (nonzero arr.offset) takes the same path
        arr = pa.array(["xx yy", "zz", "aa-bb", None, "cc"], pa.string())
        sl = arr.slice(1, 3)
        assert tokenize_default_arrow(sl).to_pylist() == _py_tokens(
            ["zz", "aa-bb", None])

    def test_codepoint_sweep_embedded(self):
        """Every 7th codepoint, embedded between ASCII anchors (catches
        class, continuation-inherit, and lowercase divergence in one
        shot); patch-range codepoints exhaustively."""
        cps = [cp for cp in range(0x20, 0x110000, 7)
               if not (0xD800 <= cp <= 0xDFFF)]
        for a, b in _SKEW_RANGES:
            cps.extend(range(a, b + 1))
        texts = [f"a{chr(c)}b" for c in cps]
        got = _arrow_tokens(texts)
        exp = _py_tokens(texts)
        bad = [hex(c) for c, g, e in zip(cps, got, exp) if g != e]
        assert not bad, f"divergence at codepoints {bad[:20]}"

    def test_random_fuzz(self):
        rng = random.Random(0xA11)
        pool = (
            [chr(c) for c in range(0x20, 0x250)]
            + ["Σ", "σ", "ς", "İ", "ı", "ß", "ẞ", "Ⱥ", "_", " ", "\t", "\n"]
            + _PATCH_SAMPLES
            + [chr(rng.randrange(0x250, 0x3000)) for _ in range(200)]
            + [chr(rng.randrange(0x1D400, 0x1D800)) for _ in range(50)]
            + [chr(rng.randrange(0x10000, 0x30000)) for _ in range(100)]
        )
        texts = [
            "".join(rng.choice(pool) for _ in range(rng.randrange(0, 120)))
            for _ in range(500)
        ]
        assert _arrow_tokens(texts) == _py_tokens(texts)

    def test_positions_gaps(self):
        # RemoveLong leaves position gaps (remove_long.rs:28-37)
        texts = ["hello " + "x" * 45 + " world again",
                 "x" * 40 + " a " + "y" * 41 + " b", "", None, "one",
                 "é" * 21 + " tail", "a b c d"]
        got = tokenize_default_arrow(pa.array(texts, pa.string()),
                                     positions=True)
        got_t, got_p = got[0].to_pylist(), got[1].to_pylist()
        exp = [analysis.tokenize_default(t) if t is not None else ([], [])
               for t in texts]
        assert got_t == [e[0] for e in exp]
        assert got_p == [e[1] for e in exp]

    def test_positions_fuzz(self):
        rng = random.Random(0xBEE)
        pool = ["tok", "x" * 44, "é" * 25, "Σ", "İ", "𐐷" * 12, "ok", "-"]
        texts = [" ".join(rng.choice(pool)
                          for _ in range(rng.randrange(0, 30)))
                 for _ in range(400)]
        got_t, got_p = tokenize_default_arrow(
            pa.array(texts, pa.string()), positions=True)
        exp = [analysis.tokenize_default(t) for t in texts]
        assert got_t.to_pylist() == [e[0] for e in exp]
        assert got_p.to_pylist() == [e[1] for e in exp]

    def test_ascii_only_fast_path(self):
        texts = ["Hello World", "MIXED case 123", "a-b_c", "", "   ",
                 "A" * 39, "A" * 40]
        assert _arrow_tokens(texts) == _py_tokens(texts)


def _stage1_frames(spark, src, cols, list_cols, docmap_dir, **cfg_kw):
    """The docmap of each stage-1 dataflow, key-sorted: the arrow kernel
    in a DataFrame stage, the arrow kernel inside the direct-IO docmap
    writer (read back from its files), and the pandas analyzer."""
    frames = []
    for engine in ("arrow", "direct", "pandas"):
        cfg = IndexConfig(n_segments=4, jvm_tokenize=engine != "pandas",
                          **cfg_kw)
        if engine == "direct":
            build_docmap_segment_files(spark, src, docmap_dir, cfg)
            dm = spark.read.parquet(docmap_dir)
        else:
            dm = build_docmap(spark, src, cfg)
        f = (dm.select(*cols).toPandas()
             .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
        for c in list_cols:
            f[c] = f[c].map(list)
        frames.append(f)
    return frames


class TestDocmapEquality:
    def test_three_engines_identical(self, spark, tmp_path):
        rng = random.Random(3)
        pool = EDGE_TEXTS[4:] + ["plain text turn", "Σ İ Ⱥ mixed 𝟙𝟚"]
        pdf = pd.DataFrame({
            "conv_id": [f"c{i % 37}" for i in range(600)],
            "turn_idx": [i // 37 for i in range(600)],
            "text": [rng.choice(pool) for _ in range(600)],
        })
        src = spark.createDataFrame(pdf)
        cols = ["conv_id", "turn_idx", "segment_ord", "doc_id",
                "terms", "token_count", "fieldnorm_id"]
        frames = _stage1_frames(spark, src, cols, ["terms"],
                                str(tmp_path / "docmap"))
        pd.testing.assert_frame_equal(frames[0], frames[1])
        pd.testing.assert_frame_equal(frames[0], frames[2])

    def test_multifield_three_engines_identical(self, spark, tmp_path):
        rng = random.Random(17)
        pool = EDGE_TEXTS[4:] + ["plain text turn", "Σ İ mixed"]
        roles = ["user", "assistant", "TOOL call", "", None, "Σ É role"]
        pdf = pd.DataFrame({
            "conv_id": [f"c{i % 13}" for i in range(400)],
            "turn_idx": [i // 13 for i in range(400)],
            "text": [rng.choice(pool) for _ in range(400)],
            "role": [rng.choice(roles) for _ in range(400)],
            "nval": [rng.randrange(0, 10**6) for _ in range(400)],
        })
        src = spark.createDataFrame(pdf)
        cols = ["conv_id", "turn_idx", "segment_ord", "doc_id", "terms",
                "token_count", "fieldnorm_id", "term_fns",
                "xf_tc_role", "xf_fn_role", "xf_tc_nval", "xf_fn_nval"]
        frames = _stage1_frames(spark, src, cols, ["terms", "term_fns"],
                                str(tmp_path / "docmap"),
                                extra_fields=("role", "nval"))
        pd.testing.assert_frame_equal(frames[0], frames[1])
        pd.testing.assert_frame_equal(frames[0], frames[2])

    def test_multifield_positions_matches_pandas(self, spark):
        rng = random.Random(23)
        pool = EDGE_TEXTS[4:] + ["longtok " + "z" * 50 + " tail"]
        pdf = pd.DataFrame({
            "conv_id": [f"c{i % 7}" for i in range(200)],
            "turn_idx": [i // 7 for i in range(200)],
            "text": [rng.choice(pool) for _ in range(200)],
            "role": [rng.choice(["user u2", "assistant", None])
                     for _ in range(200)],
        })
        src = spark.createDataFrame(pdf)
        cols = ["conv_id", "turn_idx", "segment_ord", "doc_id", "terms",
                "positions", "token_count", "fieldnorm_id", "term_fns",
                "xf_tc_role", "xf_fn_role"]
        frames = []
        for jvm in (True, False):
            cfg = IndexConfig(n_segments=4, positions=True,
                              jvm_tokenize=jvm, extra_fields=("role",))
            f = (build_docmap(spark, src, cfg).select(*cols).toPandas()
                 .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
            for c in ("terms", "positions", "term_fns"):
                f[c] = f[c].map(list)
            frames.append(f)
        pd.testing.assert_frame_equal(frames[0], frames[1])

    def test_placement_matches_spark_hash_partitioning(self, spark):
        """The fused stage-1 plans segment->partition placement driver-side
        with a pure-Python Murmur3; it must match Spark's F.hash /
        HashPartitioning bit-for-bit, and the crafted __pid column must
        land every segment in its own partition."""
        from tantivy_spark.operators.build import (_placement_values,
                                                   _spark_mmh3_int)

        rows = (spark.range(-50, 500)
                .select(F.col("id").cast("int").alias("i"))
                .withColumn("h", F.hash("i")).collect())
        assert all(r.h == _spark_mmh3_int(r.i) for r in rows)

        place = _placement_values(16, 32)
        pdf = spark.createDataFrame(
            [(s,) for s in range(16) for _ in range(5)], "segment_ord int")
        pdf = pdf.withColumn(
            "__pid", F.element_at(F.array(*[F.lit(v) for v in place]),
                                  F.col("segment_ord") + 1))
        got = (pdf.repartition(32, "__pid").drop("__pid")
               .withColumn("p", F.spark_partition_id())
               .select("segment_ord", "p").distinct().collect())
        assert all(r.p == r.segment_ord % 32 for r in got)
        # round-robin when segments > partitions
        place8 = _placement_values(20, 8)
        assert [_spark_mmh3_int(v) % 8 for v in place8] == \
            [s % 8 for s in range(20)]

    def test_fused_direct_io_build_identical(self, spark, tmp_path):
        """The fused stage-1 (build_docmap_segment_files: text-only
        shuffle, ids + parquet write inside the tokenize task) must
        produce the same index as the DataFrame stage-1 with the pandas
        analyzer — same docmap
        rows AND ids, same Spark-read schema (incl. timestamp columns
        round-tripped through the pyarrow writer), byte-identical
        postings and terms tables."""
        import datetime

        from tantivy_spark.operators.build import build_index

        rng = random.Random(41)
        pool = EDGE_TEXTS[4:] + ["plain text turn", "Σ İ Ⱥ mixed 𝟙𝟚", None]
        n = 700
        pdf = pd.DataFrame({
            "conv_id": [f"c{i % 53}" for i in range(n)],
            "turn_idx": [i // 53 for i in range(n)],
            "text": [rng.choice(pool) for _ in range(n)],
            "nval": [rng.randrange(0, 10**6) for _ in range(n)],
            "ts": [datetime.datetime(2024, 1, 1)
                   + datetime.timedelta(seconds=rng.randrange(0, 10**7))
                   for i in range(n)],
        })
        src = spark.createDataFrame(pdf)

        def build(tag, **cfg_kw):
            d = str(tmp_path / tag)
            cfg = IndexConfig(n_segments=4, n_term_buckets=4, **cfg_kw)
            build_index(spark, src, d, cfg)
            dm = spark.read.parquet(d + "/docmap")
            po = spark.read.parquet(d + "/postings")
            te = spark.read.parquet(d + "/terms")
            return dm, po, te

        # hash assignment pinned on both sides: this test compares the two
        # STAGE-1 dataflows under the content-hashed segment layout (the
        # API default now resolves to input-partition segments)
        dm_f, po_f, te_f = build("fused", segment_assignment="hash")
        dm_l, po_l, te_l = build("legacy", jvm_tokenize=False)

        assert dict(dm_f.dtypes) == dict(dm_l.dtypes)

        def norm_dm(dm):
            f = (dm.select("conv_id", "turn_idx", "segment_ord", "doc_id",
                           "terms", "token_count", "fieldnorm_id", "nval",
                           F.col("ts").cast("long").alias("ts_us"))
                 .toPandas()
                 .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
            f["terms"] = f["terms"].map(list)
            return f

        pd.testing.assert_frame_equal(norm_dm(dm_f), norm_dm(dm_l))

        def norm_post(po):
            f = (po.select("tbucket", "term", "segment_ord", "doc_freq",
                           "sum_tf", "max_tf",
                           F.hex(F.col("doc_enc")).alias("doc_enc"),
                           F.hex(F.col("tf_enc")).alias("tf_enc"),
                           F.hex(F.col("fnorm_enc")).alias("fnorm_enc"),
                           "block_last", "bm_norm_id", "bm_tf")
                 .toPandas()
                 .sort_values(["tbucket", "term", "segment_ord"])
                 .reset_index(drop=True))
            for c in ("block_last", "bm_norm_id", "bm_tf"):
                f[c] = f[c].map(list)
            return f

        pd.testing.assert_frame_equal(norm_post(po_f), norm_post(po_l))

        def norm_terms(te):
            return (te.select("tbucket", "term", "segment_ord", "doc_freq",
                              "sum_tf", "tlen").toPandas()
                    .sort_values(["tbucket", "term", "segment_ord"])
                    .reset_index(drop=True))

        pd.testing.assert_frame_equal(norm_terms(te_f), norm_terms(te_l))

    def test_positions_docmap_matches_pandas(self, spark):
        rng = random.Random(9)
        pool = EDGE_TEXTS[4:] + ["plain text turn", "longtok " + "z" * 50]
        pdf = pd.DataFrame({
            "conv_id": [f"c{i % 11}" for i in range(300)],
            "turn_idx": [i // 11 for i in range(300)],
            "text": [rng.choice(pool) for _ in range(300)],
        })
        src = spark.createDataFrame(pdf)
        cols = ["conv_id", "turn_idx", "segment_ord", "doc_id",
                "terms", "positions", "token_count", "fieldnorm_id"]
        frames = []
        for jvm in (True, False):  # arrow vs pandas
            cfg = IndexConfig(n_segments=4, positions=True, jvm_tokenize=jvm)
            f = (build_docmap(spark, src, cfg).select(*cols).toPandas()
                 .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
            f["terms"] = f["terms"].map(list)
            f["positions"] = f["positions"].map(list)
            frames.append(f)
        pd.testing.assert_frame_equal(frames[0], frames[1])
