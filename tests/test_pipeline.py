"""Training-data pipeline operator tests (dedup / similarity / quality)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tantivy_spark.operators import pipeline as P


@pytest.fixture(scope="module")
def docs(spark):
    pdf = pd.DataFrame(
        {
            "id": list(range(8)),
            "text": [
                "alpha beta gamma delta epsilon zeta eta theta",      # 0
                "alpha beta gamma delta epsilon zeta eta theta",      # 1 exact dup of 0
                "alpha beta gamma delta epsilon zeta eta iota",       # 2 near dup of 0
                "completely different words in this document here",   # 3
                "the quick brown fox jumps over the lazy dog",        # 4
                "the quick brown fox jumps over a lazy cat",          # 5 near dup of 4
                "numbers 123 456 789 mixed with words",               # 6
                "short text",                                         # 7
            ],
        }
    )
    return spark.createDataFrame(pdf)


def test_exact_dedup_stats(docs):
    r = P.exact_dedup_stats(docs).collect()[0]
    assert r["n_docs"] == 8
    assert r["n_distinct"] == 7
    assert r["n_dup_docs"] == 1


def test_exact_dedup_keep_first(docs):
    kept = P.exact_dedup_keep_first(docs, "id")
    ids = sorted(r["id"] for r in kept.collect())
    assert ids == [0, 2, 3, 4, 5, 6, 7]  # id 1 dropped (dup of 0, min id wins)


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r["key_a"], r["key_b"]): r["jaccard"]
        for r in P.ngram_jaccard_pairs(docs, "id", threshold=0.4).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs and 0.5 < pairs[(0, 2)] < 1.0
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def _boilerplate_docs(spark, n_docs: int):
    """Every doc opens with the same 3-token header (one shingle held by
    all n_docs) followed by 4 tokens of its own; doc 1 repeats doc 0."""
    tail = F.when(F.col("id") == 1, F.lit(0)).otherwise(F.col("id"))
    return spark.range(n_docs).select(
        "id",
        F.concat_ws(" ", F.lit("common boiler plate"),
                    *[F.concat(F.lit(c), tail.cast("string"))
                      for c in "xyzw"]).alias("text"))


def test_ngram_jaccard_hot_shingle_cap(spark):
    """The default max_df keeps a 10k-doc boilerplate shingle out of the
    self-join (it alone would emit 5*10^7 pairs) and still finds the
    exact duplicate; an explicit max_df=None keeps exact semantics."""
    big = _boilerplate_docs(spark, 10_000)
    got = {(r["key_a"], r["key_b"]): r["jaccard"] for r in
           P.ngram_jaccard_pairs(big, "id", threshold=0.1).collect()}
    assert got == {(0, 1): 1.0}

    small = _boilerplate_docs(spark, 40)
    exact = P.ngram_jaccard_pairs(small, "id", threshold=0.1, max_df=None)
    # exact: every pair shares the header shingle, 1 of 9 distinct
    assert exact.count() == 40 * 39 // 2
    assert exact.filter(F.col("key_a") == 2).first()["jaccard"] == 1 / 9
    capped = P.ngram_jaccard_pairs(small, "id", threshold=0.1, max_df=39)
    assert {(r["key_a"], r["key_b"]) for r in capped.collect()} == {(0, 1)}


def test_minhash_lsh_finds_near_dups(docs):
    got = {
        (r["key_a"], r["key_b"])
        for r in P.minhash_lsh_pairs(docs, "id", threshold=0.4).collect()
    }
    # exact dups always collide in every band; near-dups at j>0.5 should
    # be found with 16 bands of 4 rows with overwhelming probability
    assert (0, 1) in got
    assert (0, 2) in got or (1, 2) in got


def test_minhash_presift_margin(docs):
    """Opt-in signature pre-sift: with a sane margin the output equals
    the exact run (true pairs survive the estimate band-pass); with
    margin 0 the output is a subset (estimator noise may prune); the
    default (None) stays exact."""
    exact = {
        (r["key_a"], r["key_b"])
        for r in P.minhash_lsh_pairs(docs, "id", threshold=0.4).collect()
    }
    sifted = {
        (r["key_a"], r["key_b"])
        for r in P.minhash_lsh_pairs(docs, "id", threshold=0.4,
                                     presift_margin=0.25).collect()
    }
    assert sifted == exact
    tight = {
        (r["key_a"], r["key_b"])
        for r in P.minhash_lsh_pairs(docs, "id", threshold=0.4,
                                     presift_margin=0.0).collect()
    }
    assert tight <= exact
    assert (0, 1) in tight          # exact dups estimate at 1.0


def test_minhash_vs_exact_jaccard_accuracy(docs):
    sigs = {r["key"]: np.array(r["sig"]) for r in
            P.minhash_signatures(docs, "id", num_perm=256).collect()}
    est01 = float((sigs[0] == sigs[1]).mean())
    est02 = float((sigs[0] == sigs[2]).mean())
    est03 = float((sigs[0] == sigs[3]).mean())
    assert est01 == 1.0
    assert abs(est02 - 0.714) < 0.2  # true j(0,2) = 5/7 on 3-shingles
    assert est03 < 0.2


def test_simhash_near_dups(docs):
    sigs = {r["key"]: r["sig"] for r in P.simhash_signatures(docs, "id").collect()}
    assert sigs[0] == sigs[1]  # identical text -> identical simhash
    ham02 = bin(sigs[0] ^ sigs[2]).count("1")
    ham03 = bin(sigs[0] ^ sigs[3]).count("1")
    assert ham02 < ham03  # near dup closer than unrelated
    pairs = {(r["key_a"], r["key_b"]): r["hamming"]
             for r in P.simhash_pairs(docs, "id", max_hamming=0).collect()}
    assert pairs.get((0, 1)) == 0


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal((20, 16))
    base[7] = base[0] + 0.01 * rng.standard_normal(16)  # near-neighbor of 0
    pdf = pd.DataFrame({
        "vid": list(range(20)),
        "v": [row.astype(np.float32).tolist() for row in base],
    })
    return spark.createDataFrame(pdf)


def test_brute_force_topk(vecs):
    q = [float(x) for x in vecs.filter(F.col("vid") == 0).first()["v"]]
    top = P.brute_force_topk(vecs.filter(F.col("vid") != 0), "vid", "v", q, k=3).collect()
    assert top[0]["vid"] == 7
    assert top[0]["cosine"] > 0.99
    cosines = [r["cosine"] for r in top]
    assert cosines == sorted(cosines, reverse=True)


def test_metric_kernels_match_numpy(vecs):
    """l2/dot/cosine kernels vs numpy, incl. the reference's negated-L2
    higher-is-better convention (src/vector/distance.rs:320-337)."""
    rows = {r["vid"]: np.array(r["v"], dtype=np.float64)
            for r in vecs.collect()}
    q = rows[0].tolist()
    others = vecs.filter(F.col("vid") != 0)
    for metric in ("dot", "l2", "cosine"):
        got = P.brute_force_topk(others, "vid", "v", q, k=19, metric=metric).collect()
        col = "cosine" if metric == "cosine" else "sim"
        for r in got:
            v = rows[r["vid"]]
            qq = np.asarray(q)
            if metric == "dot":
                exp = float(v @ qq)
            elif metric == "l2":
                exp = -float(((v - qq) ** 2).sum())
            else:
                exp = float(v @ qq / (np.linalg.norm(v) * np.linalg.norm(qq)))
            assert r[col] == pytest.approx(exp, rel=1e-9, abs=1e-9)
        vals = [r[col] for r in got]
        assert vals == sorted(vals, reverse=True)


def test_ivf_exact_when_probing_all(vecs):
    q = [float(x) for x in vecs.filter(F.col("vid") == 0).first()["v"]]
    others = vecs.filter(F.col("vid") != 0)
    cents = P.ivf_train(others, "vid", "v", n_clusters=4, iters=3)
    flat = P.brute_force_topk(others, "vid", "v", q, k=5).collect()
    ivf = P.ivf_topk(others, "vid", "v", q, cents, k=5, nprobe=len(cents)).collect()
    assert [(r["vid"], round(r["cosine"], 9)) for r in ivf] == \
        [(r["vid"], round(r["cosine"], 9)) for r in flat]


def test_ivf_partial_probe_recall(spark):
    """Clustered data: probing the nearest cluster finds the true
    neighbors (the IVF recall contract)."""
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((4, 8)) * 10
    rows, vid = [], 0
    for c in range(4):
        for _ in range(30):
            rows.append((vid, (centers[c] + 0.1 * rng.standard_normal(8))
                         .astype(np.float32).tolist(), c))
            vid += 1
    pdf = pd.DataFrame(rows, columns=["vid", "v", "true_c"])
    df = spark.createDataFrame(pdf[["vid", "v"]])
    cents = P.ivf_train(df, "vid", "v", n_clusters=4, iters=4)
    # deterministic: retrain gives identical centroids
    cents2 = P.ivf_train(df, "vid", "v", n_clusters=4, iters=4)
    assert np.allclose(cents, cents2)
    q = (centers[2] + 0.05 * rng.standard_normal(8)).tolist()
    exact = {r["vid"] for r in P.brute_force_topk(df, "vid", "v", q, k=10).collect()}
    got = {r["vid"] for r in P.ivf_topk(df, "vid", "v", q, cents, k=10, nprobe=1).collect()}
    # well-separated clusters: nprobe=1 recovers the full exact top-10
    assert len(got & exact) >= 9


def test_lsh_topk_contains_strong_neighbor(vecs):
    q = [float(x) for x in vecs.filter(F.col("vid") == 0).first()["v"]]
    top = P.lsh_bucket_topk(
        vecs.filter(F.col("vid") != 0), "vid", "v", q, k=3, n_planes=6
    ).collect()
    # the near-identical vector lands in the query's own bucket
    assert any(r["vid"] == 7 for r in top)


def test_quality_and_counts(docs):
    q = {r["id"]: r for r in P.quality_score(docs, "id").collect()}
    assert q[7]["n_tokens"] == 2
    assert q[4]["n_tokens"] == 9
    assert q[4]["n_distinct"] == 8  # 'the' twice
    assert q[4]["ttr"] == pytest.approx(8 / 9, abs=1e-6)
    t = {r["id"]: r for r in P.token_counts(docs, "id").collect()}
    assert t[6]["ws_tokens"] == 7 and t[6]["alnum_tokens"] == 7


def test_fingerprint_normalization(spark):
    pdf = pd.DataFrame({
        "id": [0, 1],
        "text": ["Hello,  World! 42", "hello world 42"],
    })
    # different spacing/punct/case -> same normalized token fingerprint
    df = spark.createDataFrame(pdf).withColumn("text", F.lower(F.col("text")))
    fps = [r["fingerprint"] for r in P.fingerprint(df, "id").collect()]
    assert fps[0] == fps[1]


def test_language_id(docs):
    r = {x["id"]: x for x in P.language_id(docs, "id").collect()}
    # 'the quick brown fox jumps over the lazy dog': en hits {the, the},
    # da hits {over, dog} ('dog' = Danish 'however') -> 2/9 tie, broken
    # by ISO-code order (the argmax rule): 'da' < 'en'
    assert r[4]["pred_lang"] == "da"
    assert r[4]["stopword_ratio"] == pytest.approx(2 / 9, abs=1e-6)
    assert r[0]["pred_lang"] == "unk"  # greek-letter salad, no stopwords


def test_language_id_multilang():
    """Each of the 15 stop lists wins on a sentence in its language."""
    from tantivy_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark(cores=8, shuffle_partitions=8)
    df = spark.createDataFrame(list(E._LANG_SAMPLES),
                               "doc_id long, text string")
    got = {r["doc_id"]: r["pred_lang"]
           for r in P.language_id(df, "doc_id").collect()}
    expected = ["en", "de", "fr", "es", "it", "pt", "nl", "ru",
                "da", "no", "sv", "fi", "pl", "cs", "hu"]
    assert [got[-101 - i] for i in range(15)] == expected


def test_submit_job_driver_inprocess(spark, tmp_root, capsys):
    """tools/submit_job.py build+query main() — the spark-submit entry —
    runs against an active session and prints one JSON line each."""
    import json
    import sys

    sys.path.insert(0, "tools")
    try:
        import submit_job
    finally:
        sys.path.pop(0)

    idx = f"{tmp_root}/submit_idx"
    rc = submit_job.main([
        "build", "--synthetic-convs", "40", "--index-dir", idx,
        "--segments", "2", "--positions",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["cmd"] == "build" and out["num_docs"] > 0

    rc = submit_job.main([
        "query", "--index-dir", idx, "--query", "w0 OR w1", "--k", "3",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["cmd"] == "query"
    assert len(out["hits"]) == 3
    assert out["hits"][0]["score"] >= out["hits"][-1]["score"]

    # --source goes through the format-pluggable DataSource branch
    # (spark.read.format(fmt).load(path) — 'iceberg' swaps in by flag)
    from tantivy_spark.sources.transcripts import transcripts_df

    src = f"{tmp_root}/submit_src.parquet"
    transcripts_df(spark, 40).write.mode("overwrite").parquet(src)
    idx2 = f"{tmp_root}/submit_idx_src"
    rc = submit_job.main([
        "build", "--source", src, "--source-format", "parquet",
        "--index-dir", idx2, "--segments", "2",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["cmd"] == "build" and out["num_docs"] > 0


# --------------------------------------------------------------------------
# vectorized hashing kernels: batch implementation vs scalar reference
# --------------------------------------------------------------------------

def _scalar_poly(s: str) -> int:
    h = 0
    for by in s.encode("utf-8"):
        h = (h * 131 + by) % 2147483647
    return h


def _scalar_windows(tokens: list[str], window: int) -> list[int]:
    th = [_scalar_poly(t) for t in tokens]
    if not th:
        return []
    wins = [th] if len(th) < window else [
        th[i:i + window] for i in range(len(th) - window + 1)
    ]
    out = []
    for w in wins:
        h = 0
        for x in w:
            h = (h * 1000003 + x) % 2147483647
        out.append(h)
    return out


def test_poly_hash_batch_matches_scalar():
    import numpy as np

    from tantivy_spark.operators.pipeline import _poly_hash_strings

    rng = __import__("random").Random(7)
    strs = ["", "a", "z9", "hello world"] + [
        "".join(rng.choice("abc012") for _ in range(rng.randint(0, 30)))
        for _ in range(500)
    ] + [""]  # trailing empty exercises the reduceat clip
    got = _poly_hash_strings(np.array(strs, dtype=object))
    want = [_scalar_poly(s) for s in strs]
    assert got.tolist() == want


def test_window_hashes_batch_matches_scalar():
    import numpy as np

    from tantivy_spark.operators.pipeline import (
        _poly_hash_strings,
        _token_offsets,
        _window_hashes,
    )

    rng = __import__("random").Random(11)
    docs = [
        ["".join(rng.choice("abcd") for _ in range(rng.randint(1, 6)))
         for _ in range(rng.randint(0, 20))]
        for _ in range(200)
    ]
    docs[0] = []          # leading empty doc
    docs[5] = []          # interior empty doc
    docs[-1] = []         # trailing empty doc
    for window in (3, 8):
        flat, starts = _token_offsets(pd.Series(docs))
        th = _poly_hash_strings(flat)
        wh, woffs = _window_hashes(th, starts, window)
        for di, toks in enumerate(docs):
            got = wh[woffs[di]:woffs[di + 1]].tolist()
            assert got == _scalar_windows(toks, window), (di, window)


def test_rolling_fingerprint_matches_scalar(spark):
    from tantivy_spark.operators.pipeline import rolling_fingerprints

    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            "one two three four five six seven eight nine ten",
            "short doc",
            "",
            "one two three four five six seven eight nine ten",  # dup of 0
        ],
    })
    out = {r["key"]: r["min_rolling_hash"] for r in
           rolling_fingerprints(spark.createDataFrame(pdf), "doc_id").collect()}
    toks0 = pdf["text"][0].split()
    assert out[0] == min(_scalar_windows(toks0, 8))
    assert out[1] == min(_scalar_windows(["short", "doc"], 8))
    assert out[2] == 0
    assert out[3] == out[0]


def test_simhash_batch_properties(spark):
    """Identical docs -> identical sigs; near-identical docs -> small
    hamming; empty doc -> 0 (batch path with mixed doc shapes)."""
    from tantivy_spark.operators.pipeline import simhash_signatures

    base = "the quick brown fox jumps over the lazy dog " * 5
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [base, base, base + " extra token", ""],
    })
    sigs = {r["key"]: r["sig"] for r in
            simhash_signatures(spark.createDataFrame(pdf), "doc_id").collect()}
    assert sigs[0] == sigs[1]
    assert sigs[3] == 0
    ham = bin((sigs[0] ^ sigs[2]) & ((1 << 64) - 1)).count("1")
    assert ham <= 12


def test_bucket_cap_guards(docs):
    from tantivy_spark.operators import pipeline as P

    # uncapped and generously-capped runs agree; cap=1 kills all buckets
    base = {(r.key_a, r.key_b) for r in
            P.minhash_lsh_pairs(docs, "id", threshold=0.4).collect()}
    capped = {(r.key_a, r.key_b) for r in
              P.minhash_lsh_pairs(docs, "id", threshold=0.4,
                                  max_bucket=10_000).collect()}
    assert base == capped
    assert P.minhash_lsh_pairs(docs, "id", threshold=0.4,
                               max_bucket=1).count() == 0
    sh_base = P.simhash_pairs(docs, "id", max_hamming=6).count()
    sh_cap = P.simhash_pairs(docs, "id", max_hamming=6,
                             max_bucket=10_000).count()
    assert sh_base == sh_cap


def test_ngram_contamination(docs):
    # bench = doc 0's text: docs 0,1 fully contaminated (6 shingles of
    # n=3 over 8 tokens), doc 2 shares the 5-token prefix -> 3 of its 6
    # 3-gram shingles; others untouched
    bench = docs.filter(F.col("id") == 0).select(
        F.col("id").alias("bid"), "text")
    out = {r["key"]: r for r in P.ngram_contamination(
        docs, bench, "id", "text", "bid", "text", n=3).collect()}
    assert len(out) == 8
    assert out[0]["contaminated"] == out[0]["n_shingles"] == 6
    assert out[0]["contaminated_frac"] == 1.0
    assert out[1]["contaminated_frac"] == 1.0
    # doc 2 shares the 7-token prefix with doc 0 -> 5 of its 6 shingles
    assert out[2]["n_shingles"] == 6 and out[2]["contaminated"] == 5
    assert out[2]["bench_docs_hit"] == 1
    assert out[3]["contaminated"] == 0 and out[3]["contaminated_frac"] == 0.0
    assert out[7]["n_shingles"] == 0  # 2 tokens < n -> no shingles

    # broadcast_bench only changes the plan, never the result
    bcast = {r["key"]: r["contaminated"] for r in P.ngram_contamination(
        docs, bench, "id", "text", "bid", "text", n=3,
        broadcast_bench=True).collect()}
    assert bcast == {k: v["contaminated"] for k, v in out.items()}


def test_repetition_features(spark):
    pdf = pd.DataFrame({
        "id": [0, 1, 2, 3],
        "text": [
            "spam spam spam spam",                    # one token repeated
            "a b\na b\nc d",                          # duplicate line
            "alpha beta gamma delta",                 # clean
            "",                                       # empty
        ],
    })
    out = {r["id"]: r for r in P.repetition_features(
        spark.createDataFrame(pdf), "id").collect()}
    # "spam spam spam spam": 3 bigrams all equal -> dup frac 2/3;
    # top token fraction 4/4
    assert out[0]["dup_2gram_frac"] == pytest.approx(2 / 3, abs=1e-6)
    assert out[0]["top_token_frac"] == 1.0
    assert out[1]["dup_line_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert out[2]["dup_2gram_frac"] == 0.0
    assert out[2]["top_token_frac"] == 0.25
    assert out[3]["top_token_frac"] == 0.0 and out[3]["dup_line_frac"] == 0.0


def test_pii_features(spark):
    pdf = pd.DataFrame({
        "id": [0, 1, 2, 3],
        "text": [
            "reach me at First.Last+x@corp.example.com today",
            "hosts 10.0.0.1 and 192.168.0.254; tag x1.2.3.4x is no match",
            "call +1 (650) 555-0199 or +44 20 7946 0958",
            "nothing sensitive here",
        ],
    })
    out = {r["id"]: r for r in P.pii_features(
        spark.createDataFrame(pdf), "id").collect()}
    assert out[0]["n_email"] == 1 and out[0]["has_pii"]
    assert out[1]["n_ipv4"] == 2 and out[1]["n_email"] == 0
    assert out[2]["n_phone"] == 2
    assert not out[3]["has_pii"]


def test_embedding_near_dup_pairs(spark):
    """Banded hyperplane LSH + exact cosine verify, checked against a
    numpy brute-force reproduction of the SAME banded semantics (and
    recall sanity: a planted near-identical pair must surface)."""
    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 16))
    vecs = list(base)
    vecs.append(base[3] + rng.normal(scale=0.01, size=16))  # 20 ~ dup of 3
    pdf = pd.DataFrame({
        "vec_id": list(range(len(vecs))),
        "embedding": [list(map(float, v)) for v in vecs],
    })
    df = spark.createDataFrame(pdf)
    got = {
        (r["key_a"], r["key_b"]): r["cosine"]
        for r in P.embedding_near_dup_pairs(
            df, "vec_id", "embedding", threshold=0.5,
            max_bucket=None).collect()
    }
    assert (3, 20) in got and got[(3, 20)] > 0.99

    # brute-force the same banded rule
    n_bands, band_planes = 8, 4
    planes = P._hyperplanes(16, n_bands * band_planes, 42)
    M = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
    bits = (M @ planes.T) >= 0
    w = 1 << np.arange(band_planes)
    codes = (bits.reshape(len(M), n_bands, band_planes) * w).sum(axis=2)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    expect = {}
    for a in range(len(M)):
        for b in range(a + 1, len(M)):
            if (codes[a] == codes[b]).any() and S[a, b] >= 0.5:
                expect[(a, b)] = round(float(S[a, b]), 6)
    assert got == expect


def test_embedding_near_dup_hot_bucket_guard(spark):
    """max_bucket drops degenerate buckets (identical vectors all
    co-bucket) instead of going c^2 — the scale-safe default."""
    pdf = pd.DataFrame({
        "vec_id": list(range(40)),
        "embedding": [[1.0] * 8 for _ in range(40)],
    })
    df = spark.createDataFrame(pdf)
    n_all = P.embedding_near_dup_pairs(
        df, "vec_id", "embedding", threshold=0.9, max_bucket=None).count()
    n_guard = P.embedding_near_dup_pairs(
        df, "vec_id", "embedding", threshold=0.9, max_bucket=10).count()
    assert n_all == 40 * 39 // 2
    assert n_guard == 0
