"""Large-scale training-data pipeline operators.

Beyond the reference's own surface (it is a search library), a 100 TB
corpus pipeline needs dedup / similarity / text-quality operators.  All of
them follow the same Spark-first rules as the engine: built-in column
functions where possible, Arrow-vectorized pandas UDFs where not, shuffles
only on bounded keys (shingle hash, LSH band, bucket id) — never all-pairs.

Scale notes per operator are inline.  Deterministic by construction: all
hashing is seeded arithmetic (polynomial mod 2^31-1 + splitmix64-style
mixing), no Date.now / Math.random anywhere.  The signature kernels are
batch-vectorized: one Arrow buffer pass + np.add/minimum.reduceat per
batch — never a per-doc (let alone per-token) Python loop.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# ---------------------------------------------------------------------------
# tokenization helpers (Spark-side, JVM-only — no Python)
# ---------------------------------------------------------------------------

_TOKEN_SPLIT = r"[^a-z0-9]+"


def tokens_col(text_col: str = "text"):
    """lowercased alphanumeric tokens as array<string> — pure Catalyst."""
    arr = F.split(F.lower(F.col(text_col)), _TOKEN_SPLIT)
    return F.filter(arr, lambda t: (t != "") & (F.length(t) < 40))


# ---------------------------------------------------------------------------
# exact deduplication
# ---------------------------------------------------------------------------

def exact_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level exact-dup summary: (n_docs, n_distinct, n_dup_docs).

    Scale: one map-side-combined groupBy on md5(text) — the canonical
    hash-groupBy dedup; no row ever carries the full text through the
    shuffle twice (hash first, count, then aggregate counts).
    """
    h = df.select(F.md5(F.col(text_col)).alias("h"))
    per = h.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    return per.agg(
        F.sum("cnt").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("cnt") - 1).alias("n_dup_docs"),
    )


def exact_dedup_keep_first(df: DataFrame, key_col: str, text_col: str = "text") -> DataFrame:
    """Drop exact duplicates, keeping the smallest key per text hash —
    deterministic survivor selection (window min over hash groups)."""
    w = Window.partitionBy(F.md5(F.col(text_col)))
    return (
        df.withColumn("_keep", F.min(key_col).over(w))
        .filter(F.col("_keep") == F.col(key_col))
        .drop("_keep")
    )


# ---------------------------------------------------------------------------
# shingles + exact n-gram Jaccard (the small-scale oracle for MinHash)
# ---------------------------------------------------------------------------

def _spread_small_input(df: DataFrame) -> DataFrame:
    """Repartition up to the session parallelism when the input has
    fewer partitions than cores — a small corpus in one parquet split
    otherwise runs the whole (CPU-heavy) shingle/signature projection
    on ONE task (measured: 4.6 s single-core vs 0.6 s spread, sf0.1).
    At real scale inputs arrive in many splits and this is a no-op;
    the guard only pays the text shuffle when parallelism is actually
    being left on the table."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def shingles_df(df: DataFrame, key_col: str, text_col: str = "text",
                n: int = 3) -> DataFrame:
    """(key, shingle) rows: distinct n-token shingles per doc — Catalyst
    transform over the token array, then explode.  The shingle string is
    the join key downstream, so we emit its hash, not the text."""
    toks = tokens_col(text_col)
    sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        _spread_small_input(df)
        .select(F.col(key_col).alias("key"),
                F.explode(F.array_distinct(sh)).alias("shingle"))
        .filter(F.col("shingle") != "")
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, key_col: str, text_col: str = "text",
                        n: int = 3, threshold: float = 0.6,
                        max_df: int | None = 1024) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (key_a < key_b, jaccard >= thr).

    Plan: shingle-explode -> self-join **on shingle** (co-occurrence join,
    never an all-pairs cross join) -> count common shingles -> jaccard from
    per-doc shingle counts.  Scale: the join key is the shingle, so cost is
    sum over shingles of c^2 where c = docs sharing that shingle; the
    MinHash/LSH variant below replaces this entirely beyond ~10^7 docs.

    `max_df` drops shingles held by more than that many docs before the
    self-join — the hot-shingle c^2 guard (a boilerplate line shared by
    10^4 docs alone emits 5*10^7 pairs).  Jaccard is then taken over each
    doc's remaining shingles, the way stopwords leave a term vector: a
    doc whose shingles are all hot pairs with nothing.  The DEFAULT is
    the scale-safe cap; pass None explicitly for exact Jaccard over every
    shingle (what the oracle contract entry does).
    """
    sh = shingles_df(df, key_col, text_col, n)
    if max_df is not None:
        sh = _cap_buckets(sh, ["shingle"], max_df)
    sh = sh.cache()
    sizes = sh.groupBy("key").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a.key") < F.col("b.key"))
        .groupBy(F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("key").alias("key_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("key").alias("key_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa.hint("shuffle_hash"), "key_a")
        .join(sb.hint("shuffle_hash"), "key_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("key_a", "key_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# vectorized hashing kernels (shared by minhash / simhash / rolling)
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1
_POLY_M = 2147483647  # 2^31 - 1: SQL-safe modulus (no int64 overflow)
_POLY_B = 131         # byte base for token hashing
_ROLL_B = 1000003     # token-hash base for window/shingle composition


def _poly_powers(n: int, base: int) -> np.ndarray:
    out = np.empty(max(n, 1), dtype=np.int64)
    p = 1
    for i in range(len(out)):
        out[i] = p
        p = (p * base) % _POLY_M
    return out


def _token_offsets(tok_lists) -> tuple[np.ndarray, np.ndarray]:
    """Flatten a batch column of token arrays -> (flat object array,
    int64 per-doc offsets of length n_docs+1)."""
    n = len(tok_lists)
    lens = np.fromiter((len(t) for t in tok_lists), np.int64, count=n)
    starts = np.concatenate(([0], np.cumsum(lens)))
    if starts[-1] == 0:
        return np.empty(0, dtype=object), starts
    flat = np.concatenate(
        [np.asarray(t, dtype=object) for t in tok_lists if len(t)]
    )
    return flat, starts


def _poly_hash_strings(strings: np.ndarray) -> np.ndarray:
    """h(s) = fold over UTF-8 bytes of (acc*131 + byte) mod (2^31-1),
    vectorized across the whole batch: one Arrow string buffer, one
    exponent-aligned multiply, one np.add.reduceat — no per-string Python.
    SQL-reproducible (for the ASCII corpus) as
    list_reduce(list_prepend(0, codes), (a,c) -> (a*131 + c) % 2147483647).
    """
    n = len(strings)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    import pyarrow as pa

    arr = pa.array(strings, type=pa.string())
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32).astype(np.int64)[: n + 1]
    total = int(offs[-1])
    if total == 0:
        return np.zeros(n, dtype=np.int64)
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)[:total].astype(np.int64)
    lens = np.diff(offs)
    # each byte's exponent = its distance from the END of its string
    exp = np.repeat(offs[1:], lens) - 1 - np.arange(total)
    powers = _poly_powers(int(lens.max()), _POLY_B)
    contrib = (data * powers[exp]) % _POLY_M
    # reduceat over nonempty strings only (their starts strictly increase,
    # so segments are exact even around empty strings), scatter back
    out = np.zeros(n, dtype=np.int64)
    nz = lens > 0
    out[nz] = np.add.reduceat(contrib, offs[:-1][nz]) % _POLY_M
    return out


def _window_hashes(th: np.ndarray, starts: np.ndarray,
                   window: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc rolling window hashes over token hashes, fully vectorized.

    For a doc with L tokens: hashes of all L-window+1 windows (one
    whole-doc window when 0 < L < window; none when L == 0), each
    h = fold over the window of (acc*_ROLL_B + token_hash) mod (2^31-1)
    — the Rabin-Karp composition, identical to the SQL
    list_reduce(list_prepend(0, hs[i:i+w-1]), (a,x)->(a*1000003+x)%M).
    Returns (flat window hashes, per-doc window offsets)."""
    n_docs = len(starts) - 1
    lens = np.diff(starts)
    total = int(starts[-1])
    wcounts = np.where(lens == 0, 0, np.maximum(lens - window + 1, 1))
    woffs = np.concatenate(([0], np.cumsum(wcounts)))
    out = np.empty(int(woffs[-1]), dtype=np.int64)
    if len(out) == 0:
        return out, woffs
    powers = _poly_powers(window, _ROLL_B)

    full = lens >= window
    if full.any() and total >= window:
        acc = np.zeros(total - window + 1, dtype=np.int64)
        for j in range(window):
            acc += (th[j: total - window + 1 + j] * powers[window - 1 - j]) % _POLY_M
        acc %= _POLY_M
        fc = wcounts[full]
        rep = np.repeat(np.arange(len(fc)), fc)
        intra = np.arange(int(fc.sum())) - np.repeat(np.cumsum(fc) - fc, fc)
        src = np.repeat(starts[:-1][full], fc) + intra
        dest = np.repeat(woffs[:-1][full], fc) + intra
        out[dest] = acc[src]

    short = (lens > 0) & (lens < window)
    if short.any():
        # one whole-doc window: segmented poly with from-end exponents
        sl = lens[short]
        s_starts = starts[:-1][short]
        tot_s = int(sl.sum())
        idx = np.repeat(s_starts, sl) + (
            np.arange(tot_s) - np.repeat(np.cumsum(sl) - sl, sl)
        )
        exp = np.repeat(np.cumsum(sl), sl) - 1 - np.arange(tot_s)
        contrib = (th[idx] * powers[exp]) % _POLY_M
        seg_starts = np.concatenate(([0], np.cumsum(sl)[:-1]))
        vals = np.add.reduceat(contrib, seg_starts) % _POLY_M
        out[woffs[:-1][short]] = vals
    return out, woffs


def _minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_perm, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE, size=num_perm, dtype=np.uint64)
    return a, b


def embedding_near_dup_pairs(df: DataFrame, key_col: str = "vec_id",
                             vec_col: str = "embedding",
                             threshold: float = 0.9, n_bands: int = 8,
                             band_planes: int = 4, seed: int = 42,
                             max_bucket: int | None = 4096) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS — banded random-hyperplane
    LSH candidates + exact cosine verification (the embedding analogue
    of `minhash_lsh_pairs` for training-data dedup; the reference's
    vector module only serves query top-k, src/vector/).

    Bucket of band b = sign pattern of that band's `band_planes`
    hyperplanes (closed-form splitmix64 planes, `_hyperplanes` — fully
    recomputable in SQL, so the driver entry has an exact DuckDB
    oracle).  A pair is a candidate iff it co-buckets in >= 1 band
    (recall tunes via n_bands x band_planes); candidates are verified
    with the exact float64 cosine and filtered at `threshold`.

    Scale shape: signatures are ONE matmul per Arrow batch (num rows x
    dim); candidate generation is a (band, bucket) self-join — never
    all-pairs; verify runs only on candidate pairs as a Catalyst
    zip_with dot product.  `max_bucket` (default ON, like
    `simhash_pairs`) drops degenerate hot buckets before the self-join
    — the c^2 guard; pass None for the exact banded semantics (the
    oracle entry does).
    """
    first = df.filter(F.col(vec_col).isNotNull()).select(vec_col).first()
    if first is None:
        # schema of the empty frame mirrors the non-empty path: key types
        # come from key_col's actual type, not a hardcoded long
        ktype = df.schema[key_col].dataType.simpleString()
        return (df.sparkSession.createDataFrame(
            [], f"key_a {ktype}, key_b {ktype}, cosine double"))
    dim = len(first[0])
    planes = _hyperplanes(dim, n_bands * band_planes, seed)

    @pandas_udf("array<int>")
    def band_buckets(v: pd.Series) -> pd.Series:
        m = np.array(v.tolist(), dtype=np.float64)
        if len(m) == 0:
            return pd.Series([], dtype=object)
        bits = (m @ planes.T) >= 0
        w = 1 << np.arange(band_planes, dtype=np.int64)
        codes = (bits.reshape(len(m), n_bands, band_planes) * w).sum(axis=2)
        return pd.Series(list(codes.astype(np.int32)))

    sigs = (
        df.select(F.col(key_col).alias("_k"), F.col(vec_col).alias("_v"))
        .withColumn("_bb", band_buckets(F.col("_v")))
        .select("_k", "_v", F.posexplode("_bb").alias("band", "bucket"))
    )
    if max_bucket is not None:
        counts = sigs.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("_n"))
        sigs = (sigs.join(counts.hint("shuffle_hash"), ["band", "bucket"])
                .filter(F.col("_n") <= max_bucket).drop("_n"))
    a = sigs.select("band", "bucket", F.col("_k").alias("key_a"),
                    F.col("_v").alias("_va"))
    b = sigs.select("band", "bucket", F.col("_k").alias("key_b"),
                    F.col("_v").alias("_vb"))
    # per-doc side tables must never be broadcast (scale smoke, BENCH.md)
    cand = (
        a.join(b.hint("shuffle_hash"), ["band", "bucket"])
        .filter(F.col("key_a") < F.col("key_b"))
        .dropDuplicates(["key_a", "key_b"])
    )
    va = F.transform(F.col("_va"), lambda x: x.cast("double"))
    vb = F.transform(F.col("_vb"), lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(va, vb, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.aggregate(F.transform(va, lambda x: x * x),
                     F.lit(0.0), lambda acc, x: acc + x)
    nb = F.aggregate(F.transform(vb, lambda x: x * x),
                     F.lit(0.0), lambda acc, x: acc + x)
    return (
        cand.withColumn("_cos", dot / (F.sqrt(na) * F.sqrt(nb)))
        .filter(F.col("_cos") >= threshold)
        .select("key_a", "key_b", F.round("_cos", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup detection
# ---------------------------------------------------------------------------

def minhash_signatures(df: DataFrame, key_col: str, text_col: str = "text",
                       num_perm: int = 64, n: int = 3,
                       seed: int = 42) -> DataFrame:
    """(key, sig array<long>) MinHash signatures, batch-vectorized: token
    poly-hash over one Arrow buffer -> composed n-token shingle hashes
    (_window_hashes) -> per-doc distinct -> (a*h+b) min-reduce per doc via
    np.minimum.reduceat.  No per-doc Python loop anywhere.

    Scale: embarrassingly parallel map; signature is num_perm*8 bytes per
    doc regardless of text size — the shuffle payload reducer that makes
    near-dup feasible at 10^12 docs.
    """
    a, b = _minhash_params(num_perm, seed)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n_docs = len(pdf)
            flat, starts = _token_offsets(pdf["_toks"])
            th = _poly_hash_strings(flat)
            wh, woffs = _window_hashes(th, starts, n)
            # distinct shingle hashes per doc: sort within doc segments,
            # drop consecutive duplicates (vectorized unique-per-segment)
            wlens = np.diff(woffs)
            doc_of = np.repeat(np.arange(n_docs), wlens)
            order = np.lexsort((wh, doc_of))
            whs, ds = wh[order], doc_of[order]
            keep = np.ones(len(whs), dtype=bool)
            if len(whs) > 1:
                keep[1:] = (whs[1:] != whs[:-1]) | (ds[1:] != ds[:-1])
            whs, ds = whs[keep], ds[keep]
            ulens = np.bincount(ds, minlength=n_docs)
            ustarts = np.concatenate(([0], np.cumsum(ulens)))[:-1]
            sig_mat = np.full((n_docs, num_perm), _MERSENNE, dtype=np.int64)
            nz = ulens > 0
            if len(whs):
                h = whs.astype(np.uint64)
                # reduceat over nonempty docs only: their starts are
                # strictly increasing, so segments are exact
                starts_nz = ustarts[nz]
                # permutations in chunks to bound the (chunk x shingles)
                # intermediate at a few MB per batch
                for lo in range(0, num_perm, 16):
                    hi = min(lo + 16, num_perm)
                    vals = (a[lo:hi, None] * h[None, :] + b[lo:hi, None]) % _MERSENNE
                    mins = np.minimum.reduceat(vals, starts_nz, axis=1)
                    sig_mat[np.flatnonzero(nz)[:, None], np.arange(lo, hi)[None, :]] = (
                        mins.T.astype(np.int64)
                    )
            yield pd.DataFrame(
                {"key": pdf[key_col].tolist(), "sig": list(sig_mat.tolist())}
            )

    prepped = _spread_small_input(df).select(
        F.col(key_col).alias(key_col), tokens_col(text_col).alias("_toks")
    )
    ktype = dict(df.dtypes)[key_col]
    return prepped.mapInPandas(batches, schema=f"key {ktype}, sig array<long>")


def _cap_buckets(rows: DataFrame, keys: list, cap: int) -> DataFrame:
    """Drop banding buckets with more than `cap` members before a bucket
    self-join (count via map-side-combined groupBy + shuffle join back —
    no windows over hot buckets, no broadcast of per-bucket counts)."""
    counts = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("_bc"))
    return (
        rows.join(counts.hint("shuffle_hash"), keys)
        .filter(F.col("_bc") <= cap)
        .drop("_bc")
    )


def minhash_lsh_pairs(df: DataFrame, key_col: str, text_col: str = "text",
                      num_perm: int = 64, bands: int = 16, n: int = 3,
                      threshold: float = 0.6, seed: int = 42,
                      max_bucket: int | None = 1024,
                      presift_margin: float | None = None) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH, verified with exact Jaccard.

    Plan: signatures -> explode into `bands` band-hash keys -> self-join on
    (band, band_hash) buckets (bounded fan-out, never all-pairs) -> distinct
    candidate pairs -> exact shingle-Jaccard verification join.

    Scale: rows shuffled = docs * bands; bucket join cost is sum of c^2 per
    bucket — with r = num_perm/bands rows per band, collision probability
    for dissimilar docs is ~s^r, keeping buckets tiny.  Hot buckets (boiler-
    plate text) are exact-dup groups — handle via exact_dedup first.

    `max_bucket` drops LSH buckets holding more than that many docs
    before the self-join — the hot-bucket c^2 guard (such buckets are
    boilerplate/exact-dup groups that exact_dedup should own).  The
    DEFAULT is the scale-safe cap (1024 members -> <= ~0.5M candidate
    pairs per hot bucket); pass None explicitly for exact banded
    semantics (what the oracle contract entry does — the bound only
    drops buckets a templated corpus degenerates into).

    `presift_margin` (opt-in, None = off) prunes candidates whose
    SIGNATURE-estimated Jaccard (fraction of agreeing minhash
    components) is below ``threshold - margin`` BEFORE the exact
    text verify — the dense-corpus throttle: the estimate is a cheap
    per-pair array comparison on data already in flight, so the
    expensive text join + shingle intersection runs only on pairs
    that can plausibly pass.  This is an APPROXIMATION (a true pair
    whose estimate strays below the margin is dropped); at 64 perms
    the estimator's sigma is ~sqrt(t(1-t)/64) ~= 0.06, so margin
    ~0.2 keeps essentially all true pairs.  The oracle contract
    entry leaves it off — exact semantics are the default.
    """
    rows = num_perm // bands
    sigs = minhash_signatures(df, key_col, text_col, num_perm, n, seed)
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    banded = sigs.select(
        "key",
        F.explode(
            F.transform(
                band_idx,
                lambda bi: F.struct(
                    bi.alias("band"),
                    F.hash(F.concat_ws(",", F.transform(
                        F.slice("sig", bi * rows + 1, rows), lambda x: x.cast("string")
                    ))).alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select("key", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    if max_bucket is not None:
        banded = _cap_buckets(banded, ["band", "bh"], max_bucket)
    cand = (
        banded.alias("x")
        .join(banded.alias("y").hint("shuffle_hash"), ["band", "bh"])
        .filter(F.col("x.key") < F.col("y.key"))
        .select(F.col("x.key").alias("key_a"), F.col("y.key").alias("key_b"))
        .distinct()
    )
    if presift_margin is not None:
        # signature-estimated Jaccard band-pass (see docstring):
        # agreement fraction of the two signature arrays, joined
        # shuffle-pinned (signatures are per-doc-scaled)
        cut = float(threshold) - float(presift_margin)
        cand = (
            cand.join(sigs.select(F.col("key").alias("key_a"),
                                  F.col("sig").alias("_siga"))
                      .hint("shuffle_hash"), "key_a")
            .join(sigs.select(F.col("key").alias("key_b"),
                              F.col("sig").alias("_sigb"))
                  .hint("shuffle_hash"), "key_b")
            .filter(
                F.size(F.filter(F.zip_with("_siga", "_sigb",
                                           lambda x, y: x == y),
                                lambda m: m))
                >= F.lit(cut * num_perm))
            .select("key_a", "key_b")
        )
    # Exact verification on the candidates only — join the candidate
    # pairs back to the RAW text first, then compute each side's
    # distinct shingle-string array and intersect.  Ordering matters at
    # both bench and corpus scale: the shingle projection is O(tokens*n)
    # with array allocations per position (measured 4.1 s over the
    # sf0.1 corpus — 85% of the old leg), so it must run on the
    # |candidates| joined rows, never corpus-wide; and shuffling raw
    # text is strictly cheaper than shuffling n*-larger shingle arrays.
    # This replaced a 4-shuffle chain (corpus-wide shingle explode ->
    # co-occurrence join -> pair groupBy -> two per-doc size joins)
    # that recomputed the corpus shingles three times; exact same
    # string-shingle Jaccard.  Zero-common candidates fall out via the
    # threshold filter (>0), as they did when the co-occurrence join
    # dropped them.
    def shingle_arr(c: str):
        toks = tokens_col(c)
        return F.when(
            F.size(toks) >= n,
            F.array_distinct(F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )),
        ).otherwise(F.array().cast("array<string>"))

    docs = df.select(F.col(key_col).alias("key"),
                     F.col(text_col).alias(text_col))
    # both joins are large x large at corpus scale: pin them to shuffle
    # joins so neither AQE stats nor caching can pick a broadcast
    # (collecting a per-doc table on the driver)
    return (
        cand.join(docs.select(F.col("key").alias("key_a"),
                              F.col(text_col).alias("_ta"))
                  .hint("shuffle_hash"), "key_a")
        .join(docs.select(F.col("key").alias("key_b"),
                          F.col(text_col).alias("_tb"))
              .hint("shuffle_hash"), "key_b")
        .select("key_a", "key_b",
                shingle_arr("_ta").alias("sa"),
                shingle_arr("_tb").alias("sb"))
        .select(
            "key_a", "key_b",
            F.size(F.array_intersect("sa", "sb")).alias("common"),
            F.size("sa").alias("n_a"), F.size("sb").alias("n_b"))
        .withColumn("jaccard", F.col("common")
                    / (F.col("n_a") + F.col("n_b") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("key_a", "key_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------

def simhash_signatures(df: DataFrame, key_col: str, text_col: str = "text",
                       bits: int = 64) -> DataFrame:
    """64-bit SimHash — batch-vectorized: one poly-hash pass over the
    flattened token buffer, splitmix64-style widening, then per-doc bit
    sign-sums via np.add.reduceat.  No per-doc Python loop."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.arange(bits, dtype=np.uint64)
        for pdf in it:
            n_docs = len(pdf)
            flat, starts = _token_offsets(pdf["_toks"])
            lens = np.diff(starts)
            sig_out = np.zeros(n_docs, dtype=np.int64)
            if len(flat):
                # widen the 31-bit poly hash to 64 bits (deterministic mix)
                h = _poly_hash_strings(flat).astype(np.uint64)
                h *= np.uint64(0x9E3779B97F4A7C15)
                h ^= h >> np.uint64(31)
                h *= np.uint64(0xBF58476D1CE4E5B9)
                h ^= h >> np.uint64(27)
                nz = lens > 0
                starts_nz = starts[:-1][nz]
                counts = np.zeros((int(nz.sum()), bits), dtype=np.int64)
                for lo in range(0, bits, 16):  # bound the bit matrix
                    hi = min(lo + 16, bits)
                    bitmat = (
                        (h[:, None] >> shifts[None, lo:hi]) & np.uint64(1)
                    ).astype(np.int64)
                    counts[:, lo:hi] = np.add.reduceat(bitmat, starts_nz, axis=0)
                score = counts * 2 - lens[nz][:, None]
                sig_bits = (score > 0).astype(np.uint64)
                sigs = (sig_bits << shifts[None, :]).sum(axis=1)
                sig_out[nz] = sigs.view(np.int64)  # two's-complement reinterp
            yield pd.DataFrame({"key": pdf[key_col].tolist(), "sig": sig_out})

    # no _spread_small_input here: the one-pass bit-count kernel is so
    # cheap per byte that the spread's text shuffle costs more than the
    # single-task compute it saves (measured 0.58 s -> 1.0 s at sf0.1)
    prepped = df.select(F.col(key_col), tokens_col(text_col).alias("_toks"))
    ktype = dict(df.dtypes)[key_col]
    return prepped.mapInPandas(batches, schema=f"key {ktype}, sig long")


def simhash_pairs(df: DataFrame, key_col: str, text_col: str = "text",
                  max_hamming: int = 3,
                  max_bucket: int | None = 1024) -> DataFrame:
    """Pairs with SimHash hamming distance <= max_hamming.

    Scale path: block on 4 16-bit chunks (pigeonhole: any pair within
    hamming<=3 shares at least one exact chunk), join per chunk, then
    verify the full distance — never an all-pairs product.

    `max_bucket` drops chunk buckets larger than the cap before the
    self-join — the hot-bucket c^2 guard.  Templated/short corpora
    collapse into few distinct signatures and degenerate without it
    (measured at 1.3M docs: 436M candidate pairs, BENCH.md "Scale
    smoke"); near-identical docs dropped here are exact_dedup's job.
    The DEFAULT is the scale-safe cap (1024); pass None explicitly for
    exact banded semantics (what the oracle contract entry does).
    """
    sigs = simhash_signatures(df, key_col, text_col).cache()
    chunks = sigs.select(
        "key", "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("chunk"),
                    F.shiftrightunsigned(F.col("sig"), 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("cv"),
                )
                for i in range(4)
            ])
        ).alias("c"),
    ).select("key", "sig", F.col("c.chunk").alias("chunk"), F.col("c.cv").alias("cv"))
    if max_bucket is not None:
        chunks = _cap_buckets(chunks, ["chunk", "cv"], max_bucket)
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y").hint("shuffle_hash"), ["chunk", "cv"])
        .filter(F.col("x.key") < F.col("y.key"))
        .select(
            F.col("x.key").alias("key_a"), F.col("x.sig").alias("sig_a"),
            F.col("y.key").alias("key_b"), F.col("y.sig").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("key_a", "key_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding similarity search
# ---------------------------------------------------------------------------

def cosine_col(vec_col: str, qvec: list[float]):
    """cosine(vec, literal query) as a Catalyst expression: zip_with dot
    product + aggregate norms — JVM-side, codegen'd, no Python."""
    q = F.array(*[F.lit(float(x)) for x in qvec])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(v, q, lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    nv = F.aggregate(F.transform(v, lambda a: a * a),
                     F.lit(0.0), lambda acc, x: acc + x)
    nq = float(np.sqrt(np.sum(np.asarray(qvec, dtype=np.float64) ** 2)))
    return dot / (F.sqrt(nv) * F.lit(nq))


def similarity_col(vec_col: str, qvec: list[float], metric: str = "cosine"):
    """similarity(vec, literal query) under the reference's 'higher is
    better' convention (src/vector/distance.rs:320-337): cosine, dot, or
    NEGATED squared L2.  Pure Catalyst expressions — JVM-side codegen."""
    if metric == "cosine":
        return cosine_col(vec_col, qvec)
    q = F.array(*[F.lit(float(x)) for x in qvec])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    if metric == "dot":
        return F.aggregate(F.zip_with(v, q, lambda a, b: a * b),
                           F.lit(0.0), lambda acc, x: acc + x)
    if metric == "l2":
        return -F.aggregate(
            F.zip_with(v, q, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x,
        )
    raise ValueError(f"unknown metric {metric!r}")


def brute_force_topk(df: DataFrame, key_col: str, vec_col: str,
                     qvec: list[float], k: int = 10,
                     metric: str = "cosine",
                     sim_col: str | None = None) -> DataFrame:
    """Exact similarity top-k: one scan, per-partition TopK (Catalyst
    TakeOrderedAndProject), driver merge — the flat-index baseline
    (the reference's flat vector search, src/vector/collector.rs:48) with
    the l2/dot/cosine kernels of src/vector/distance.rs:79-155."""
    out_col = sim_col or ("cosine" if metric == "cosine" else "sim")
    return (
        df.select(F.col(key_col),
                  similarity_col(vec_col, qvec, metric).alias(out_col))
        .orderBy(F.desc(out_col), F.asc(key_col))
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """Deterministic hyperplanes: splitmix64 over the flat (plane, dim)
    index, mapped to uniform(-1, 1).  Sign-LSH only needs a symmetric
    component distribution, and the closed-form arithmetic (vs a seeded
    PRNG stream) makes the whole bucketing pipeline reproducible outside
    numpy — the SQL oracle recomputes these exact values."""
    with np.errstate(over="ignore"):  # uint64 wraparound is the point
        seed_off = np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
    idx = np.arange(n_planes * dim, dtype=np.uint64) + seed_off
    z = idx + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    u = z.astype(np.float64) / 2.0 ** 64
    return (2.0 * u - 1.0).reshape(n_planes, dim)


def lsh_bucket_topk(df: DataFrame, key_col: str, vec_col: str,
                    qvec: list[float], k: int = 10, n_planes: int = 8,
                    n_probe_bits: int = 1, seed: int = 42) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH.

    Bucket = sign pattern over `n_planes` hyperplanes (computed as a
    Catalyst dot-product expression per plane — no Python).  The query
    probes its own bucket plus all buckets within `n_probe_bits` bit flips
    (multi-probe), then exact-reranks candidates.

    Scale: at 10^12 vectors the bucketed table is written partitioned by
    bucket id; a query prunes to (1 + n_planes choose probe) partitions —
    the IVF analogue of the reference's clustered vector index
    (src/vector/, ivf variant).
    """
    dim = len(qvec)
    planes = _hyperplanes(dim, n_planes, seed)

    def bucket_expr(vcol):
        v = F.transform(F.col(vcol), lambda x: x.cast("double"))
        acc = F.lit(0)
        for i, p in enumerate(planes):
            parr = F.array(*[F.lit(float(x)) for x in p])
            dot = F.aggregate(F.zip_with(v, parr, lambda a, b: a * b),
                              F.lit(0.0), lambda a, x: a + x)
            acc = acc + F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        return acc

    qsigns = (planes @ np.asarray(qvec, dtype=np.float64)) >= 0
    qbucket = int(sum(1 << i for i, s in enumerate(qsigns) if s))
    probe = {qbucket}
    if n_probe_bits >= 1:
        for i in range(n_planes):
            probe.add(qbucket ^ (1 << i))
    bucketed = df.withColumn("_bucket", bucket_expr(vec_col))
    cands = bucketed.filter(F.col("_bucket").isin(sorted(probe)))
    return brute_force_topk(cands, key_col, vec_col, qvec, k)


# ---------------------------------------------------------------------------
# IVF-clustered vector index (the reference's src/vector/ivf/: k-means
# training + per-cluster posting lists + nprobe probing)
# ---------------------------------------------------------------------------


def ivf_train(df: DataFrame, key_col: str, vec_col: str,
              n_clusters: int = 16, iters: int = 5,
              sample: int = 4096, seed: int = 13) -> np.ndarray:
    """Deterministic Lloyd's k-means over a seeded sample — the training
    pass of src/vector/ivf/training.rs.  Centroid init = first n_clusters
    rows of the sample ordered by a seeded hash of the key (reproducible at
    any parallelism); `iters` rounds of assign/recompute run in numpy on
    the driver over the sample (centroids are tiny; the full-data pass is
    the distributed `ivf_assign`).  Returns (n_clusters, dim) float64."""
    sdf = (
        df.select(F.col(key_col).alias("_k"), F.col(vec_col).alias("_v"))
        .withColumn("_h", F.xxhash64(F.col("_k").cast("string"), F.lit(seed)))
        .orderBy("_h")
        .limit(sample)
    )
    mat = np.array([r["_v"] for r in sdf.collect()], dtype=np.float64)
    if len(mat) == 0:
        raise ValueError("ivf_train: empty input")
    from tantivy_spark.operators.vector_index import lloyd_kmeans

    return lloyd_kmeans(mat, n_clusters, iters)


def ivf_assign(df: DataFrame, key_col: str, vec_col: str,
               centroids: np.ndarray) -> DataFrame:
    """Assign every vector to its nearest (L2) centroid — the cluster
    posting lists of src/vector/ivf/index.rs.  Vectorized pandas UDF
    (one matmul per Arrow batch).  At scale the result is written
    partitioned by `cluster` so a probe prunes to nprobe partitions."""
    cent = centroids.astype(np.float64)
    cent_sq = (cent ** 2).sum(axis=1)

    @pandas_udf("int")
    def nearest(v: pd.Series) -> pd.Series:
        m = np.array(v.tolist(), dtype=np.float64)
        if len(m) == 0:
            return pd.Series([], dtype="int32")
        # argmin ||x-c||^2 = argmin (c.c - 2 x.c)
        scores = cent_sq[None, :] - 2.0 * (m @ cent.T)
        return pd.Series(scores.argmin(axis=1).astype(np.int32))

    return df.withColumn("cluster", nearest(F.col(vec_col)))


def ivf_topk(df: DataFrame, key_col: str, vec_col: str, qvec: list[float],
             centroids: np.ndarray, k: int = 10, nprobe: int = 4,
             metric: str = "cosine", assigned: bool = False) -> DataFrame:
    """IVF probe: rank clusters by centroid L2 distance to the query,
    scan the nprobe nearest clusters, exact-rerank within — the probe loop
    of src/vector/ivf/index.rs with the distance kernels of
    src/vector/distance.rs.  nprobe = n_clusters degenerates to the exact
    flat search.  `assigned`: df already carries a `cluster` column (the
    pre-built, partition-pruned layout)."""
    if not assigned:
        df = ivf_assign(df, key_col, vec_col, centroids)
    q = np.asarray(qvec, dtype=np.float64)
    d2 = ((centroids - q[None, :]) ** 2).sum(axis=1)
    probe = np.argsort(d2, kind="stable")[:nprobe].tolist()
    cands = df.filter(F.col("cluster").isin([int(c) for c in probe]))
    return brute_force_topk(cands, key_col, vec_col, qvec, k, metric=metric)


# ---------------------------------------------------------------------------
# text analysis: language id, quality, token counts, fingerprints
# ---------------------------------------------------------------------------

#: ISO code -> stopword-list name for the 15 in-repo Snowball lists —
#: the language-ID model's vocabulary (functions/stopwords_data.py)
LANG_ID_LANGS: tuple[tuple[str, str], ...] = (
    ("cs", "czech"), ("da", "danish"), ("de", "german"), ("en", "english"),
    ("es", "spanish"), ("fi", "finnish"), ("fr", "french"),
    ("hu", "hungarian"), ("it", "italian"), ("nl", "dutch"),
    ("no", "norwegian"), ("pl", "polish"), ("pt", "portuguese"),
    ("ru", "russian"), ("sv", "swedish"),
)


def language_id(df: DataFrame, key_col: str, text_col: str = "text",
                threshold: float = 0.02) -> DataFrame:
    """Multi-language stopword-ratio language ID over the 15 in-repo
    Snowball stop lists: per-language hit ratio = |tokens in lang's stop
    list| / |tokens|, prediction = argmax ratio (ties broken by ISO-code
    order), 'unk' below `threshold` or for empty docs.

    Pure Catalyst, zero shuffles: each language's hit count is a
    size(filter(tokens, InSet)) expression — the whole classifier is one
    embarrassingly-parallel projection, which beats an explode +
    broadcast-lexicon join at 100 TB (no per-token row blow-up, no
    per-doc aggregation shuffle).
    """
    from tantivy_spark.functions.stopwords_data import STOPWORDS

    # Unicode token rule (NOT the ASCII tokens_col): accented/Cyrillic
    # stopwords must survive tokenization.  lower -> [\p{L}\p{N}]+ runs ->
    # drop >=40-byte tokens; DuckDB RE2 reproduces the same class, which
    # is what makes the oracle exact.
    toks = F.filter(
        F.regexp_extract_all(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))),
            F.lit(r"[\p{L}\p{N}]+"), F.lit(0)),
        lambda t: F.octet_length(t) < F.lit(40),
    )
    df2 = df.select(F.col(key_col), toks.alias("_tk"))
    n = F.size("_tk")

    def _member(words):
        # single-arg lambda: a defaulted second param would make PySpark
        # treat it as filter's (element, index) signature
        return lambda t: t.isin(*words)

    # one named ratio column per language (a when-chain fold would embed
    # each prior step's expression twice -> 3^15 nodes; this stays linear)
    ratio_cols = []
    for iso, name in LANG_ID_LANGS:
        hits = F.size(F.filter(F.col("_tk"),
                               _member(sorted(STOPWORDS[name]))))
        r = F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))
        ratio_cols.append(r.alias(f"_r_{iso}"))
    df3 = df2.select(F.col(key_col), F.size("_tk").alias("_n"), *ratio_cols)
    refs = [F.col(f"_r_{iso}") for iso, _ in LANG_ID_LANGS]
    mx = F.greatest(*refs)
    # argmax with ties to the first ISO code in order (the oracle's
    # ORDER BY r DESC, iso ASC): coalesce picks the first equal-to-max
    pred = F.coalesce(*[
        F.when(F.col(f"_r_{iso}") == mx, F.lit(iso))
        for iso, _ in LANG_ID_LANGS
    ])
    return df3.select(
        F.col(key_col),
        F.when((F.col("_n") > 0) & (mx >= threshold), pred)
        .otherwise(F.lit("unk")).alias("pred_lang"),
        F.round(mx, 6).alias("stopword_ratio"),
    )


def quality_score(df: DataFrame, key_col: str, text_col: str = "text") -> DataFrame:
    """Per-doc quality features: token count, type-token ratio, mean token
    length, alnum character ratio — the standard cheap quality filters."""
    toks = tokens_col(text_col)
    n = F.size(toks)
    distinct_n = F.size(F.array_distinct(toks))
    tok_chars = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    text_len = F.length(F.col(text_col))
    return df.select(
        F.col(key_col),
        n.alias("n_tokens"),
        distinct_n.alias("n_distinct"),
        F.round(F.when(n > 0, distinct_n.cast("double") / n).otherwise(0.0), 6).alias("ttr"),
        F.round(F.when(n > 0, tok_chars.cast("double") / n).otherwise(0.0), 6).alias("mean_token_len"),
        F.round(F.when(text_len > 0, tok_chars.cast("double") / text_len).otherwise(0.0), 6).alias("alnum_ratio"),
    )


def token_counts(df: DataFrame, key_col: str, text_col: str = "text") -> DataFrame:
    """Whitespace tokens vs analyzer tokens vs a BPE-ish subword estimate
    (ceil(chars/4) — the common 'tokens ~ chars/4' planning heuristic)."""
    ws = F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != ""))
    alnum = F.size(tokens_col(text_col))
    bpe_est = F.ceil(F.length(F.col(text_col)) / F.lit(4.0)).cast("long")
    return df.select(
        F.col(key_col),
        ws.alias("ws_tokens"),
        alnum.alias("alnum_tokens"),
        bpe_est.alias("bpe_est_tokens"),
    )


def fingerprint(df: DataFrame, key_col: str, text_col: str = "text") -> DataFrame:
    """Canonical document fingerprint: md5 over the normalized token stream
    (token-exact dedup key, robust to whitespace/punctuation variance)."""
    canon = F.concat_ws(" ", tokens_col(text_col))
    return df.select(F.col(key_col), F.md5(canon).alias("fingerprint"))


def rolling_fingerprints(df: DataFrame, key_col: str, text_col: str = "text",
                         window: int = 8) -> DataFrame:
    """Rabin-Karp rolling hashes of token windows — the winnowing primitive
    for partial-overlap detection.  (key, min rolling hash) per doc; the
    min-hash of windows is a cheap containment sketch.

    Batch-vectorized (_poly_hash_strings + _window_hashes + one
    np.minimum.reduceat) and SQL-reproducible: token hash = byte poly
    mod 2^31-1 base 131; window hash = token-hash fold base 1000003 —
    both expressible as DuckDB list_reduce folds, so this entry is
    oracle-checked despite being a 'kernel hashing' op."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n_docs = len(pdf)
            flat, starts = _token_offsets(pdf["_toks"])
            th = _poly_hash_strings(flat)
            wh, woffs = _window_hashes(th, starts, window)
            wlens = np.diff(woffs)
            mins = np.zeros(n_docs, dtype=np.int64)
            nz = wlens > 0
            if len(wh) and nz.any():
                mins[nz] = np.minimum.reduceat(wh, woffs[:-1][nz])
            yield pd.DataFrame(
                {"key": pdf[key_col].tolist(), "min_rolling_hash": mins}
            )

    prepped = df.select(F.col(key_col), tokens_col(text_col).alias("_toks"))
    ktype = dict(df.dtypes)[key_col]
    return prepped.mapInPandas(batches, schema=f"key {ktype}, min_rolling_hash long")

# ---------------------------------------------------------------------------
# benchmark decontamination (train/eval n-gram overlap)
# ---------------------------------------------------------------------------

def ngram_contamination(docs: DataFrame, bench: DataFrame, key_col: str,
                        text_col: str = "text", bench_key: str = "key",
                        bench_text: str = "text", n: int = 8,
                        broadcast_bench: bool = False) -> DataFrame:
    """Per-doc overlap with a benchmark/eval set: the standard
    decontamination pass of an LLM training pipeline (drop or flag train
    docs sharing long n-grams with eval data).

    Returns (key, n_shingles, contaminated, contaminated_frac,
    bench_docs_hit) per doc — `contaminated` counts the doc's DISTINCT
    n-token shingles that occur anywhere in the benchmark set.

    Scale: shingle co-occurrence join keyed on the shingle — never
    all-pairs.  The benchmark side is usually bounded (eval suites, not
    corpora): pass broadcast_bench=True to skip its shuffle; the default
    keeps both sides shuffled (the r2 lesson: per-doc side tables must
    never be broadcast by default).  Docs with fewer than n tokens have
    zero shingles and report 0 contamination.
    """
    doc_sh = shingles_df(docs, key_col, text_col, n)
    bench_sh = (shingles_df(bench, bench_key, bench_text, n)
                .select(F.col("key").alias("bkey"), "shingle"))
    if broadcast_bench:
        bench_sh = F.broadcast(bench_sh)
    else:
        bench_sh = bench_sh.hint("shuffle_hash")
    per_doc = doc_sh.groupBy("key").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        doc_sh.join(bench_sh, "shingle")
        .groupBy("key")
        .agg(F.countDistinct("shingle").alias("contaminated"),
             F.countDistinct("bkey").alias("bench_docs_hit"))
    )
    out_key = docs.select(F.col(key_col).alias("key"))
    return (
        out_key.join(per_doc.hint("shuffle_hash"), "key", "left")
        .join(hits.hint("shuffle_hash"), "key", "left")
        .select(
            "key",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("contaminated", F.lit(0)).alias("contaminated"),
            F.round(
                F.when(F.coalesce("n_shingles", F.lit(0)) > 0,
                       F.coalesce("contaminated", F.lit(0)).cast("double")
                       / F.col("n_shingles")).otherwise(0.0), 6,
            ).alias("contaminated_frac"),
            F.coalesce("bench_docs_hit", F.lit(0)).alias("bench_docs_hit"),
        )
    )


# ---------------------------------------------------------------------------
# repetition features (Gopher-style quality filters)
# ---------------------------------------------------------------------------

def _distinct_per_segment(codes: np.ndarray, doc_of: np.ndarray,
                          n_docs: int) -> np.ndarray:
    """Distinct-value count per doc segment: sort by (doc, code), count
    run starts per contiguous doc block — one lexsort + reduceat, no
    per-doc Python."""
    out = np.zeros(n_docs, dtype=np.int64)
    if len(codes) == 0:
        return out
    order = np.lexsort((codes, doc_of))
    cs, ds = codes[order], doc_of[order]
    new_run = np.ones(len(cs), dtype=np.int64)
    new_run[1:] = ((cs[1:] != cs[:-1]) | (ds[1:] != ds[:-1])).astype(np.int64)
    seg_starts = np.flatnonzero(
        np.concatenate(([True], ds[1:] != ds[:-1])))
    out[ds[seg_starts]] = np.add.reduceat(new_run, seg_starts)
    return out


def repetition_features(df: DataFrame, key_col: str,
                        text_col: str = "text") -> DataFrame:
    """Per-doc repetition signals, the Gopher/MassiveText-style filters
    (Rae et al. 2021 §A1.1): duplicate-line fraction, duplicate 2-gram /
    3-gram occurrence fractions (1 - distinct/total), and the most
    frequent token's occurrence fraction.

    One Arrow kernel per batch (`mapInPandas`), zero shuffles: tokens
    are factorized once per batch (C-level hash table), n-grams become
    adjacent-code pairs (tokens carry no spaces, so code pairs <->
    gram strings bijectively), and every distinct / top-count is a
    lexsort + run-length pass (np.diff/reduceat) — no per-token Python
    and no O(distinct x total) shape.  Semantics are pinned to the SQL
    oracle: split on [^a-z0-9]+ of lower(text), drop empty + len>=40
    tokens, lines split on \\n keeping those with non-space content
    (trim strips ASCII space only, like Spark/DuckDB trim), fractions
    rounded half-away-from-zero to 6 places (floor(x*1e6+0.5): the same
    double pipeline DuckDB's round executes).
    """
    import re

    ktype = df.schema[key_col].dataType.simpleString()
    schema = (f"{key_col} {ktype}, dup_line_frac double, "
              "dup_2gram_frac double, dup_3gram_frac double, "
              "top_token_frac double")
    tok_re = re.compile(r"[^a-z0-9]+")

    def _round6(v: np.ndarray) -> np.ndarray:
        # half-away-from-zero at 6 places over non-negative doubles:
        # bit-identical to DuckDB's round(x, 6) double pipeline
        return np.floor(v * 1e6 + 0.5) / 1e6

    def feats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n_docs = len(pdf)
            if n_docs == 0:
                continue
            texts = pdf[text_col].fillna("").tolist()
            tok_lists = [
                [t for t in tok_re.split(s.lower()) if t and len(t) < 40]
                for s in texts
            ]
            line_lists = [
                [ln for ln in s.split("\n") if ln.strip(" ")]
                for s in texts
            ]
            flat, starts = _token_offsets(tok_lists)
            lens = np.diff(starts)
            doc_of = np.repeat(np.arange(n_docs), lens)
            codes = (pd.factorize(flat)[0].astype(np.int64)
                     if len(flat) else np.empty(0, np.int64))

            # top token count per doc: runs of equal code within a doc
            top_cnt = np.zeros(n_docs, dtype=np.int64)
            if len(codes):
                order = np.lexsort((codes, doc_of))
                cs, ds = codes[order], doc_of[order]
                run_start = np.flatnonzero(np.concatenate(
                    ([True], (cs[1:] != cs[:-1]) | (ds[1:] != ds[:-1]))))
                run_lens = np.diff(np.append(run_start, len(cs)))
                run_doc = ds[run_start]
                doc_first_run = np.flatnonzero(np.concatenate(
                    ([True], run_doc[1:] != run_doc[:-1])))
                top_cnt[run_doc[doc_first_run]] = np.maximum.reduceat(
                    run_lens, doc_first_run)

            # n-grams as adjacent-code combos; a gram start is valid iff
            # all its positions share doc_of (doc segments are contiguous
            # in flat order, so adjacency checks suffice)
            g2_total = np.maximum(lens - 1, 0)
            g3_total = np.maximum(lens - 2, 0)
            g2_distinct = np.zeros(n_docs, dtype=np.int64)
            g3_distinct = np.zeros(n_docs, dtype=np.int64)
            if len(codes) >= 2 and g2_total.sum():
                k = np.int64(codes.max()) + 1
                same2 = doc_of[:-1] == doc_of[1:]
                pair_all = codes[:-1] * k + codes[1:]     # every adjacency
                g2_distinct = _distinct_per_segment(
                    pair_all[same2], doc_of[:-1][same2], n_docs)
                if len(codes) >= 3 and g3_total.sum():
                    # re-factorize pair codes so the 3-way combo stays
                    # within int64 regardless of vocabulary size
                    pf = pd.factorize(pair_all)[0].astype(np.int64)
                    same3 = same2[:-1] & same2[1:]
                    g3 = pf[:-1][same3] * k + codes[2:][same3]
                    g3_distinct = _distinct_per_segment(
                        g3, doc_of[:-2][same3], n_docs)

            lflat, lstarts = _token_offsets(line_lists)
            llens = np.diff(lstarts)
            l_doc = np.repeat(np.arange(n_docs), llens)
            lcodes = (pd.factorize(lflat)[0].astype(np.int64)
                      if len(lflat) else np.empty(0, np.int64))
            l_distinct = _distinct_per_segment(lcodes, l_doc, n_docs)

            def dup(total, distinct):
                t = total.astype(np.float64)
                return _round6(np.divide(
                    (total - distinct).astype(np.float64), t,
                    out=np.zeros(n_docs), where=total > 0))

            yield pd.DataFrame({
                key_col: pdf[key_col].values,
                "dup_line_frac": dup(llens, l_distinct),
                "dup_2gram_frac": dup(g2_total, g2_distinct),
                "dup_3gram_frac": dup(g3_total, g3_distinct),
                "top_token_frac": _round6(np.divide(
                    top_cnt.astype(np.float64),
                    lens.astype(np.float64),
                    out=np.zeros(n_docs), where=lens > 0)),
            })

    return df.select(key_col, text_col).mapInPandas(feats, schema)


# ---------------------------------------------------------------------------
# PII detection (counts for filtering/redaction decisions)
# ---------------------------------------------------------------------------

# Patterns restricted to the RE2-compatible subset (no lookaround, ASCII
# \d), so the DuckDB oracle runs the IDENTICAL pattern: what Spark's Java
# regex and DuckDB's RE2 both scan leftmost-non-overlapping.
PII_PATTERNS = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+[0-9][0-9 ()-]{6,}[0-9]",
}


def pii_features(df: DataFrame, key_col: str,
                 text_col: str = "text") -> DataFrame:
    """Per-doc PII hit counts (emails / IPv4 addresses / international
    phone numbers) + a has_pii flag — the inputs to a redaction or
    drop-document policy.  Pure Catalyst regexp projection, zero
    shuffles; detection only (redaction is `regexp_replace` with the
    same patterns, left to the caller's policy)."""
    low = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    counts = [
        F.size(F.regexp_extract_all(low, F.lit(pat), F.lit(0)))
        .alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    out = df.select(F.col(key_col), *counts)
    total = sum((F.col(f"n_{name}") for name in PII_PATTERNS),
                F.lit(0))
    return out.withColumn("has_pii", total > 0)
