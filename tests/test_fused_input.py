"""segment_assignment="input" — the fused, shuffle-free single-pass build
(the reference's IndexWriter arrival-order semantics, index_writer.rs
worker-per-segment).  Contract: identical query results to the "hash"
builds (scores use global manifest stats), layout deterministic given the
input partitioning, lineage/manifest parity, resume markers honored."""

import os
import time

import pytest
from pyspark.sql import functions as F

from tantivy_spark.config import IndexConfig
from tantivy_spark.operators.build import build_index, load_manifest
from tantivy_spark.operators.search import Searcher
from tantivy_spark.plans import logical as L
from tantivy_spark.sources.transcripts import transcripts_df


def _results(searcher, query, k=100000, mode="taat64"):
    rows = searcher.search(query, k=k, mode=mode).collect()
    return sorted((r["conv_id"], int(r["turn_idx"]), round(float(r["score"]), 4))
                  for r in rows)


def _build_pair(spark, tmp_root, tag, cfg_kwargs):
    src = transcripts_df(spark, 150, partitions=5)
    out = {}
    for mode in ("hash", "input"):
        idx = f"{tmp_root}/fused_{tag}_{mode}_{time.time_ns()}"
        cfg = IndexConfig(n_segments=4, n_term_buckets=4,
                          segment_assignment=mode, **cfg_kwargs)
        build_index(spark, src, idx, cfg)
        out[mode] = idx
    return src, out


def test_query_parity_with_hash_mode(spark, tmp_root):
    """Full match sets + f32 scores identical between the two assignment
    strategies: only the physical layout may differ."""
    _, idx = _build_pair(spark, tmp_root, "base", {"positions": True})
    sh, si = Searcher(spark, idx["hash"]), Searcher(spark, idx["input"])
    mh, mi = load_manifest(idx["hash"]), load_manifest(idx["input"])
    assert mh["total_docs"] == mi["total_docs"]
    assert mh["total_tokens"] == mi["total_tokens"]
    assert (sum(s["n_postings"] for s in mh["segments"])
            == sum(s["n_postings"] for s in mi["segments"]))
    queries = [
        L.TermQuery("the"),
        L.BooleanQuery.new([(L.Occur.MUST, L.TermQuery("query")),
                            (L.Occur.SHOULD, L.TermQuery("spark"))]),
        L.PhraseQuery(["of", "the"]),
    ]
    for q in queries:
        assert _results(sh, q) == _results(si, q)
    assert sh.count(L.TermQuery("the")) == si.count(L.TermQuery("the"))


def test_multifield_and_per_field_norms_parity(spark, tmp_root):
    """extra_fields ride the fused pass: scoped terms, per-field norms and
    the manifest's per-field token totals all match the hash build."""
    _, idx = _build_pair(spark, tmp_root, "mf", {"extra_fields": ("role",)})
    sh, si = Searcher(spark, idx["hash"]), Searcher(spark, idx["input"])
    mh, mi = load_manifest(idx["hash"]), load_manifest(idx["input"])
    assert mh["field_tokens"] == mi["field_tokens"]
    q = L.BooleanQuery.new([(L.Occur.MUST, L.TermQuery("role:user")),
                            (L.Occur.SHOULD, L.TermQuery("index"))])
    assert _results(sh, q) == _results(si, q)


def test_default_config_resolves_to_fused_input(spark, tmp_root):
    """The API-default build takes the fused shuffle-free dataflow: a
    default IndexConfig (segment_assignment="auto") resolves to "input"
    (recorded in the manifest), one segment per input partition; configs
    the fused pass cannot serve resolve to "hash"."""
    assert IndexConfig().resolved_segment_assignment() == "input"
    assert (IndexConfig(tokenizer="whitespace")
            .resolved_segment_assignment() == "hash")
    assert (IndexConfig(jvm_tokenize=False)
            .resolved_segment_assignment() == "hash")

    src = transcripts_df(spark, 40, partitions=3)
    idx = f"{tmp_root}/fused_auto_{time.time_ns()}"
    m = build_index(spark, src, idx, IndexConfig(n_term_buckets=4))
    assert m["config"]["segment_assignment"] == "input"
    assert 0 < len(m["segments"]) <= 3      # segments follow input splits


def test_layout_deterministic_given_partitioning(spark, tmp_root):
    """Two fused builds over the same partitioned frame -> identical
    docmap/postings/terms content (task output keyed only by partition id
    and input order; no exchange anywhere to perturb it)."""
    src = transcripts_df(spark, 150, partitions=5)
    cfg = IndexConfig(n_term_buckets=4, segment_assignment="input")
    fps = []
    for _ in range(2):
        idx = f"{tmp_root}/fused_det_{time.time_ns()}"
        build_index(spark, src, idx, cfg)
        post = spark.read.parquet(os.path.join(idx, "postings"))
        row = post.select(
            F.sum(F.crc32(F.concat_ws("|", "term", "segment_ord", "doc_freq",
                                      F.hex("doc_enc"), F.hex("tf_enc"),
                                      F.hex("fnorm_enc")))).alias("h"),
            F.count(F.lit(1)).alias("n")).collect()[0]
        dm = spark.read.parquet(os.path.join(idx, "docmap"))
        drow = dm.select(
            F.sum(F.crc32(F.concat_ws("|", "conv_id", "turn_idx",
                                      "segment_ord", "doc_id",
                                      "fieldnorm_id"))).alias("h"),
            F.count(F.lit(1)).alias("n")).collect()[0]
        fps.append((int(row["h"]), int(row["n"]),
                    int(drow["h"]), int(drow["n"])))
    assert fps[0] == fps[1]


def test_segments_follow_input_partitions(spark, tmp_root):
    """One segment per non-empty input partition; doc ids dense in arrival
    order within each segment."""
    src = transcripts_df(spark, 40, partitions=3)
    idx = f"{tmp_root}/fused_seg_{time.time_ns()}"
    m = build_index(spark, src, idx,
                    IndexConfig(n_term_buckets=4,
                                segment_assignment="input"))
    assert len(m["segments"]) <= 3
    dm = spark.read.parquet(os.path.join(idx, "docmap"))
    per_seg = dm.groupBy("segment_ord").agg(
        F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi")).collect()
    for r in per_seg:
        assert int(r["lo"]) == 0
        assert int(r["hi"]) == int(r["n"]) - 1


def test_empty_partitions_skipped(spark, tmp_root):
    """Over-partitioned tiny input: empty partitions yield no segment, and
    the manifest still accounts every doc."""
    src = transcripts_df(spark, 2, partitions=1).limit(3).repartition(8)
    idx = f"{tmp_root}/fused_empty_{time.time_ns()}"
    m = build_index(spark, src, idx,
                    IndexConfig(n_term_buckets=2,
                                segment_assignment="input"))
    assert m["total_docs"] == 3
    assert all(s["n_docs"] > 0 for s in m["segments"])


def test_resume_skips_fused_stage(spark, tmp_root):
    src = transcripts_df(spark, 60, partitions=2)
    idx = f"{tmp_root}/fused_resume_{time.time_ns()}"
    cfg = IndexConfig(n_term_buckets=4, segment_assignment="input")
    m1 = build_index(spark, src, idx, cfg)
    files = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(idx, "postings")) for f in fs)
    mtimes = [os.path.getmtime(f) for f in files]
    m2 = build_index(spark, src, idx, cfg, resume=True)
    assert [os.path.getmtime(f) for f in files] == mtimes
    assert m2["total_docs"] == m1["total_docs"]
    assert m2["total_tokens"] == m1["total_tokens"]


def test_invalid_combinations_raise(spark, tmp_root):
    src = transcripts_df(spark, 5, partitions=1)
    idx = f"{tmp_root}/fused_bad_{time.time_ns()}"
    for kwargs in (
        {"tokenizer": "whitespace"},
        {"jvm_tokenize": False},
    ):
        cfg = IndexConfig(segment_assignment="input", **kwargs)
        with pytest.raises(ValueError, match="segment_assignment"):
            build_index(spark, src, idx, cfg)
    with pytest.raises(ValueError, match="segment_assignment"):
        build_index(spark, src, idx,
                    IndexConfig(segment_assignment="nope"))


def test_direct_build_parity(spark, tmp_root):
    """build_index_direct (driver-planned parquet splits, direct pyarrow
    reads — no JVM in the data path) produces the same query results,
    totals and per-field stats as the DataFrame builds."""
    from tantivy_spark.operators.build import build_index_direct

    src = transcripts_df(spark, 120, partitions=4)
    src_path = f"{tmp_root}/direct_src_{time.time_ns()}"
    src.write.parquet(src_path)

    d_direct = f"{tmp_root}/direct_a_{time.time_ns()}"
    m1 = build_index_direct(
        spark, src_path, d_direct,
        IndexConfig(n_term_buckets=4, positions=True,
                    extra_fields=("role",)))
    d_hash = f"{tmp_root}/direct_b_{time.time_ns()}"
    m2 = build_index(
        spark, spark.read.parquet(src_path), d_hash,
        IndexConfig(n_segments=4, n_term_buckets=4, positions=True,
                    extra_fields=("role",)))
    assert m1["total_docs"] == m2["total_docs"]
    assert m1["total_tokens"] == m2["total_tokens"]
    assert m1["field_tokens"] == m2["field_tokens"]
    # the manifest describes the layout actually built
    assert m1["config"]["segment_assignment"] == "input"
    s1, s2 = Searcher(spark, d_direct), Searcher(spark, d_hash)
    for q in (L.TermQuery("the"), L.PhraseQuery(["of", "the"]),
              L.TermQuery("role:user")):
        assert _results(s1, q) == _results(s2, q)
    # fast fields (incl. the ns->us-normalized timestamp) readable by Spark
    dm = spark.read.parquet(f"{d_direct}/docmap")
    assert dm.filter(dm.ts.isNotNull()).count() == m1["total_docs"]


def test_direct_build_split_planning(spark, tmp_root):
    """Splits follow the parquet row-group layout deterministically and
    respect the byte bound."""
    from tantivy_spark.operators.build import plan_parquet_splits

    src = transcripts_df(spark, 60, partitions=2)
    src_path = f"{tmp_root}/plan_src_{time.time_ns()}"
    src.write.parquet(src_path)
    a = plan_parquet_splits(src_path, split_bytes=1)   # 1 split per row group
    b = plan_parquet_splits(src_path, split_bytes=1 << 40)  # 1 per file
    assert a == plan_parquet_splits(src_path, split_bytes=1)
    assert len(a) >= len(b)
    assert all(len(rgs) == 1 for _, rgs in a)


def test_direct_build_per_split_resume(spark, tmp_root):
    """Per-partition checkpoints: after a partial build (one split's
    lineage marker missing), resume re-runs ONLY that split — completed
    splits' output files are untouched."""
    from tantivy_spark.operators.build import build_index_direct

    src = transcripts_df(spark, 120, partitions=4)
    src_path = f"{tmp_root}/psr_src_{time.time_ns()}"
    src.write.parquet(src_path)
    idx = f"{tmp_root}/psr_{time.time_ns()}"
    cfg = IndexConfig(n_term_buckets=4)
    m1 = build_index_direct(spark, src_path, idx, cfg)
    markers = sorted(
        f for f in os.listdir(os.path.join(idx, "lineage"))
        if f.startswith("seg_"))
    assert len(markers) == len(m1["segments"])

    # simulate a crash: stage markers gone, one split uncommitted
    for st in ("docmap", "postings", "terms"):
        os.remove(os.path.join(idx, f"_done_{st}"))
    os.remove(os.path.join(idx, "lineage", markers[0]))
    lost_seg = markers[0].removeprefix("seg_").removesuffix(".json")
    lost_file = os.path.join(idx, "docmap", f"segment_ord={lost_seg}",
                             "part-00000.parquet")
    kept_seg = markers[1].removeprefix("seg_").removesuffix(".json")
    kept_file = os.path.join(idx, "docmap", f"segment_ord={kept_seg}",
                             "part-00000.parquet")
    lost_mtime = os.path.getmtime(lost_file)
    kept_mtime = os.path.getmtime(kept_file)

    m2 = build_index_direct(spark, src_path, idx, cfg, resume=True)
    assert m2["total_docs"] == m1["total_docs"]
    assert m2["total_tokens"] == m1["total_tokens"]
    assert os.path.getmtime(kept_file) == kept_mtime       # untouched
    assert os.path.getmtime(lost_file) > lost_mtime        # re-run

    # a CHANGED plan (different config) invalidates every checkpoint
    # (stage markers removed so the fused stage actually re-enters —
    # stage-level resume semantics are unchanged)
    for st in ("docmap", "postings", "terms"):
        os.remove(os.path.join(idx, f"_done_{st}"))
    m3 = build_index_direct(spark, src_path, idx,
                            IndexConfig(n_term_buckets=2), resume=True)
    assert m3["total_docs"] == m1["total_docs"]
    assert os.path.getmtime(kept_file) > kept_mtime


def test_direct_build_nested_layout(spark, tmp_root):
    """plan_parquet_splits discovers files recursively (nested directory
    layouts whose files carry all columns)."""
    from tantivy_spark.operators.build import (build_index_direct,
                                               plan_parquet_splits)

    src = transcripts_df(spark, 40, partitions=2)
    root = f"{tmp_root}/nested_{time.time_ns()}"
    src.filter(F.col("turn_idx") % 2 == 0).write.parquet(f"{root}/part=a")
    src.filter(F.col("turn_idx") % 2 == 1).write.parquet(f"{root}/part=b")
    splits = plan_parquet_splits(root)
    assert len(splits) >= 2
    idx = f"{tmp_root}/nested_idx_{time.time_ns()}"
    m = build_index_direct(spark, root, idx, IndexConfig(n_term_buckets=2))
    assert m["total_docs"] == src.count()


def test_direct_build_rejects_unsupported(spark, tmp_root):
    from tantivy_spark.operators.build import build_index_direct

    src = transcripts_df(spark, 5, partitions=1)
    src_path = f"{tmp_root}/rej_src_{time.time_ns()}"
    src.write.parquet(src_path)
    idx = f"{tmp_root}/rej_{time.time_ns()}"
    with pytest.raises(ValueError, match="sort_by_field"):
        build_index_direct(spark, src_path, idx,
                           IndexConfig(sort_by_field=("turn_idx", "asc")))
    with pytest.raises(ValueError, match="tokenizer"):
        build_index_direct(spark, src_path, idx,
                           IndexConfig(tokenizer="whitespace"))


def test_merge_compacts_input_mode_segments(spark, tmp_root):
    """The fused build's many small arrival-order segments compact through
    the standard merge (the LogMergePolicy story at scale: split-sized
    segments in, log-structured compaction after), preserving results."""
    from tantivy_spark.operators.merge import merge_segments

    src = transcripts_df(spark, 100, partitions=6)
    idx = f"{tmp_root}/fused_merge_{time.time_ns()}"
    m = build_index(spark, src, idx,
                    IndexConfig(n_term_buckets=4,
                                segment_assignment="input"))
    assert len(m["segments"]) > 1
    before = _results(Searcher(spark, idx), L.TermQuery("the"))
    m2 = merge_segments(spark, idx)  # full compaction
    assert len(m2["segments"]) == 1
    assert m2["total_docs"] == m["total_docs"]
    after = _results(Searcher(spark, idx), L.TermQuery("the"))
    assert before == after


def test_sort_by_field_local_sort(spark, tmp_root):
    """Index sorting composes with the fused pass (local sort only): docs
    within each segment are ordered by the sort field."""
    src = transcripts_df(spark, 60, partitions=3)
    idx = f"{tmp_root}/fused_sort_{time.time_ns()}"
    build_index(
        spark, src, idx,
        IndexConfig(n_term_buckets=4, segment_assignment="input",
                    sort_by_field=("turn_idx", "desc")))
    dm = spark.read.parquet(os.path.join(idx, "docmap")) \
        .select("segment_ord", "doc_id", "turn_idx").collect()
    by_seg: dict = {}
    for r in dm:
        by_seg.setdefault(int(r["segment_ord"]), []).append(
            (int(r["doc_id"]), int(r["turn_idx"])))
    for rows in by_seg.values():
        rows.sort()
        vals = [t for _, t in rows]
        assert vals == sorted(vals, reverse=True)
