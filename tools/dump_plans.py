"""Generate PLANS.md — formatted physical plans of the headline query
paths, the scale-evidence artifact: shows partition pruning, pushed
filters, broadcast joins, and whole-stage codegen spans.

    python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    out = buf.getvalue()
    # keep it readable: the tree, plus each scan's location/pushed-filter
    # detail lines (the pruning evidence)
    head = out.split("\n\n")[0]
    details = [
        line.strip()
        for line in out.splitlines()
        if line.strip().startswith(
            ("Location:", "PushedFilters:", "PartitionFilters:")
        )
    ]
    if details:
        head += "\n-- scan details --\n" + "\n".join(details)
    return head


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as E
    from pyspark.sql import functions as F
    from tantivy_spark.plans import logical as L
    from tantivy_spark.session import get_spark

    spark = get_spark("plans", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    s = E._searcher(spark, sf_dir)

    sections: list[tuple[str, str, str]] = []

    # fused input-mode build plan (segment_assignment="input"): show the
    # mapInArrow stage over the raw scan — NO Exchange, NO Sort anywhere
    def _fused_build_plan() -> str:
        from tantivy_spark.config import IndexConfig
        from tantivy_spark.operators import build as B

        src = spark.read.parquet(f"{sf_dir}/documents.parquet")
        cfg = IndexConfig(segment_assignment="input")
        base, _ = B._docmap_base(src, cfg, fixed_segment_ord=0)
        base = base.drop("segment_ord")

        def noop(it):
            yield from ()

        return fmt(base.mapInArrow(noop, schema="segment_ord int"))

    sections.append((
        "Fused input-mode index build (segment_assignment=\"input\")",
        "The ENTIRE build — tokenize, docmap write, postings encode, term "
        "dictionary — in one job (the benched headline + scaling "
        "configuration; BENCH.md \"Segment assignment modes\").  What to "
        "look for: **no Exchange and no Sort** — a pure map, so the "
        "shuffle machinery cannot become the scale bottleneck and output "
        "is independent of executor count by construction.  "
        "`build_index_direct` goes further: the same fused core over "
        "driver-planned parquet row-group splits read directly with "
        "pyarrow (an RDD of file tasks — no JVM in the data path at "
        "all).  The hash-assignment build keeps its single raw-text "
        "Exchange for content-deterministic segments.",
        _fused_build_plan(),
    ))

    sections.append((
        "Pruned postings scan (exact-term lookup)",
        "`tbucket` hits parquet **PartitionFilters** (directory pruning = "
        "the term-partitioned layout doing the FST's job); `term` lands in "
        "**PushedFilters** (row-group stats pruning inside a bucket).",
        fmt(s.pruned_postings(["table"])),
    ))

    sections.append((
        "DAAT top-k (per-segment kernel + global merge)",
        "ONE Spark job with no Catalyst plan and no exchange "
        "(`Searcher._run_programs`: an RDD `mapPartitions` over the live "
        "segment ords, one cluster-sized wave of tasks). Each task reads "
        "its segments' postings for the query terms with pyarrow "
        "(tbucket directory + row-group pruning) and runs the f32 "
        "block-max kernel; the driver merges the at most k×n_segments "
        "candidates. The frame handed back is a local relation.",
        fmt(s.top_docs_frame(L.BooleanQuery.union(["table", "value"]), k=10,
                             mode="daat")),
    ))

    sections.append((
        "Doc fetch (top-k -> keys)",
        "Display keys come from one pyarrow docmap read on the driver, "
        "pruned by `segment_ord in` (partition directories) and "
        "`doc_id in` (row-group stats) — the serving reader's fetch. The "
        "result is a local relation: building and collecting it runs no "
        "Spark job.",
        fmt(s.search(L.TermQuery("table"), k=10, mode="daat")),
    ))

    sections.append((
        "TAAT boolean (float64 oracle path)",
        "Decode UDF feeds a hash aggregate; `BroadcastHashJoin` on the "
        "per-term weight table; whole-stage codegen covers the scoring "
        "expression.",
        fmt(s.top_docs_frame(L.BooleanQuery.union(["table", "value"]), k=10,
                             mode="taat64")),
    ))

    sections.append((
        "Fuzzy expansion candidates (terms table, length-pruned)",
        "fuzzy/regex/prefix expansion walks the materialized `terms/` "
        "dictionary (tens of bytes per term — no encoded-block columns), "
        "never the postings table: `tlen` bounds land in **PushedFilters**, "
        "then one batched matrix-DP per Arrow batch. Round 1 aggregated the "
        "full postings table per expansion query; that path is gone.",
        fmt(s._expansion_terms().filter(
            (F.col("tlen") >= 4) & (F.col("tlen") <= 6))),
    ))

    sections.append((
        "Prefix expansion (terms table, startswith pushdown)",
        "`StringStartsWith` reaches the parquet scan of the term-sorted "
        "terms table; `TakeOrderedAndProject` caps at max_expansions.",
        fmt(s._expansion_terms().filter(F.col("term").startswith("tab"))
            .orderBy("term").limit(50)),
    ))

    from tantivy_spark.operators import aggregations as A

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    sections.append((
        "Aggregation (terms bucket + avg metric)",
        "Catalyst partial/final `HashAggregate` pair = the reference's "
        "segment-results -> merge_fruits two-phase shape; map-side combine "
        "means the shuffle carries one row per (partition, bucket).",
        fmt(A.run_aggregation(
            events,
            {"terms": {"field": "event_type", "size": 10},
             "aggs": {"v": {"avg": {"field": "value"}}}})),
    ))

    sections.append((
        "Query-scoped aggregation (searcher.aggregate)",
        "The reference's `searcher.search(query, AggregationCollector)` "
        "shape: the match set comes from a PRUNED postings scan "
        "(tbucket PartitionFilter + term PushedFilter), the docmap "
        "fast-field join is a BroadcastHashJoin (the match set is the "
        "small side for selective queries; AQE flips a huge match set "
        "to shuffle join), then the same partial/final HashAggregate "
        "pair with ONE Exchange on the bucket key and "
        "TakeOrderedAndProject for the size cut.",
        fmt(s.aggregate(
            {"terms": {"field": "lang", "size": 10},
             "aggs": {"avg_nchars": {"avg": {"field": "n_chars"}}}},
            L.TermQuery("table"))),
    ))

    from tantivy_spark.operators import pipeline as P

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sections.append((
        "MinHash-LSH candidate join",
        "Self-join keyed on (band, band_hash) — bounded bucket fan-out, "
        "never a cross join; signatures shrink the shuffle to "
        "num_perm×8 bytes per doc.",
        fmt(P.minhash_lsh_pairs(docs, "doc_id", threshold=0.5)),
    ))

    sections.append((
        "SimHash banded candidate join",
        "Pigeonhole chunk join (4×16-bit chunks of the 64-bit signature) "
        "— candidate pairs come from equality buckets, never an all-pairs "
        "product; the hamming filter runs post-join on two longs.",
        fmt(P.simhash_pairs(docs, "doc_id", max_hamming=6)),
    ))

    sections.append((
        "Language-routed stop-word filtering",
        "Tokens explode JVM-side; the (lang, term) stop table is "
        "**broadcast** and anti-joined — no shuffle of the corpus side, "
        "partial/final aggregate pair on top.",
        fmt(E.queries()["text_stopword_multilang"](spark, sf_dir)),
    ))

    sections.append((
        "LSH bucket-pruned ANN",
        "Bucket assignment is a pure Catalyst dot-product expression; the "
        "probe set becomes an `IN` filter (partition-prunable when the "
        "bucketed table is written partitioned by bucket), then exact "
        "rerank + `TakeOrderedAndProject`.",
        fmt(P.lsh_bucket_topk(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .filter(F.col("vec_id") != 0),
            "vec_id", "embedding", E._qvec(spark, sf_dir), k=10)),
    ))

    sections.append((
        "Parsed rfc3339 date-range + json-path term",
        "The timestamp bound is typed to the docmap column and lands in "
        "**PushedFilters** on the fast-field scan.",
        fmt(E.queries()["ft_parsed_date_range"](spark, sf_dir)),
    ))

    with open("PLANS.md", "w") as f:
        f.write(
            "# PLANS — physical plans of the headline paths\n\n"
            "Generated by `python tools/dump_plans.py` at sf0.01. What to\n"
            "look for in each plan is annotated; regenerate after plan-\n"
            "shape changes.\n"
        )
        for title, note, plan in sections:
            f.write(f"\n## {title}\n\n{note}\n\n```\n{plan}\n```\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
