"""The benchmark's phases over the public API of `tantivy_spark`.

Every run goes through all of them, because every run reports every
end-to-end metric:

  setup       Spark session, then base-index builds + reader opens over a
              seeded transcripts parquet: the first (cold) one before
              everything else, the steady ones one a round
  serve       `ServingSearcher` fed query strings through `QueryParser`
  dist        `Searcher.search` interactive queries with key fetch, and
              128-query `BatchSearchServer.search_many` passes
  ingest      commit / reload / query-burst cycles through `IndexWriter`;
              on `ingest_serve` also `merge_segments` over the run's own
              segments and one `delete_query`

After setup and an untimed warm-up of each phase, the run makes timed
rounds until `--seconds` have passed.  A round is one commit cycle, a
steady build, a few interactive queries and one batch pass, with the
serve stream and the churn burst run in slices between them, so each
metric's samples span the whole run and a slow spell on a shared host
lands on every metric instead of on one.  With tracing on, the run also
replays single layers in-process for the per-layer metrics.
"""

from __future__ import annotations

import gc
import glob
import hashlib
import os
import shutil
import statistics
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np

TERM, OR, AND, DISMAX = "term", "or", "and", "dismax"
KINDS = (TERM, OR, AND, DISMAX)
N_TERMS = {TERM: 1, OR: 3, AND: 2, DISMAX: 2}
# every stream cycles through this pattern, so each holds the same mix
PATTERN = (TERM, OR, TERM, AND, OR, TERM, AND, DISMAX)
TIE_BREAKER = 0.3
K = 10
POSTING_COLS = [
    "term", "segment_ord", "doc_freq", "doc_enc", "tf_enc", "fnorm_enc",
    "block_last", "block_doc_off", "block_tf_off", "bm_norm_id", "bm_tf",
]


@dataclass(frozen=True)
class Sizes:
    n_convs: int        # base corpus conversations
    n_files: int        # parquet files = planned splits = segments
    setup_rounds: int   # base-index builds; the first one is cold, the
                        # others run one a round, at most `cycles` of them
    serve_queries: int  # serve stream, run once a round
    interactive: int    # interactive distributed queries per round
    batch_size: int     # queries per search_many pass, one pass a round
    ingest_convs: int   # conversations per commit
    cycles: int         # timed commit cycles, one in each of the first rounds
    burst: int          # serving queries after each commit's reload,
                        # a multiple of len(PATTERN) keeps each burst's mix
    merge_every: int    # commits per merge of the run's own segments
    delete_at: int      # commit after which the delete_query runs


FULL = Sizes(n_convs=1000, n_files=8, setup_rounds=3, serve_queries=256,
             interactive=2, batch_size=128, ingest_convs=40, cycles=4,
             burst=56, merge_every=3, delete_at=1)
TINY = Sizes(n_convs=120, n_files=4, setup_rounds=2, serve_queries=16,
             interactive=1, batch_size=8, ingest_convs=20, cycles=3,
             burst=8, merge_every=3, delete_at=1)


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def median(values) -> float:
    return float(statistics.median(values))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in
               glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(p))


def postings_digest(index_dir: str) -> str:
    h = hashlib.sha256()
    root = os.path.join(index_dir, "postings")
    for p in sorted(glob.glob(os.path.join(root, "**", "*.parquet"),
                              recursive=True)):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# -- inputs ------------------------------------------------------------------

def write_corpus(src_dir: str, n_convs: int, n_files: int, seed: int) -> dict:
    """Seeded transcripts parked as `n_files` parquet files, one planned
    split (hence one segment) each."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tantivy_spark.sources.transcripts import transcripts_pdf

    table = pa.Table.from_pandas(transcripts_pdf(n_convs, seed),
                                 preserve_index=False)
    os.makedirs(src_dir, exist_ok=True)
    per = -(-len(table) // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * per, per),
                       os.path.join(src_dir, f"part-{i:03d}.parquet"))
    return {"turns": len(table),
            "text_bytes": int(pc.sum(pc.binary_length(table["text"])).as_py())}


class TermDraws:
    """Term draws for the query streams over the corpus vocabulary
    (`w<rank>`, rank 0 the hottest).

    Draws are stratified: n draws take one uniform variate from each of n
    equal slices of [0, 1), in random order, so every seed gets the same
    distribution of ranks while the terms themselves differ."""

    def __init__(self, rng: np.random.Generator):
        from tantivy_spark.sources.transcripts import VOCAB_SIZE, ZIPF_S

        self.rng = rng
        p = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -ZIPF_S
        self.cdf = np.cumsum(p / p.sum())
        self.used: set[str] = set()

    def _uniform(self, n: int) -> np.ndarray:
        return (self.rng.permutation(n) + self.rng.random(n)) / n

    def zipf(self, n: int) -> list[str]:
        """n terms with the corpus's own zipf law."""
        ranks = np.searchsorted(self.cdf, self._uniform(n))
        return [f"w{int(r)}" for r in ranks]

    def fresh(self, n: int, lo: int = 20, hi: int = 20000) -> list[str]:
        """n terms never drawn before by this method, log-uniform over
        ranks [lo, hi): ad-hoc traffic whose doc-freq stats are not cached."""
        out: list[str] = []
        while len(out) < n:
            for u in self._uniform(n - len(out)):
                t = f"w{int(lo * (hi / lo) ** u)}"
                if t not in self.used:
                    self.used.add(t)
                    out.append(t)
        return out


def stream(draw, n: int) -> list[tuple[str, list[str]]]:
    """n queries cycling through PATTERN, terms from one stratified draw;
    a query that drew one term twice redraws that slot."""
    kinds = [PATTERN[i % len(PATTERN)] for i in range(n)]
    terms = iter(draw(sum(N_TERMS[k] for k in kinds)))
    out = []
    for k in kinds:
        ts: list[str] = []
        for _ in range(N_TERMS[k]):
            t = next(terms)
            while t in ts:
                t = draw(1)[0]
            ts.append(t)
        out.append((k, ts))
    return out


def to_query(parser, kind: str, terms: list[str]):
    """Query strings through the parser; a dismax composes parsed arms
    (the query language has no dismax operator)."""
    from tantivy_spark.plans import logical as L

    if kind == DISMAX:
        return L.DisjunctionMaxQuery(
            tuple(parser.parse(t) for t in terms), TIE_BREAKER)
    sep = {TERM: " ", OR: " OR ", AND: " AND "}[kind]
    return parser.parse(sep.join(terms))


def f32_bits(x) -> int:
    return int(np.float32(x).view(np.uint32))


def serve_hits(df) -> list[tuple[int, int, int]]:
    return [(int(s), int(d), f32_bits(sc)) for s, d, sc in
            zip(df["segment_ord"], df["doc_id"], df["score"])]


def typed_docs(pdf, marker: str) -> list[dict]:
    """Rows as `add_document` dicts typed like the base table: plain
    Python ints would commit `turn_idx` as INT64, and a later merge over
    those segments fails on the INT32 base column."""
    docs = []
    for conv, turn, role, text, tool, ts in zip(
            pdf["conv_id"], pdf["turn_idx"], pdf["role"], pdf["text"],
            pdf["tool"], pdf["ts"]):
        docs.append({"conv_id": conv, "turn_idx": np.int32(turn),
                     "role": role, "text": f"{text} {marker}",
                     "tool": tool, "ts": ts})
    return docs


# -- the run -------------------------------------------------------------------

class Run:
    """State of one benchmark run: session, index paths, counters, the
    samples of each phase and the metrics computed from them."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 sizes: Sizes, tracer, work: str):
        self.seed = seed
        self.seconds = seconds
        self.sizes = sizes
        self.tr = tracer
        self.trace = tracer.enabled
        # merges and the delete belong to ingest_serve; traced runs always
        # make them, for the merge.* per-layer metrics
        self.rewrite = workload == "ingest_serve" or self.trace
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.draws = TermDraws(self.rng)
        self.src = os.path.join(work, "src")
        self.idx = os.path.join(work, "index")
        self.attempted = 0
        self.failed = 0
        self.wrong: list[str] = []
        self.samples: dict[str, list] = defaultdict(list)
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self._req = 0
        # set by the caller to a context that pauses background sampling
        self.quiet = nullcontext

    # -- bookkeeping --
    def op(self, name: str, fn):
        """One measured operation: (result, seconds), or (None, None) when
        it raised — counted as failed and left out of the timings."""
        self.attempted += 1
        self._req += 1
        self.tr.request = self._req
        t0 = time.perf_counter()
        try:
            with self.tr.span(name):
                out = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None, None
        finally:
            self.tr.request = None
        return out, time.perf_counter() - t0

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.wrong.append(what)

    def run(self) -> None:
        """Set up, warm every phase up, then timed rounds until `seconds`
        have passed.  The first `cycles` rounds start with one commit
        cycle each, and a run makes at least that many rounds: every commit
        changes the index (segments, tombstones, a merge) and serving right
        after a reload slows with it, so every run must make the same
        commits.  Merge and delete time extends the deadline, so both
        workloads make the same rounds."""
        t0 = time.perf_counter()
        self.setup()
        t1 = time.perf_counter()
        self.serve_open()
        self.dist_open()
        self.ingest_open()
        t2 = time.perf_counter()
        self.info["setup_phase_s"] = round(t1 - t0, 2)
        self.info["warmup_s"] = round(t2 - t1, 2)
        cycles = self.sizes.cycles
        end = t2 + self.seconds
        r = 0
        try:
            while r < cycles or time.perf_counter() < end:
                end += self.round(r)
                r += 1
        finally:
            self.bs.close()
        self.info["rounds"] = r
        self.info["rounds_s"] = round(time.perf_counter() - t2, 2)
        self.build_report()
        self.serve_report()
        self.dist_report()
        self.ingest_report()

    def round(self, r: int) -> float:
        """One round: a commit cycle, then the Spark operations (a steady
        build, the interactive queries, a batch pass), and before each of
        them a slice of the serve stream and of the churn burst.  Serving
        samples spread over the whole round like this, so a stall of the
        shared host that lasts a second or two slows a few of them instead
        of a whole pass or burst.  Returns the seconds of merge and delete."""
        n = self.sizes.interactive
        rewrite_s, churn = 0.0, []
        if r < self.sizes.cycles:
            rewrite_s = self.ingest_cycle(r)
            # each burst is its own stratified zipf draw, so every burst
            # holds the same spread of ranks (hot terms read cold included)
            churn = stream(self.draws.zipf, self.sizes.burst)
        ops = [lambda i=i: self.dist_query(r * n + i) for i in range(n)]
        ops.append(lambda: self.dist_batch(r))
        if r < self.sizes.setup_rounds - 1:
            ops.insert(0, lambda: self.build(os.path.join(self.work, "rebuild")))
        serve = np.array_split(np.arange(len(self.stream)), len(ops))
        bursts = np.array_split(np.arange(len(churn)), len(ops))
        for op, si, ci in zip(ops, serve, bursts):
            # the benchmark's own garbage (Spark results, checks) is
            # collected here, not in the middle of timed queries
            gc.collect()
            with self.quiet():
                self.serve_queries(si)
                self.churn_queries([churn[i] for i in ci])
            op()
        return rewrite_s

    # -- setup: session, base builds, reader open --
    def setup(self) -> None:
        """Corpus, Spark session and the first (cold) base-index build.
        The steady builds run one a round, so that a slow spell of the
        host does not land on all of them."""
        from tantivy_spark.config import IndexConfig
        from tantivy_spark.plans.parser import QueryParser
        from tantivy_spark.session import get_spark

        with self.tr.span("bench.corpus"):
            self.info["corpus"] = write_corpus(
                self.src, self.sizes.n_convs, self.sizes.n_files, self.seed)
        nproc = os.cpu_count() or 1
        t0 = time.perf_counter()
        with self.tr.span("session.start"):
            self.spark = get_spark("perfbench", cores=nproc,
                                   shuffle_partitions=nproc)
            self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self.cfg = IndexConfig(n_segments=32, n_term_buckets=16)
        # (build + reader open seconds, build seconds, manifest) per build
        self.builds: list[tuple[float, float, dict]] = []
        self.digest = None
        with self.tr.span("bench.setup"):
            if not self.build(self.idx):
                raise RuntimeError("base index build failed")
        self.manifest = self.builds[0][2]
        self.parser = QueryParser()
        self.stream = stream(self.draws.zipf, self.sizes.serve_queries)
        index_bytes = dir_bytes(self.idx)
        self.e2e["index_bytes_per_text_byte"] = (
            index_bytes / self.info["corpus"]["text_bytes"])
        segs = self.manifest["segments"]
        postings = int(sum(s["n_postings"] for s in segs))
        self.info["corpus"].update(postings=postings,
                                   tokens=self.manifest["total_tokens"],
                                   index_bytes=index_bytes)
        if self.trace:
            self.layer.update({
                "session.start_s": self.start_s,
                "build.segments": len(segs),
                "build.tokens": self.manifest["total_tokens"],
                "build.postings": postings,
                "build.index_bytes": index_bytes,
            })
            self.replay_split()

    def build(self, out: str) -> bool:
        """One set-up round: build the base index into `out` and open both
        readers over it.  Every build must match the first one's postings
        digest.  False when the build failed."""
        from tantivy_spark.operators.build import build_index_direct
        from tantivy_spark.operators.search import Searcher
        from tantivy_spark.operators.serve import ServingSearcher

        with self.tr.span("bench.build"):
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.perf_counter()
            man, tb = self.op("build.build_index_direct",
                              lambda: build_index_direct(
                                  self.spark, self.src, out, self.cfg))
            if man is None:
                return False
            with self.tr.span("serve.open"):
                ServingSearcher(out)
            with self.tr.span("search.open"):
                Searcher(self.spark, out)
            self.builds.append((time.perf_counter() - t0, tb, man))
            with self.tr.span("bench.check"):
                digest = postings_digest(out)
                self.digest = self.digest or digest
                self.check(digest == self.digest,
                           f"build {len(self.builds)}: postings digest "
                           f"differs from the first build's")
                turns = self.info["corpus"]["turns"]
                self.check(man["total_docs"] == turns,
                           f"total_docs {man['total_docs']} != generated {turns}")
        return True

    def build_report(self) -> None:
        rounds = [b[0] for b in self.builds]
        steady = [b[1] for b in self.builds[1:]] or [self.builds[0][1]]
        self.e2e["setup_s"] = self.start_s + median(rounds)
        self.e2e["build_turns_per_s"] = (
            self.info["corpus"]["turns"] / median(steady))
        self.info["builds"] = len(self.builds)
        if self.trace:
            stage = [b[2]["stage_seconds"] for b in self.builds[1:]
                     or self.builds]
            self.layer.update({
                "build.first_build_s": self.builds[0][1],
                "build.fused_s": median(s["fused_build"] for s in stage),
                "build.finish_s": median(s["stats"] for s in stage),
            })

    def replay_split(self) -> None:
        """One planned split through the build's per-segment steps in the
        bench process: read, tokenize, then the library's own segment
        encode and its term-bucketed postings + terms write."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from tantivy_spark.functions.arrow_tokenize import tokenize_default_arrow
        from tantivy_spark.functions.fieldnorm import fieldnorm_to_id
        from tantivy_spark.operators import build as B

        cfg = self.cfg
        basic = cfg.record == "basic"
        with self.tr.span("bench.replay_split"):
            t = time.perf_counter()
            with self.tr.span("build.plan_parquet_splits"):
                splits = B.plan_parquet_splits(self.src)
            self.layer["build.plan_s"] = time.perf_counter() - t
            fname, rgs = splits[0]
            t = time.perf_counter()
            with self.tr.span("build.split_read"):
                text = pq.ParquetFile(fname).read_row_groups(
                    list(rgs), columns=[cfg.text_col]
                ).column(cfg.text_col).combine_chunks()
            self.layer["build.split_read_s"] = time.perf_counter() - t
            t = time.perf_counter()
            with self.tr.span("build.tokenize"):
                toks = tokenize_default_arrow(text)
            self.layer["build.tokenize_s"] = time.perf_counter() - t
            # the encode input, laid out as the build's tokenize step does
            counts = np.diff(np.asarray(toks.offsets, dtype=np.int64))
            docs = pa.table({
                "doc_id": pa.array(np.arange(len(toks), dtype=np.int32)),
                "fieldnorm_id": pa.array(fieldnorm_to_id(counts).astype(np.int32)),
                "terms": toks,
                "token_count": pa.array(counts.astype(np.int32)),
            })
            with_seg = docs.append_column(
                "segment_ord", pa.array(np.zeros(len(docs), dtype=np.int32)))
            enc, enc_write = [], []
            for i in range(3):
                t = time.perf_counter()
                with self.tr.span("build.encode_segment"):
                    B._encode_segment_arrow(with_seg, cfg.positions, False,
                                            basic)
                enc.append(time.perf_counter() - t)
                out = os.path.join(self.work, "replay", str(i))
                t = time.perf_counter()
                with self.tr.span("build.encode_write_segment"):
                    B._encode_write_segment(
                        docs, 0, os.path.join(out, "postings"),
                        cfg.n_term_buckets, cfg.positions, False, (),
                        os.path.join(out, "terms"), basic)
                enc_write.append(time.perf_counter() - t)
            self.layer["build.encode_s"] = median(enc)
            # the rest of the segment task: term bucketing and the files
            self.layer["build.write_s"] = median(enc_write) - median(enc)

    # -- serve --
    def serve_op(self, srv, parser, item):
        kind, terms = item
        t0 = time.perf_counter()
        with self.tr.span("parser.parse"):
            q = to_query(parser, kind, terms)
        t1 = time.perf_counter()
        with self.tr.span("serve.search"):
            res = srv.search(q, K)
        return q, res, t1 - t0, time.perf_counter() - t1

    def serve_open(self) -> None:
        """Open the reader, load the stream's terms and make one untimed
        pass."""
        from tantivy_spark.operators.serve import ServingSearcher

        with self.tr.span("bench.serve"):
            self.srv = ServingSearcher(self.idx)
            self.srv.warm(sorted({t for _, ts in self.stream for t in ts}))
            for item in self.stream:
                self.op("bench.serve_op",
                        lambda: self.serve_op(self.srv, self.parser, item))

    def serve_queries(self, idx) -> None:
        """Timed queries `idx` of the stream.  Traced runs make each query
        twice, spans on and off, the order alternating from query to
        query, so the tracing overhead is measured on the same queries
        at the same moments."""
        s = self.samples
        with self.tr.span("bench.serve"):
            for i in idx:
                item = self.stream[i]
                modes = ((True, False) if i % 2 == 0 else (False, True)
                         ) if self.trace else (False,)
                for spans_on in modes:
                    spans_off = self.trace and not spans_on
                    self.tr.enabled = spans_on
                    out, dt = self.op("bench.serve_op", lambda: self.serve_op(
                        self.srv, self.parser, item))
                    self.tr.enabled = self.trace
                    if out is None:
                        continue
                    s["serve_off" if spans_off else "serve"].append(dt)
                    if not spans_off:
                        s[f"serve.{item[0]}"].append(out[3])
                        s["parse"].append(out[2])
                        s["serve_hits"].append(len(out[1]))

    def serve_report(self) -> None:
        s = self.samples
        lat = s["serve"] + s["serve_off"]
        self.e2e["serve_p50_ms"] = pct(lat, 50) * 1e3
        self.e2e["serve_p99_ms"] = pct(lat, 99) * 1e3
        self.e2e["serve_qps"] = len(lat) / sum(lat)
        self.info["serve_ops"] = len(lat)
        if self.trace:
            on, off = median(s["serve"]), median(s["serve_off"])
            self.layer["trace.overhead_ms"] = (on - off) * 1e3
            self.layer["trace.overhead_pct"] = (on - off) / off * 100
            self.layer["parser.parse_ms"] = median(s["parse"]) * 1e3
            for k in KINDS:
                self.layer[f"serve.search_ms.{k}"] = median(s[f"serve.{k}"]) * 1e3
            passes = len(s["serve"]) / len(self.stream)
            self.replay_serve(sum(s["serve_hits"]) / passes)

    def replay_serve(self, hits_per_pass: float) -> None:
        """Layer replays on the serve stream: cold term loads, block decode
        and the per-segment kernel, each timed alone."""
        import pyarrow.parquet as pq

        from tantivy_spark.operators import kernel as Kn
        from tantivy_spark.operators.build import term_bucket_py
        from tantivy_spark.operators.serve import ServingSearcher

        terms = sorted({t for _, ts in self.stream for t in ts})
        with self.tr.span("bench.replay_serve"):
            cold = ServingSearcher(self.idx)
            loads = []
            for t in terms[:64]:
                t0 = time.perf_counter()
                with self.tr.span("serve.load_terms"):
                    cold.load_terms([t])
                loads.append(time.perf_counter() - t0)
            self.layer["serve.load_terms_ms"] = median(loads) * 1e3
            dfs = self.srv.doc_freqs(terms)
            touched = [sum(dfs[t] for t in ts) for _, ts in self.stream]
            self.layer["serve.postings_touched_per_query"] = float(np.mean(touched))
            self.layer["kernel.postings_per_hit"] = (
                sum(touched) / max(1.0, hits_per_pass))

            by_bucket: dict[int, list[str]] = {}
            for t in terms:
                by_bucket.setdefault(
                    term_bucket_py(t, self.cfg.n_term_buckets), []).append(t)
            rows = []
            for b, ts in by_bucket.items():
                d = os.path.join(self.idx, "postings", f"tbucket={b}")
                rows += pq.read_table(d, columns=POSTING_COLS,
                                      filters=[("term", "in", ts)]).to_pylist()
            plain = [Kn.TermPostings.from_row(r) for r in rows]
            t0 = time.perf_counter()
            with self.tr.span("blocks.decode_postings"):
                for tp in plain:
                    tp.decode_all()
            self.layer["blocks.decode_ns_per_posting"] = (
                (time.perf_counter() - t0) * 1e9
                / max(1, sum(tp.doc_freq for tp in plain)))

            tps: dict[str, dict[int, object]] = {}
            for r in rows:
                tp = Kn.TermPostings.from_row(r)
                tp.cache_decoded = True
                tp.decode_all()
                tps.setdefault(r["term"], {})[int(r["segment_ord"])] = tp
            segs = sorted(int(s["segment_ord"]) for s in self.manifest["segments"])
            by_kind: dict[str, list[float]] = {k: [] for k in KINDS}
            for kind, ts in self.stream:
                w = {t: self.srv.weight_for(dfs[t], 1.0, t) for t in ts}
                occur = "must" if kind == AND else "should"
                t0 = time.perf_counter()
                with self.tr.span("kernel.segment_topk"):
                    for seg in segs:
                        cl = [Kn.Clause(occur, t, w[t], tps.get(t, {}).get(seg))
                              for t in ts]
                        if kind == DISMAX:
                            Kn.segment_topk_dismax(cl, TIE_BREAKER, K)
                        else:
                            Kn.segment_topk(cl, K)
                by_kind[kind].append(time.perf_counter() - t0)
            for k in KINDS:
                self.layer[f"kernel.topk_ms.{k}"] = median(by_kind[k]) * 1e3

    # -- distributed queries --
    def _jobs(self, group: str) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                stage = st.getStageInfo(s)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks

    def _check_dist(self, q, got: list[tuple[int, int, int]], what: str) -> None:
        with self.tr.span("bench.check"):
            want = serve_hits(self.srv.search(q, K))
        self.check(got == want, f"{what}: distributed {got[:3]}... != "
                                f"serving {want[:3]}...")

    def interactive(self, kind: str, terms: list[str], n: int):
        s = self.searcher
        q = to_query(self.parser, kind, terms)
        sc = self.spark.sparkContext
        group = f"q{n}"
        if self.trace:
            sc.setJobGroup(group, "interactive")
            t0 = time.perf_counter()
            with self.tr.span("search.doc_freqs"):
                s.doc_freqs(terms)
            stats = time.perf_counter() - t0
        rows, dt = self.op("search.search",
                           lambda: s.search(q, K, "daat").collect())
        if rows is None:
            return None
        self._check_dist(q, [(r["segment_ord"], r["doc_id"], f32_bits(r["score"]))
                             for r in rows], f"interactive {kind} {terms}")
        if not self.trace:
            return dt
        jobs, tasks = self._jobs(group)
        sc.setJobGroup("replay", "replay")
        t0 = time.perf_counter()
        with self.tr.span("search.top_docs"):
            s.search(q, K, "daat", fetch_keys=False).collect()
        topk = time.perf_counter() - t0
        return dt, stats, topk, jobs, tasks

    def batch(self, n: int):
        s = self.searcher
        qs_items = stream(self.draws.fresh, self.sizes.batch_size)
        qs = [to_query(self.parser, k, ts) for k, ts in qs_items]
        group = f"b{n}"
        stats = None
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, "batch")
            t0 = time.perf_counter()
            with self.tr.span("search.doc_freqs"):
                s.doc_freqs(sorted({t for _, ts in qs_items for t in ts}))
            stats = time.perf_counter() - t0
        out, dt = self.op("search.search_many", lambda: self.bs.search_many(qs))
        if out is None:
            return None
        pick = self.rng.choice(len(qs), size=min(16, len(qs)), replace=False)
        for i in sorted(pick):
            sub = out[out["query_idx"] == i]
            self._check_dist(qs[i], serve_hits(sub), f"batch query {i}")
        if not self.trace:
            return dt
        return dt, stats, self._jobs(group)[0]

    def dist_open(self) -> None:
        """Open the searcher and batch server, then warm up untimed: the
        first distributed query of a session takes several seconds
        (kernel and fetch jobs, Python workers)."""
        from tantivy_spark.operators.search import Searcher

        with self.tr.span("bench.dist"):
            self.searcher = Searcher(self.spark, self.idx)
            self.bs = self.searcher.batch_server(K)
            if self.trace:
                floor = []
                for _ in range(5):
                    t0 = time.perf_counter()
                    with self.tr.span("search.spark_floor"):
                        self.spark.range(os.cpu_count() or 1).count()
                    floor.append(time.perf_counter() - t0)
                self.layer["search.spark_floor_s"] = median(floor)
            # one query is not enough: the next one is still slow
            for i, item in enumerate(stream(self.draws.fresh, 2)):
                self.interactive(*item, -1 - i)
            self.batch(-1)
        # interactive queries, in PATTERN order over unseen terms
        self.queue: list[tuple[str, list[str]]] = []

    def dist_query(self, n: int) -> None:
        """The next interactive query with key fetch."""
        with self.tr.span("bench.dist"):
            if not self.queue:
                self.queue = stream(self.draws.fresh, len(PATTERN))
            out = self.interactive(*self.queue.pop(0), n)
            if out is not None:
                self.samples["inter"].append(out)

    def dist_batch(self, r: int) -> None:
        with self.tr.span("bench.dist"):
            out = self.batch(r)
            if out is not None:
                self.samples["batch"].append(out)

    def dist_report(self) -> None:
        inter, batch = self.samples["inter"], self.samples["batch"]
        lat = [r[0] if self.trace else r for r in inter]
        passes = [r[0] if self.trace else r for r in batch]
        self.e2e["dist_query_p50_s"] = pct(lat, 50)
        self.e2e["dist_query_p75_s"] = pct(lat, 75)
        self.e2e["dist_batch_qps"] = self.sizes.batch_size / median(passes)
        self.info["dist_interactive"] = len(lat)
        self.info["dist_batch_passes"] = len(passes)
        if self.trace:
            self.layer.update({
                "search.stats_job_s": median(r[1] for r in inter),
                "search.topk_job_s": median(r[2] for r in inter),
                "search.fetch_join_s": median(r[0] - r[2] for r in inter),
                "search.jobs_per_query": float(np.mean([r[3] for r in inter])),
                "search.tasks_per_query": float(np.mean([r[4] for r in inter])),
                "search.batch_stats_s": median(r[1] for r in batch),
                "search.batch_pass_s": median(r[0] for r in batch),
                "search.batch_jobs": float(np.mean([r[2] for r in batch])),
            })

    # -- ingest while serving --
    def ingest_open(self) -> None:
        """A copy of the base index, a reader over it and a writer."""
        from tantivy_spark.operators.build import load_manifest
        from tantivy_spark.operators.serve import ServingSearcher
        from tantivy_spark.writer import Index

        with self.tr.span("bench.ingest"):
            self.ing = os.path.join(self.work, "ingest")
            shutil.copytree(self.idx, self.ing)
            self.ing_srv = ServingSearcher(self.ing)
            self.writer = Index(self.spark, self.ing).writer()
            self.base_ords = {s["segment_ord"]
                              for s in load_manifest(self.ing)["segments"]}
            # the first commit of a session takes about half as long again
            # as the others: make it on a throwaway copy, so that the timed
            # commits start from the base index
            warm = os.path.join(self.work, "ingest-warm")
            shutil.copytree(self.idx, warm)
            writer = Index(self.spark, warm).writer()
            for doc in self._batch(self.sizes.cycles)[1]:
                writer.add_document(doc)
            self.op("writer.commit", writer.commit)
            shutil.rmtree(warm)
        self.live: dict[str, int] = {}   # marker -> live marked docs
        self.markers: list[str] = []
        self.loaded: set[str] = set()    # terms read since the last reload

    def _verify(self, after: str) -> None:
        from tantivy_spark.plans import logical as L

        with self.tr.span("bench.check"):
            for m, n in self.live.items():
                got = self.ing_srv.count(L.TermQuery(m))
                self.check(got == n, f"after {after}: count({m}) = "
                                     f"{got}, {n} live")

    def _reload(self) -> None:
        _, dt = self.op("serve.reload", self.ing_srv.reload)
        if dt is not None:
            self.samples["reload"].append(dt)
        self.loaded.clear()

    def _batch(self, c: int) -> tuple[str, list[dict]]:
        """Batch `c` of seeded conversations, every doc marked with the
        batch's own token: (marker, docs)."""
        from tantivy_spark.sources.transcripts import generate_conversations

        sz = self.sizes
        marker = f"mk{self.seed}x{c}"
        with self.tr.span("bench.make_batch"):
            first = sz.n_convs + 1000 + c * sz.ingest_convs
            pdf = generate_conversations(
                np.arange(first, first + sz.ingest_convs), self.seed)
            return marker, typed_docs(pdf, marker)

    def _commit(self, c: int):
        """Commit batch `c`, reload and verify.  Returns (commit seconds,
        segments added, seconds from the commit's return until the batch
        is visible), or None on failure."""
        from tantivy_spark.operators.build import load_manifest
        from tantivy_spark.plans import logical as L

        marker, docs = self._batch(c)
        for doc in docs:
            self.writer.add_document(doc)
        n_before = len(load_manifest(self.ing)["segments"])
        _, dt = self.op("writer.commit", self.writer.commit)
        if dt is None:
            self.writer.rollback()
            return None
        added = len(load_manifest(self.ing)["segments"]) - n_before
        t0 = time.perf_counter()
        self._reload()
        with self.tr.span("serve.count"):
            n = self.ing_srv.count(L.TermQuery(marker))
        visible = time.perf_counter() - t0
        self.live[marker] = len(docs)
        self.markers.append(marker)
        self.check(n == len(docs), f"commit {c}: {n} of "
                                   f"{len(docs)} marked docs visible")
        self._verify(f"commit {c}")
        return dt, added, visible

    def ingest_cycle(self, c: int) -> float:
        """Commit batch `c`, then on rewrite runs the delete_query and the
        merges.  Returns the seconds spent in merge and delete."""
        from tantivy_spark.operators import merge as M
        from tantivy_spark.operators.build import load_manifest
        from tantivy_spark.plans import logical as L

        sz, s, ing = self.sizes, self.samples, self.ing
        rewrite_s = 0.0
        with self.tr.span("bench.ingest"):
            out = self._commit(c)
            if out is not None:
                s["commit"].append(out[0])
                s["seg_add"].append(out[1])
                s["visible"].append(out[2])
            if self.rewrite and c == sz.delete_at and len(self.markers) >= 2:
                doomed = self.markers[-2]
                n, dt = self.op("merge.delete_query", lambda: M.delete_query(
                    self.spark, ing, L.TermQuery(doomed)))
                if dt is not None:
                    rewrite_s += dt
                    s["delete"].append(dt)
                    self.check(n == self.live[doomed], f"delete_query removed "
                                                       f"{n}, {self.live[doomed]} live")
                    self.live[doomed] = 0
                    self._reload()
                    self._verify("delete_query")
            if self.rewrite and (c + 1) % sz.merge_every == 0:
                own = sorted(g["segment_ord"] for g in
                             load_manifest(ing)["segments"]
                             if g["segment_ord"] not in self.base_ords)
                before = dir_bytes(ing)
                _, dt = self.op("merge.merge_segments", lambda: M.merge_segments(
                    self.spark, ing, own))
                if dt is not None:
                    rewrite_s += dt
                    s["merge"].append(dt)
                    s["merge_bytes"].append(dir_bytes(ing) - before)
                    self._reload()
                    self._verify("merge")
        return rewrite_s

    def churn_queries(self, items) -> None:
        """Timed serving queries on the ingest index since the last commit."""
        s = self.samples
        with self.tr.span("bench.ingest"):
            for item in items:
                is_cold = any(t not in self.loaded for t in item[1])
                out, dt = self.op("bench.serve_op", lambda: self.serve_op(
                    self.ing_srv, self.parser, item))
                self.loaded.update(item[1])
                if dt is not None:
                    s["churn"].append(dt)
                    s["churn_cold"].append(is_cold)

    def ingest_report(self) -> None:
        s = self.samples
        self.e2e["commit_p50_s"] = median(s["commit"])
        self.e2e["churn_serve_p50_ms"] = pct(s["churn"], 50) * 1e3
        self.e2e["churn_serve_p95_ms"] = pct(s["churn"], 95) * 1e3
        self.info["ingest_commits"] = len(s["commit"])
        self.info["ingest_merges"] = len(s["merge"])
        self.info["churn_ops"] = len(s["churn"])
        if self.trace:
            self.layer.update({
                "writer.commit_s": median(s["commit"]),
                "writer.segments_per_commit": float(np.mean(s["seg_add"])),
                "writer.commit_to_visible_ms": median(s["visible"]) * 1e3,
                "serve.reload_ms": median(s["reload"]) * 1e3,
                "serve.cold_query_ratio": float(np.mean(s["churn_cold"])),
                "merge.merge_s": median(s["merge"]),
                "merge.bytes_rewritten": float(np.mean(s["merge_bytes"])),
                "merge.delete_query_s": median(s["delete"]),
            })
