"""Searcher — query execution over a built index.

Spark trace (SURVEY.md §3.2): logical query -> global doc_freqs summed
on the driver from the terms table's per-segment rows, a pruned pyarrow
read with no Spark job (the reference computes global stats once per
query, searcher.rs:133-146, bm25.rs:108-144) -> ONE Spark job of
cluster-sized tasks, each reading its segments' postings for the query's
terms with pyarrow (tbucket directory + row-group pruning, the term-dict
FST analogue) and running the per-segment exact top-k kernel
(kernel.py) -> global merge on the driver ordered by (score desc,
segment_ord asc, doc_id asc) — the reference's merge_fruits tie-break
(top_score_collector.rs:28-30,648-655) -> display keys from one pruned
docmap read on the driver.

Two execution paths:

* ``daat`` (default): the f32 block-max kernel; rank-identical to tantivy.
* ``taat64``: a pure-DataFrame term-at-a-time plan in float64 built-ins —
  Catalyst-optimized end to end, used as the SQL-comparable oracle and the
  high-k fallback (no per-partition heap bound).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import FloatType, IntegerType, StructField, StructType

from tantivy_spark.config import IndexConfig
from tantivy_spark.functions.bm25 import Bm25Params, Bm25Weight
from tantivy_spark.functions.fieldnorm import FIELD_NORMS_TABLE
from tantivy_spark.operators import kernel as K
from tantivy_spark.operators.build import TERMS_DIR, load_manifest, term_bucket_py
from tantivy_spark.plans import logical as L

_F32 = np.float32


def _fuzzy_distance(q: str, t: str, d: int, transposition_cost_one: bool,
                    prefix: bool) -> int | None:
    """Levenshtein (or OSA with transpositions) distance of `t` from `q`
    if <= d, else None; with `prefix`, the min distance over prefixes of
    `t` — the prefix-automaton acceptance rule (fuzzy_query.rs prefix
    variant).  The returned distance is what the reference's DFA reports
    for the accepting state and feeds the 1/(1+dist) const score
    (automaton_weight.rs:120-133)."""
    m, n = len(q), len(t)
    if not prefix and abs(m - n) > d:
        return None
    prev2 = None
    prev = list(range(n + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n
        for j in range(1, n + 1):
            cost = 0 if q[i - 1] == t[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                transposition_cost_one
                and i > 1 and j > 1
                and q[i - 1] == t[j - 2] and q[i - 2] == t[j - 1]
            ):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    dist = min(prev) if prefix else prev[n]
    return dist if dist <= d else None


def _fuzzy_match(q: str, t: str, d: int, transposition_cost_one: bool,
                 prefix: bool) -> bool:
    return _fuzzy_distance(q, t, d, transposition_cost_one, prefix) is not None


def _fuzzy_distances_batch(q: str, terms, d: int, transposition_cost_one: bool,
                           prefix: bool) -> np.ndarray:
    """Vectorized `_fuzzy_distance` over a whole candidate batch: one DP
    where each cell update runs across ALL candidates as a numpy op
    (the matrix-DP batching of the Levenshtein automaton walk,
    fuzzy_query.rs:80-106).  Cost: len(q) x max_term_len vector ops per
    Arrow batch instead of a Python DP per candidate.  Returns int32
    distances, -1 where the term is farther than `d`."""
    n_cand = len(terms)
    if n_cand == 0:
        return np.empty(0, dtype=np.int32)
    lens = np.fromiter((len(t) for t in terms), dtype=np.int64, count=n_cand)
    maxlen = int(lens.max()) if n_cand else 0
    m = len(q)
    # padded char-code matrix (pad = -1, matches no query char)
    T = np.full((n_cand, maxlen), -1, dtype=np.int32)
    total = int(lens.sum())
    if total:
        flat = np.fromiter(
            (ord(c) for t in terms for c in t), dtype=np.int32, count=total
        )
        row_idx = np.repeat(np.arange(n_cand), lens)
        col_idx = np.arange(total) - np.repeat(np.cumsum(lens) - lens, lens)
        T[row_idx, col_idx] = flat
    qc = np.fromiter((ord(c) for c in q), dtype=np.int32, count=m)

    prev = np.broadcast_to(
        np.arange(maxlen + 1, dtype=np.int32), (n_cand, maxlen + 1)
    ).copy()
    prev2 = None
    for i in range(1, m + 1):
        cur = np.empty_like(prev)
        cur[:, 0] = i
        cost = (T != qc[i - 1]).astype(np.int32)
        for j in range(1, maxlen + 1):
            cur[:, j] = np.minimum(
                np.minimum(prev[:, j] + 1, cur[:, j - 1] + 1),
                prev[:, j - 1] + cost[:, j - 1],
            )
            if transposition_cost_one and i > 1 and j > 1:
                trans = (T[:, j - 1] == qc[i - 2]) & (T[:, j - 2] == qc[i - 1])
                np.minimum(
                    cur[:, j],
                    np.where(trans, prev2[:, j - 2] + 1, np.int32(1 << 20)),
                    out=cur[:, j],
                )
        prev2, prev = prev, cur
    if prefix:
        # min over prefixes of each candidate: mask cells past its length
        mask = np.arange(maxlen + 1)[None, :] > lens[:, None]
        dist = np.where(mask, np.int32(1 << 20), prev).min(axis=1)
    else:
        dist = prev[np.arange(n_cand), lens]
    return np.where(dist <= d, dist, -1).astype(np.int32)


_REGEX_SPECIAL = set(".[]{}()*+?|^$\\")


def _check_rust_regex_compat(pattern: str) -> None:
    """Reject constructs the reference's regex engine does not support —
    tantivy_fst::Regex / the Rust regex crate guarantees linear-time
    matching and therefore has NO lookaround and NO backreferences
    (regex_query.rs:64-66 surfaces the compile error as a query error).
    Java regex would happily accept them, silently diverging."""
    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "\\":
            if i + 1 < n and pattern[i + 1].isdigit() and pattern[i + 1] != "0":
                raise ValueError(
                    f"backreference \\{pattern[i + 1]} is not supported by "
                    "the reference regex engine (regex_query.rs)")
            i += 2
            continue
        if c == "(" and pattern.startswith(
            ("(?=", "(?!", "(?<=", "(?<!", "(?>"), i
        ):
            raise ValueError(
                "lookaround / atomic groups are not supported by the "
                "reference regex engine (regex_query.rs)")
        i += 1


def _regex_literal_prefix(pattern: str) -> str:
    """Longest literal prefix the regex requires of every match —
    conservatively "" when in doubt.  Used to push a `startswith` range
    prune into the term-dict parquet scan before the rlike filter (the
    automaton's can_match prefix narrowing over the sorted term dict)."""
    # a top-level alternation makes ANY accumulated prefix unsound
    # ("abc|xyz" matches strings not starting with "abc")
    depth, j, n = 0, 0, len(pattern)
    while j < n:
        c = pattern[j]
        if c == "\\":
            j += 2
            continue
        if c == "[":
            close = pattern.find("]", j + 1)
            if close == -1:
                return ""
            j = close + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "|" and depth == 0:
            return ""
        j += 1

    out: list[str] = []
    i = 0
    while i < n:
        c = pattern[i]
        if c == "\\":
            if i + 1 < n and pattern[i + 1] in _REGEX_SPECIAL:
                nxt = pattern[i + 1]
                if i + 2 < n and pattern[i + 2] in "*+?{":
                    break  # quantified: escaped char is optional/repeated
                out.append(nxt)
                i += 2
                continue
            break  # \d, \w, ... — a class, not a literal
        if c in _REGEX_SPECIAL:
            break
        if i + 1 < n and pattern[i + 1] in "*+?{":
            break  # quantified literal may repeat/vanish
        out.append(c)
        i += 1
    return "".join(out)


class CompiledBoolean:
    def __init__(self, clauses, minimum_should_match, const_score):
        self.clauses = clauses  # list[(occur:str, term:str, boost:float)]
        self.minimum_should_match = minimum_should_match
        self.const_score = const_score


class CompiledDismax:
    def __init__(self, terms, tie_breaker, boost):
        self.terms = terms  # list[(term, clause_boost)]
        self.tie_breaker = tie_breaker
        self.boost = boost


def compile_query(q: L.Query) -> CompiledBoolean | CompiledDismax:
    """Flatten the logical tree to a term-clause spec the kernel executes."""
    boost = 1.0
    const_score = None
    while True:
        if isinstance(q, L.BoostQuery):
            boost *= q.boost
            q = q.query
        elif isinstance(q, L.ConstScoreQuery):
            const_score = q.score
            q = q.query
        else:
            break

    def term_of(sub: L.Query, b: float) -> tuple[str, float]:
        while isinstance(sub, L.BoostQuery):
            b *= sub.boost
            sub = sub.query
        if not isinstance(sub, L.TermQuery):
            raise NotImplementedError(f"clause type {type(sub).__name__} not supported here")
        return sub.term, b

    if isinstance(q, L.TermQuery):
        return CompiledBoolean([("should", q.term, boost)], 0, const_score)
    if isinstance(q, L.TermSetQuery):
        cl = [("should", t, 1.0) for t in q.set_terms]
        return CompiledBoolean(cl, 0, 1.0 if const_score is None else const_score)
    if isinstance(q, L.BooleanQuery):
        cl = []
        for occur, sub in q.clauses:
            t, b = term_of(sub, boost)
            cl.append((occur.value, t, b))
        return CompiledBoolean(cl, q.minimum_should_match, const_score)
    if isinstance(q, L.DisjunctionMaxQuery):
        terms = [term_of(sub, 1.0) for sub in q.queries]
        return CompiledDismax(terms, q.tie_breaker, boost)
    raise NotImplementedError(f"query type {type(q).__name__}")


#: postings columns a batch kernel task needs (positions appended when a
#: phrase program is present and the index stores them)
_BATCH_POSTING_COLS = [
    "term", "segment_ord", "doc_freq", "doc_enc", "tf_enc", "fnorm_enc",
    "block_last", "block_doc_off", "block_tf_off", "bm_norm_id", "bm_tf",
]


def _load_segment_postings(index_dir: str, seg: int, terms: list,
                           n_buckets: int, with_positions: bool,
                           hot: "set | None" = None) -> dict:
    """Pruned pyarrow read of ONE segment's postings for `terms` —
    the build_index_direct dataflow applied to serving: each kernel task
    reads its segment's bucket files directly (no JVM scan, no exchange
    of posting bytes).  Fused-build layouts hit the per-segment file
    (postings/tbucket=B/seg{S}.parquet) exactly; other layouts fall back
    to a dataset read with row-group pruning on (term, segment_ord).
    Returns {term: TermPostings}; terms in `hot` (referenced by several
    programs) get task-lifetime decode memoization so the batch shares
    their decode — unshared terms stay lazily block-decoded so the
    kernels' BlockWAND cuts keep working."""
    cols = list(_BATCH_POSTING_COLS)
    if with_positions:
        cols += ["pos_enc", "pos_off"]
    by_bucket: dict = {}
    for t in terms:
        by_bucket.setdefault(term_bucket_py(t, n_buckets), []).append(t)
    tp: dict = {}
    for b, bterms in sorted(by_bucket.items()):
        bdir = os.path.join(index_dir, "postings", f"tbucket={b}")
        f = os.path.join(bdir, f"seg{seg}.parquet")
        if os.path.isfile(f):
            tab = pq.read_table(f, columns=cols,
                                filters=[("term", "in", bterms)])
        elif os.path.isdir(bdir):
            tab = pq.read_table(bdir, columns=cols,
                                filters=[("term", "in", bterms),
                                         ("segment_ord", "=", seg)])
        else:
            continue
        for row in tab.to_pylist():
            p = K.TermPostings.from_row(row)
            if hot is not None and row["term"] in hot:
                p.cache_decoded = True
            tp[row["term"]] = p
    return tp


def _segment_dead_docs(index_dir: str, seg: int, term_tombs: list,
                       n_buckets: int, has_doc_tombs: bool):
    """One segment's dead doc ids (sorted int64) for a direct kernel
    task: address tombstones UNION docs of tombstoned terms — the same
    alive-bitset complement Searcher.dead_docs_df builds distributed
    (src/fastfield/alive_bitset.rs semantics).  None when nothing is
    dead in this segment."""
    dead = None
    if has_doc_tombs:
        from tantivy_spark.operators.merge import tombstones_docs_path

        t = pq.read_table(tombstones_docs_path(index_dir),
                          columns=["segment_ord", "doc_id"],
                          filters=[("segment_ord", "=", seg)])
        if t.num_rows:
            dead = np.unique(np.asarray(t.column("doc_id"), dtype=np.int64))
    if term_tombs:
        for p in _load_segment_postings(
                index_dir, seg, sorted(term_tombs), n_buckets, False
        ).values():
            d = p.decode_all()[0].astype(np.int64)
            dead = d if dead is None else np.union1d(dead, d)
    return dead


def _empty_hits() -> pd.DataFrame:
    return pd.DataFrame({
        "query_idx": pd.Series(dtype="int32"),
        "segment_ord": pd.Series(dtype="int32"),
        "doc_id": pd.Series(dtype="int32"),
        "score": pd.Series(dtype="float32"),
    })


def eval_program(prog, get, k: int, dead) -> tuple[np.ndarray, np.ndarray]:
    """Run one compiled program (`Bm25StatsMixin.compile_program`) over
    one segment -> its top-k (doc ids, f32 scores) — the per-segment
    evaluator of both engines: the distributed task
    (`_eval_batch_programs`) and `ServingSearcher._search_program`.
    `get(term)` is the term's TermPostings in this segment or None;
    `dead` the segment's sorted dead doc ids or None."""
    def clause(occur, kind, payload, w):
        if kind == "term":
            return K.Clause(occur, payload, w, get(payload))
        slots, slop = payload
        cand, counts, fns = K.phrase_match_arrays(
            [get(t) for t in slots], slop=slop)
        ap = K.ArrayPostings(cand, counts, fns) if len(cand) else None
        return K.Clause(occur, " ".join(slots), w, ap)

    if prog[0] == "phrase":
        _, slots, slop, w, last = prog
        # a slot is one term, or a tuple of alternative terms (regex
        # phrase); `last` holds the phrase-prefix expansions.  The kernel
        # drops absent alternatives.
        postings = [get(s) if isinstance(s, str) else [get(t) for t in s]
                    for s in slots]
        alts = None
        if last is not None:
            postings.append(None)
            alts = [get(t) for t in last]
        return K.segment_topk_phrase(postings, w, k, slop=slop,
                                     last_alternatives=alts, dead=dead)
    if prog[0] == "bool":
        _, spec, msm, const_score = prog
        return K.segment_topk([clause(*c) for c in spec], k, msm,
                              const_score, dead=dead)
    _, spec, tie_breaker, top_boost = prog
    docs, scores = K.segment_topk_dismax(
        [clause("should", *arm) for arm in spec], tie_breaker, k, dead=dead)
    if top_boost != 1.0:
        scores = (scores * _F32(top_boost)).astype(_F32)
    return docs, scores


def _eval_batch_programs(live: list, tp: dict, seg: int, k: int,
                         dead) -> pd.DataFrame:
    """`eval_program` of every (query_idx, program) in `live` over one
    segment's postings dict -> (query_idx, segment_ord, doc_id, score)
    rows — the body of every distributed kernel task
    (`Searcher._run_programs`)."""
    qis, seg_docs, seg_scores = [], [], []
    for qi, prog in live:
        docs, scores = eval_program(prog, tp.get, k, dead)
        if len(docs):
            qis.append(np.full(len(docs), qi, dtype=np.int32))
            seg_docs.append(docs.astype(np.int32))
            seg_scores.append(scores.astype(np.float32))
    if not qis:
        return _empty_hits()
    qi_all = np.concatenate(qis)
    return pd.DataFrame({
        "query_idx": qi_all,
        "segment_ord": np.full(len(qi_all), seg, dtype=np.int32),
        "doc_id": np.concatenate(seg_docs),
        "score": np.concatenate(seg_scores),
    })


def _program_terms(prog) -> tuple[set, set]:
    """(every term a compiled program reads, the ones it reads positions
    of — its phrase-slot terms)."""
    if prog[0] == "phrase":
        _, slots, _, _, last = prog
        terms = set(last or ())
        for s in slots:
            terms.update((s,) if isinstance(s, str) else s)
        return terms, terms
    arms = prog[1] if prog[0] == "dismax" else [c[1:] for c in prog[1]]
    terms, pos = set(), set()
    for kind, payload, _ in arms:
        if kind == "phrase":
            pos.update(payload[0])
        else:
            terms.add(payload)
    return terms | pos, pos


def fetch_doc_keys(index_dir: str, key_cols, hits: pd.DataFrame
                   ) -> pd.DataFrame:
    """Inner-join the key columns onto <= k (segment_ord, doc_id) hits —
    one docmap read pruned by `segment_ord in` (partition directories)
    and `doc_id in` (row-group stats), the docstore role.  Keeps the
    row order of `hits`; shared by both engines' key fetch."""
    keys = list(key_cols)
    if not len(hits):
        return hits.assign(**{c: pd.Series(dtype=object) for c in keys})
    segs = sorted(int(s) for s in hits["segment_ord"].unique())
    docs = sorted(int(d) for d in hits["doc_id"].unique())
    dm = pq.read_table(
        os.path.join(index_dir, "docmap"),
        columns=keys + ["doc_id", "segment_ord"],
        filters=[("segment_ord", "in", segs), ("doc_id", "in", docs)],
    ).to_pandas()
    dm["segment_ord"] = dm["segment_ord"].astype(np.int32)
    return hits.merge(dm, on=["segment_ord", "doc_id"], how="inner")


def _collect_query_terms(q: L.Query, out: set) -> None:
    """Every literal term a kernel-family query tree references — for
    `search_batch`'s one-read doc-freq prefetch.  Unknown node types are
    ignored (`compile_program` returns None for them, and `search_batch`
    raises)."""
    if isinstance(q, (L.BoostQuery, L.ConstScoreQuery)):
        _collect_query_terms(q.query, out)
    elif isinstance(q, L.TermQuery):
        out.add(q.term)
    elif isinstance(q, L.TermSetQuery):
        out.update(q.set_terms)
    elif isinstance(q, L.PhraseQuery):
        out.update(q.phrase_terms)
    elif isinstance(q, L.BooleanQuery):
        for _, sub in q.clauses:
            _collect_query_terms(sub, out)
    elif isinstance(q, L.DisjunctionMaxQuery):
        for sub in q.queries:
            _collect_query_terms(sub, out)


def _compile_mixed_boolean(q: L.Query):
    """Flat boolean mixing TermQuery and PhraseQuery clauses (each
    optionally boost-wrapped) -> (clauses, minimum_should_match) with
    clauses = [(occur, kind, payload, boost)], or None when the shape
    doesn't apply (pure-term booleans use the plain kernel path; anything
    nested falls to tree evaluation).  This is BooleanWeight composing a
    PhraseScorer beside TermScorers (boolean_weight.rs)."""
    boost = 1.0
    while isinstance(q, L.BoostQuery):
        boost *= q.boost
        q = q.query
    if not isinstance(q, L.BooleanQuery):
        return None
    clauses = []
    n_phrases = 0
    for occur, sub in q.clauses:
        b = boost
        while isinstance(sub, L.BoostQuery):
            b *= sub.boost
            sub = sub.query
        if isinstance(sub, L.TermQuery):
            clauses.append((occur.value, "term", sub.term, b))
        elif isinstance(sub, L.PhraseQuery):
            n_phrases += 1
            clauses.append((occur.value, "phrase", sub, b))
        else:
            return None
    if n_phrases == 0:
        return None
    return clauses, q.minimum_should_match


def _compile_mixed_dismax(q: L.Query):
    """DisjunctionMax whose arms are terms/phrases (boost-wrapped ok),
    with at least one phrase -> [(kind, payload, boost)], tie_breaker,
    top_boost; else None."""
    boost = 1.0
    while isinstance(q, L.BoostQuery):
        boost *= q.boost
        q = q.query
    if not isinstance(q, L.DisjunctionMaxQuery):
        return None
    arms = []
    n_phrases = 0
    for sub in q.queries:
        b = 1.0
        while isinstance(sub, L.BoostQuery):
            b *= sub.boost
            sub = sub.query
        if isinstance(sub, L.TermQuery):
            arms.append(("term", sub.term, b))
        elif isinstance(sub, L.PhraseQuery):
            n_phrases += 1
            arms.append(("phrase", sub, b))
        else:
            return None
    if n_phrases == 0:
        return None
    return arms, q.tie_breaker, boost


class Bm25StatsMixin:
    """Global-statistics → Bm25Weight math shared by the distributed
    Searcher and the in-process ServingSearcher (serve.py).  Hosts need:
    `total_docs`, `total_tokens`, `field_tokens`, `cfg`, `params`, and a
    `doc_freqs(terms) -> dict` method.  All f32 operation order matches
    the reference exactly (bm25.rs:33-51,136-142)."""

    def avg_fieldnorm(self) -> float:
        return float(_F32(_F32(self.total_tokens) / _F32(self.total_docs)))

    def total_tokens_for(self, term: str) -> int:
        """Exact token total of the field a scoped term (`field:token`)
        belongs to, else the main field's — per-field avgdl exactly like
        the reference's per-field statistics (bm25.rs:33-51)."""
        if self.field_tokens and ":" in term:
            f = term.split(":", 1)[0]
            if f in self.field_tokens:
                return self.field_tokens[f]
        return self.total_tokens

    def avgdl64_for(self, term: str) -> float:
        return self.total_tokens_for(term) / self.total_docs

    def _kb_for(self, term: str) -> tuple[float, float]:
        """(k1, b) for the field a scoped term (`field:token`) belongs to
        — per-field BM25 params like the reference's per-field options
        (index_meta.rs:240-260); unscoped terms use the main field's."""
        if not self.cfg.field_bm25:
            return self.cfg.k1, self.cfg.b
        f = term.split(":", 1)[0] if ":" in term else ""
        if f and f not in self.cfg.extra_fields:
            f = ""  # json-path scopes etc. score with the main field
        return self.cfg.bm25_params_for_field(f)

    def params_for(self, term: str | None) -> Bm25Params:
        if term is None:
            return self.params
        k1, b = self._kb_for(term)
        if (k1, b) == (self.cfg.k1, self.cfg.b):
            return self.params
        return Bm25Params(k1, b)

    def weight_for(self, term_df: int, boost: float = 1.0,
                   term: str | None = None) -> Bm25Weight | None:
        if term_df <= 0:
            return None
        tt = self.total_tokens if term is None else self.total_tokens_for(term)
        avgdl = _F32(_F32(tt) / _F32(self.total_docs))
        w = Bm25Weight.for_one_term(
            term_df, self.total_docs, avgdl, self.params_for(term)
        )
        return w.boost_by(boost)

    def more_like_this_query(self, q: "L.MoreLikeThisQuery") -> L.Query:
        """Salient-term extraction (src/query/more_like_this/
        more_like_this.rs:298-365): score = tf_in_doc * idf (f32), top
        max_query_terms, clauses boosted by score * boost_factor / best."""
        from collections import Counter

        from tantivy_spark.functions.analysis import get_analyzer
        from tantivy_spark.functions.bm25 import idf as idf_f32

        toks, _ = get_analyzer(self.cfg.tokenizer)(q.doc_text)
        tf = Counter(toks)
        stop = set(q.stop_words)
        cand = [
            t for t, c in tf.items()
            if c >= q.min_term_frequency
            and len(t) >= q.min_word_length
            and (q.max_word_length is None or len(t) <= q.max_word_length)
            and t not in stop      # more_like_this.rs:293-296
        ]
        if not cand:
            return L.EmptyQuery()
        dfs = self.doc_freqs(sorted(cand))
        scored = []
        for t in cand:
            df_t = dfs[t]
            if df_t < q.min_doc_frequency or df_t == 0:
                continue
            if q.max_doc_frequency is not None and df_t > q.max_doc_frequency:
                continue
            s = _F32(_F32(tf[t]) * idf_f32(df_t, self.total_docs))
            scored.append((float(s), t))
        if not scored:
            return L.EmptyQuery()
        scored.sort(key=lambda x: (-x[0], x[1]))
        scored = scored[: q.max_query_terms]
        best = scored[0][0] or 1.0
        clauses = [
            (L.Occur.SHOULD,
             L.BoostQuery(L.TermQuery(t), s * q.boost_factor / best))
            for s, t in scored
        ]
        return L.BooleanQuery.new(clauses)

    def _phrase_weight(self, phrase: "L.PhraseQuery",
                       boost: float) -> Bm25Weight | None:
        """Multi-term weight: idfs summed over the phrase terms in order
        (bm25.rs:136-142); None if any term is absent from the corpus."""
        dfs = self.doc_freqs(sorted(set(phrase.phrase_terms)))
        if any(dfs[t] <= 0 for t in phrase.phrase_terms):
            return None
        w = Bm25Weight.for_terms(
            [dfs[t] for t in phrase.phrase_terms],
            self.total_docs, self.total_tokens_for(phrase.phrase_terms[0]),
            self.params_for(phrase.phrase_terms[0]),
        )
        return w.boost_by(boost)

    def _require_positions(self) -> None:
        if not self.cfg.positions:
            raise ValueError("index has no positions (record option)")

    def compile_program(self, query: L.Query):
        """Compile one kernel-family query into the program both engines
        run, per segment, through `eval_program` (the distributed task via
        `Searcher._run_programs`, the serving reader via
        `ServingSearcher._search_program`):

          ("empty",)                                  — matches nothing
          ("bool", clauses, msm, const_score)         — clauses =
              [(occur, "term", term, weight) |
               (occur, "phrase", (slots, slop), weight)]
          ("dismax", arms, tie_breaker, top_boost)    — arms =
              [("term", term, weight) |
               ("phrase", (slots, slop), weight)]
          ("phrase", slots, slop, weight, last)       — a slot is a term
              or a tuple of alternative terms (regex phrase); `last` is
              None or the phrase-prefix expansions of the final slot

        Statistics and term-dictionary expansion come from the host
        engine (`doc_freqs`, `expand_regex`, `expand_prefix`).  Returns
        None for query types whose plan is not a pruned postings scan
        (expansion unions, range, match-all, nested trees); raises
        ValueError for a phrase on an index without positions, before
        any expansion or postings read.
        """
        if isinstance(query, L.EmptyQuery):
            return ("empty",)
        phrase, phrase_boost = query, 1.0
        while isinstance(phrase, L.BoostQuery):
            phrase_boost *= phrase.boost
            phrase = phrase.query
        if isinstance(phrase, (L.PhraseQuery, L.RegexPhraseQuery,
                               L.PhrasePrefixQuery)):
            self._require_positions()
        if isinstance(phrase, L.PhraseQuery):
            w = self._phrase_weight(phrase, phrase_boost)
            if w is None:
                return ("empty",)
            return ("phrase", tuple(phrase.phrase_terms), phrase.slop, w,
                    None)
        if isinstance(phrase, L.RegexPhraseQuery):
            # per-slot regex expansion; the weight follows the reference:
            # Bm25Weight::for_terms over the RAW pattern terms (df
            # typically 0 -> max idf constant)
            slots = []
            for pat in phrase.patterns:
                exp = self.expand_regex(pat,
                                        max_expansions=phrase.max_expansions)
                if not exp:
                    return ("empty",)
                slots.append(tuple(exp))
            pattern_dfs = self.doc_freqs(sorted(set(phrase.patterns)))
            w = Bm25Weight.for_terms(
                [pattern_dfs[p] for p in phrase.patterns],
                self.total_docs, self.total_tokens, self.params,
            ).boost_by(phrase_boost)
            return ("phrase", tuple(slots), 0, w, None)
        if isinstance(phrase, L.PhrasePrefixQuery):
            fixed = tuple(phrase.phrase_terms[:-1])
            expansions = self.expand_prefix(phrase.phrase_terms[-1],
                                            phrase.max_expansions)
            if not expansions:
                return ("empty",)
            if fixed:
                # weight sums idfs of the fixed terms only
                # (phrase_prefix_query.rs:116)
                w = self._phrase_weight(L.PhraseQuery(fixed), phrase_boost)
                if w is None:
                    return ("empty",)
            else:
                # degenerate single-slot prefix: every expansion scores
                # like a 1-term phrase with the pseudo weight df=1
                w = Bm25Weight.for_terms(
                    [1], self.total_docs, self.total_tokens,
                    self.params).boost_by(phrase_boost)
            return ("phrase", fixed, 0, w, tuple(expansions))
        mixed = _compile_mixed_boolean(query)
        if mixed is not None:
            self._require_positions()
            clauses, msm = mixed
            dfs = self.doc_freqs(sorted(
                {p for _, kind, p, _ in clauses if kind == "term"}))
            spec = []
            for occur, kind, payload, b in clauses:
                if kind == "term":
                    spec.append((occur, "term", payload,
                                 self.weight_for(dfs[payload], b, payload)))
                else:
                    w = self._phrase_weight(payload, b)
                    if w is None:
                        # absent phrase term: a MUST phrase empties the
                        # whole query; should/must_not clauses no-op
                        if occur == "must":
                            return ("empty",)
                        continue
                    spec.append((occur, "phrase",
                                 (tuple(payload.phrase_terms), payload.slop),
                                 w))
            if not any(o != "must_not" for o, *_ in spec):
                return ("empty",)
            return ("bool", spec, msm, None)
        mixed_dm = _compile_mixed_dismax(query)
        if mixed_dm is not None:
            self._require_positions()
            arms, tie_breaker, top_boost = mixed_dm
            dfs = self.doc_freqs(sorted(
                {p for kind, p, _ in arms if kind == "term"}))
            spec = []
            for kind, payload, b in arms:
                if kind == "term":
                    spec.append(("term", payload,
                                 self.weight_for(dfs[payload], b, payload)))
                else:
                    w = self._phrase_weight(payload, b)
                    if w is None:
                        continue
                    spec.append(("phrase",
                                 (tuple(payload.phrase_terms), payload.slop),
                                 w))
            if not spec:
                return ("empty",)
            return ("dismax", spec, tie_breaker, top_boost)
        try:
            compiled = compile_query(query)
        except NotImplementedError:
            return None
        if isinstance(compiled, CompiledDismax):
            dfs = self.doc_freqs(sorted({t for t, _ in compiled.terms}))
            spec = [("term", t, self.weight_for(dfs[t], b, t))
                    for t, b in compiled.terms]
            return ("dismax", spec, compiled.tie_breaker, compiled.boost)
        dfs = self.doc_freqs(sorted({t for _, t, _ in compiled.clauses}))
        spec = [(o, "term", t, self.weight_for(dfs[t], b, t))
                for o, t, b in compiled.clauses]
        return ("bool", spec, compiled.minimum_should_match,
                compiled.const_score)


class Searcher(Bm25StatsMixin):
    """Point-in-time searcher over an index directory (manifest snapshot)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.manifest = load_manifest(index_dir)
        self.cfg = IndexConfig.from_json_dict(self.manifest["config"])
        self.total_docs = int(self.manifest["total_docs"])
        self.total_tokens = int(self.manifest["total_tokens"])
        #: exact per-field token totals (multi-field schemas) — the
        #: reference's per-field total_num_tokens (bm25.rs:33-51)
        self.field_tokens = {
            f: int(v)
            for f, v in self.manifest.get("field_tokens", {}).items()
        }
        self.params = Bm25Params(self.cfg.k1, self.cfg.b)
        self._df_cache: dict[str, int] = {}
        self._tombstones: list[str] | None = None
        self._doc_tombstones: list[tuple[int, int]] | None = None
        self._has_doc_tombs: bool | None = None
        self._dead_df: DataFrame | None = None
        self._postings_df: DataFrame | None = None
        self._key_fields_cache: list | None = None
        self._live_segments = {
            int(s["segment_ord"]) for s in self.manifest["segments"]
        }

    def tombstones(self) -> list[str]:
        """Pending delete-term tombstones (alive-bitset role; applied as
        injected must_not clauses — exactly tantivy's 'docs containing the
        deleted term are dead' semantics, index_writer.rs:732)."""
        if self._tombstones is None:
            from tantivy_spark.operators.merge import tombstoned_terms

            self._tombstones = tombstoned_terms(self.index_dir)
        return self._tombstones

    # -- table access -------------------------------------------------------
    def docmap(self, with_terms: bool = False) -> DataFrame:
        df = self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))
        if not with_terms:
            df = df.drop("terms", "positions", "term_fns")
        return df.filter(
            F.col("segment_ord").isin(sorted(self._live_segments))
        )

    def postings(self) -> DataFrame:
        # live-segment filter: merged-away segments' files are orphans until
        # GC; the manifest snapshot decides visibility (searcher pinning).
        # The base relation is memoized: a Searcher is a pinned manifest
        # snapshot, so re-listing the postings files (a 1-task driver job)
        # on every query would be pure per-query overhead.
        if self._postings_df is None:
            self._postings_df = self.spark.read.parquet(
                os.path.join(self.index_dir, "postings")
            ).filter(F.col("segment_ord").isin(sorted(self._live_segments)))
        return self._postings_df

    def plugin(self, name: str) -> DataFrame:
        """Read a SegmentPlugin component table written at build time
        (build_index(plugins=...); segment_component.rs:31-33 analogue),
        live-segment filtered like every other per-segment table."""
        if name not in self.manifest.get("plugins", []):
            raise KeyError(f"index has no plugin component {name!r}")
        return self.spark.read.parquet(
            os.path.join(self.index_dir, f"plugin_{name}")
        ).filter(F.col("segment_ord").isin(sorted(self._live_segments)))

    def pruned_postings(self, terms: list[str]) -> DataFrame:
        """Partition-pruned + stats-pruned scan for exactly these terms."""
        buckets = sorted({term_bucket_py(t, self.cfg.n_term_buckets) for t in terms})
        return (
            self.postings()
            .filter(F.col("tbucket").isin(buckets))
            .filter(F.col("term").isin(list(set(terms))))
        )

    def space_usage(self) -> dict:
        """Per-segment/per-component byte usage — the reference's
        `Searcher::space_usage` (src/space_usage/mod.rs:61-99)."""
        from tantivy_spark.operators.space_usage import searcher_space_usage

        return searcher_space_usage(self.index_dir, self.manifest)

    def snippet_generator(self, query: "L.Query", chain: str | None = None):
        """Reference `SnippetGenerator::create(searcher, query, field)`
        (src/snippet/mod.rs:602-652): term scores from this searcher's
        doc freqs, tokenizer from the index config."""
        from tantivy_spark.operators.snippet import SnippetGenerator

        return SnippetGenerator.create(self, query, chain=chain)

    def doc_freqs(self, terms: list[str]) -> dict[str, int]:
        """Global per-term doc freq: each live segment's `doc_freq` summed
        per term (the EnableScoring::Enabled stats pass,
        searcher.rs:133-146), read on the driver with pyarrow — one
        `term in` filtered read per touched tbucket directory of the
        terms table (row groups pruned by term stats), no Spark job.
        Rows of merged-away segments are skipped; absent terms get 0.
        Cached per searcher: a Searcher is a pinned manifest snapshot,
        so term stats are immutable for its lifetime (the reference's
        Searcher holds its segment list the same way)."""
        missing = sorted({t for t in terms if t not in self._df_cache})
        if missing:
            # indexes built before the terms stage carry the same
            # (term, segment_ord, doc_freq) rows in the postings table
            table = TERMS_DIR if self._has_terms_table() else "postings"
            by_bucket: dict[int, list[str]] = {}
            for t in missing:
                self._df_cache[t] = 0
                by_bucket.setdefault(
                    term_bucket_py(t, self.cfg.n_term_buckets), []).append(t)
            for b, bucket_terms in sorted(by_bucket.items()):
                d = os.path.join(self.index_dir, table, f"tbucket={b}")
                if not os.path.isdir(d):
                    continue
                cols = ["term", "segment_ord", "doc_freq"]
                tab = pq.read_table(d, columns=cols,
                                    filters=[("term", "in", bucket_terms)])
                for t, seg, n in zip(*(tab.column(c).to_pylist()
                                       for c in cols)):
                    if seg in self._live_segments:
                        self._df_cache[t] += n
        return {t: self._df_cache[t] for t in terms}

    def doc(self, address: tuple[int, int]) -> dict | None:
        """Fetch a document's stored/fast fields by DocAddress
        (searcher.doc(address) parity; the docmap plays the docstore role,
        the source table holds the original text)."""
        seg, did = address
        row = (
            self.docmap()
            .filter((F.col("segment_ord") == seg) & (F.col("doc_id") == did))
            .first()
        )
        return row.asDict() if row is not None else None

    def warm(self) -> "Searcher":
        """Warming hook (the reference's Warmer API, src/reader/warming.rs):
        pin the hot tables in executor memory so repeated queries skip the
        parquet scan."""
        self._warm_postings = self.postings().cache()
        self._warm_postings.count()
        return self

    def explain(self, query: L.Query, key: tuple) -> dict:
        """Score explanation for one document (Weight::explain,
        src/query/weight.rs:121-146): per-clause idf/tf/fieldnorm breakdown
        plus the combined score.  `key` = the doc's key_cols values."""
        import math

        spec = compile_query(query)
        if isinstance(spec, CompiledDismax):
            raise NotImplementedError("explain covers boolean/term queries")
        dm = self.docmap()
        for col, val in zip(self.cfg.key_cols, key):
            dm = dm.filter(F.col(col) == val)
        row = dm.select("segment_ord", "doc_id", "fieldnorm_id",
                        "token_count").first()
        if row is None:
            return {"matched": False, "reason": "no such document"}
        seg, did = int(row["segment_ord"]), int(row["doc_id"])
        terms = sorted({t for _, t, _ in spec.clauses})
        dfs = self.doc_freqs(terms)
        flat = (
            self.flat_postings(terms)
            .filter((F.col("segment_ord") == seg) & (F.col("doc_id") == did))
            .collect()
        )
        tf_by_term = {r["term"]: int(r["tf"]) for r in flat}
        N = self.total_docs
        avgdl = self.avg_fieldnorm()
        dl = float(FIELD_NORMS_TABLE[int(row["fieldnorm_id"])])
        details, total = [], _F32(0.0)
        for occur, t, boost in spec.clauses:
            w = self.weight_for(dfs[t], boost, t)
            tf = tf_by_term.get(t, 0)
            clause_score = (
                float(w.score(np.array([int(row["fieldnorm_id"])]),
                              np.array([tf]))[0])
                if (w is not None and tf > 0) else 0.0
            )
            details.append({
                "term": t, "occur": occur, "boost": boost,
                "doc_freq": dfs[t],
                "idf": float(math.log(1.0 + (N - dfs[t] + 0.5) / (dfs[t] + 0.5)))
                if dfs[t] > 0 else 0.0,
                "tf": tf,
                "fieldnorm_id": int(row["fieldnorm_id"]),
                "decoded_fieldnorm": dl,
                "exact_token_count": int(row["token_count"]),
                "score": clause_score,
            })
            if occur != "must_not" and tf > 0:
                total = _F32(total + _F32(clause_score))
        musts = [d for d in details if d["occur"] == "must"]
        matched = (
            all(d["tf"] > 0 for d in musts)
            and any(d["tf"] > 0 for d in details if d["occur"] != "must_not")
            and not any(d["tf"] > 0 for d in details if d["occur"] == "must_not")
        )
        return {
            "matched": matched,
            "score": float(total) if matched else 0.0,
            "avgdl": float(avgdl),
            "total_docs": N,
            "clauses": details,
        }

    def explain_tree(self, query: L.Query, key: tuple) -> dict:
        """Nested score explanation mirroring the reference's Explanation
        tree (src/query/explanation.rs: value + description + details;
        Weight::explain implementations per query type).  Works for any
        query the engine evaluates — each node reports its contribution to
        the doc's score and recurses into children."""
        dm = self.docmap()
        for col, val in zip(self.cfg.key_cols, key):
            dm = dm.filter(F.col(col) == val)
        row = dm.select("segment_ord", "doc_id").first()
        if row is None:
            return {"matched": False, "description": "no such document"}
        seg, did = int(row["segment_ord"]), int(row["doc_id"])
        return self._explain_node(query, seg, did)

    def _node_score(self, q: L.Query, seg: int, did: int) -> float | None:
        """Score of one doc under a subtree via the TAAT evaluator; None if
        the doc does not match the subtree."""
        frame = self._eval_tree(q)
        if frame is None:
            return None
        hit = frame.filter(
            (F.col("segment_ord") == seg) & (F.col("doc_id") == did)
        ).select("score").first()
        return None if hit is None else float(hit["score"])

    def _explain_node(self, q: L.Query, seg: int, did: int) -> dict:
        def node(desc, value, details=None, **extra):
            out = {
                "description": desc,
                "value": 0.0 if value is None else float(value),
                "matched": value is not None,
            }
            if details:
                out["details"] = details
            out.update(extra)
            return out

        if isinstance(q, L.BoostQuery):
            child = self._explain_node(q.query, seg, did)
            v = child["value"] * float(q.boost) if child["matched"] else None
            return node(f"Boost(x{q.boost})", v, [child])
        if isinstance(q, L.ConstScoreQuery):
            child = self._explain_node(q.query, seg, did)
            v = float(q.score) if child["matched"] else None
            return node(f"ConstScore({q.score})", v, [child])
        if isinstance(q, L.TermQuery):
            dfs = self.doc_freqs([q.term])
            v = self._node_score(q, seg, did)
            return node(
                f"TermQuery({q.term!r})", v,
                doc_freq=int(dfs[q.term]), total_docs=int(self.total_docs),
            )
        if isinstance(q, L.BooleanQuery):
            details, total, ok = [], 0.0, True
            n_should = 0
            for occur, sub in q.clauses:
                child = self._explain_node(sub, seg, did)
                child["occur"] = occur.value if hasattr(occur, "value") else str(occur)
                details.append(child)
                if occur == L.Occur.MUST:
                    if not child["matched"]:
                        ok = False
                    else:
                        total += child["value"]
                elif occur == L.Occur.SHOULD:
                    if child["matched"]:
                        total += child["value"]
                        n_should += 1
                else:
                    if child["matched"]:
                        ok = False
            has_must = any(o == L.Occur.MUST for o, _ in q.clauses)
            has_matching_should = n_should > 0
            if not has_must and not has_matching_should:
                ok = False
            if q.minimum_should_match > 0 and n_should < q.minimum_should_match:
                ok = False
            return node("BooleanQuery(sum of matching clauses)",
                        total if ok else None, details)
        if isinstance(q, L.DisjunctionMaxQuery):
            details = [self._explain_node(sub, seg, did) for sub in q.queries]
            vals = [d["value"] for d in details if d["matched"]]
            if not vals:
                return node("DisjunctionMax", None, details)
            mx = max(vals)
            v = mx + float(q.tie_breaker) * (sum(vals) - mx)
            return node(
                f"DisjunctionMax(tie_breaker={q.tie_breaker})", v, details)
        # leaf families evaluated through the TAAT tree (phrase, fuzzy,
        # regex, term-set, exists, range, all/empty)
        v = self._node_score(q, seg, did)
        return node(type(q).__name__, v)

    def _has_terms_table(self) -> bool:
        return bool(self.manifest.get("terms_table") or os.path.exists(
            os.path.join(self.index_dir, TERMS_DIR)))

    def terms_table(self) -> DataFrame | None:
        """The materialized per-segment term dictionary each segment's
        encode writes (build._encode_write_segment — the persisted FST
        analogue), filtered to the manifest's live segments; None for
        pre-terms-table indexes."""
        if not self._has_terms_table():
            return None
        return self.spark.read.parquet(
            os.path.join(self.index_dir, TERMS_DIR)
        ).filter(
            F.col("segment_ord").isin(sorted(self._live_segments))
        )

    def term_dict(self) -> DataFrame:
        """Global term dictionary (term, df) — the FST analogue.  Reads
        the materialized terms table (tiny: no encoded-block columns);
        falls back to aggregating the postings table only for indexes
        built before the terms stage existed."""
        tt = self.terms_table()
        src = tt if tt is not None else self.postings()
        return src.groupBy("term").agg(F.sum("doc_freq").alias("df"))

    def _expansion_terms(self) -> DataFrame:
        """Distinct (term, tlen) — the expansion walk surface.  Expansion
        queries never need doc freqs, so this skips even the df agg."""
        tt = self.terms_table()
        if tt is not None:
            return tt.select("term", "tlen").distinct()
        return (
            self.postings()
            .select("term")
            .distinct()
            .withColumn("tlen", F.length("term"))
        )

    def expand_regex(self, pattern: str,
                     max_expansions: int | None = 1024) -> list[str]:
        """Terms matching an anchored regex (the reference's regex automaton
        over the term dict, src/query/regex_query.rs:57; tantivy anchors the
        automaton to the full term).  The pattern's literal prefix becomes a
        `startswith` prune pushed into the term-dict parquet scan.

        `max_expansions` bounds the driver collect: the first N matches in
        term order via TakeOrderedAndProject (bounded memory at any
        vocabulary size — a broad pattern like `.*x.*` over a 10^9-term
        dictionary would otherwise collect unboundedly; the reference's
        automaton walk streams per segment and the related phrase-prefix
        expansion caps at max_expansions, phrase_prefix_query.rs).  Pass
        None for the unbounded exact expansion.

        Semantics parity: the reference compiles tantivy_fst::Regex (the
        Rust regex crate) whose classes are Unicode by default — the
        `(?U)` flag gives Java the same `\\w`/`\\d`/`\\s`/`\\b` classes
        and Unicode case folding for `(?i)` (pinned by the vectors in
        tests/test_expansion.py); constructs the Rust engine REJECTS
        (lookaround, backreferences) raise here too, like
        RegexQuery::from_pattern's pattern error."""
        _check_rust_regex_compat(pattern)
        anchored = f"(?U)^(?:{pattern})$"
        cands = self._expansion_terms()
        lit = _regex_literal_prefix(pattern)
        if lit:
            cands = cands.filter(F.col("term").startswith(lit))
        matched = cands.filter(F.col("term").rlike(anchored))
        if max_expansions is not None:
            rows = matched.orderBy("term").limit(max_expansions).collect()
            return [r["term"] for r in rows]  # already term-sorted
        return sorted(r["term"] for r in matched.collect())

    def expand_fuzzy_scored(self, term: str, distance: int = 1,
                            transposition_cost_one: bool = True,
                            prefix: bool = False) -> list[tuple[str, int]]:
        """(term, edit distance) pairs within Levenshtein (or OSA, when
        transpositions cost 1) distance — the Levenshtein-automaton ∩
        term-dict walk of src/query/fuzzy_query.rs:80-106: length pruning
        pushed to the terms-table parquet scan, then one batched matrix DP
        per Arrow batch (no per-candidate Python loop)."""
        q = term
        d = distance
        cands = self._expansion_terms()
        if not prefix:
            cands = cands.filter(
                (F.col("tlen") >= len(q) - d) & (F.col("tlen") <= len(q) + d)
            )
        else:
            cands = cands.filter(F.col("tlen") >= len(q) - d)

        def match_batches(it):
            for pdf in it:
                terms = pdf["term"].to_numpy(dtype=object)
                dists = _fuzzy_distances_batch(
                    q, terms, d, transposition_cost_one, prefix
                )
                keep = dists >= 0
                yield pd.DataFrame(
                    {"term": terms[keep], "dist": dists[keep]}
                )

        rows = (
            cands.select("term")
            .mapInPandas(match_batches, schema="term string, dist int")
            .collect()
        )
        return sorted((r["term"], r["dist"]) for r in rows)

    def expand_fuzzy(self, term: str, distance: int = 1,
                     transposition_cost_one: bool = True,
                     prefix: bool = False) -> list[str]:
        return [t for t, _ in self.expand_fuzzy_scored(
            term, distance, transposition_cost_one, prefix)]

    # (BM25 stats → weight math inherited from Bm25StatsMixin)

    # -- collectors -----------------------------------------------------------
    def count(self, query: L.Query) -> int:
        """Count collector; doc_freq fast path for single terms — only
        valid with no pending deletes (the same no-deletes condition as
        weight.rs count default + term_weight.rs override)."""
        if not self.tombstones() and not self.has_doc_tombstones():
            if isinstance(query, L.TermQuery):
                return self.doc_freqs([query.term])[query.term]
            if isinstance(query, L.AllQuery):
                # match-all count = manifest doc total (all_query.rs)
                return self.total_docs
        df = self.top_docs_frame(query, k=None, mode="taat64")
        return df.count()

    def aggregate(self, request: dict, query: L.Query | None = None,
                  fast_fields: list[str] | None = None) -> DataFrame:
        """Query-scoped aggregations — the reference's
        `searcher.search(query, AggregationCollector)`
        (src/aggregation/collector.rs:83-118): the aggregation runs over
        the docmap fast-field columns of the query's MATCH SET
        (scored_frame's docmap join is agg_data.rs's column access; the
        column list defaults to the fields the request reads).  The
        Catalyst groupBy's partial/final aggregation is the reference's
        segment-fruits -> merge_fruits two-phase shape.  query=None
        aggregates the whole (alive) index.  The in-process twin is
        `ServingSearcher.aggregate` — same request dialect and output."""
        from tantivy_spark.operators.aggregations import (
            request_fields, run_aggregation)
        from tantivy_spark.operators.collectors import scored_frame

        fields = (list(fast_fields) if fast_fields is not None
                  else request_fields(request))
        if query is None or isinstance(query, L.AllQuery):
            # match-all: aggregate the live docmap directly — scoring a
            # full-corpus match set only to drop the score would add a
            # TAAT pass + join for nothing (the reference's match-all
            # agg reads the fast-field columns straight through)
            frame = self._exclude_dead(self.docmap())
        else:
            frame = scored_frame(self, query, fields).drop("score")
        if fields:
            # project to exactly the request's columns: pushes pruning
            # to the docmap scan and keeps the default top_hits column
            # set identical to ServingSearcher.aggregate's
            frame = frame.select(*fields)
        return run_aggregation(frame, request)

    def search(self, query: L.Query, k: int = 10, mode: str = "daat",
               fetch_keys: bool = True) -> DataFrame:
        """Top-k by (score desc, segment_ord asc, doc_id asc), with the
        key columns when `fetch_keys`.  Kernel-family queries run as a
        batch of one (`_run_programs`: one Spark job) and fetch their
        keys on the driver (`fetch_doc_keys`), returning a local relation;
        the full-scan paths (match-all, expansion unions, TAAT, nested
        trees) broadcast-join their distributed top-k to the docmap."""
        topk = self._top_docs(query, k, mode)
        if isinstance(topk, pd.DataFrame):
            if fetch_keys:
                topk = fetch_doc_keys(self.index_dir, self.cfg.key_cols,
                                      topk)
            return self._local_frame(topk, fetch_keys)
        if not fetch_keys:
            return topk
        key_cols = list(self.cfg.key_cols)
        dm = self.docmap().select("segment_ord", "doc_id", *key_cols)
        # the top-k side is tiny (<= k rows) — broadcast it so doc fetch is a
        # map-side join against the docmap scan, no shuffle of the big side
        return dm.join(F.broadcast(topk), ["segment_ord", "doc_id"], "inner").orderBy(
            F.desc("score"), F.asc("segment_ord"), F.asc("doc_id")
        )

    def _key_fields(self) -> list:
        """Spark types of the key columns, from the docmap's pyarrow
        schema (read once per searcher; no Spark job)."""
        if self._key_fields_cache is None:
            arrow = ds.dataset(os.path.join(self.index_dir, "docmap"),
                               partitioning="hive").schema
            self._key_fields_cache = [
                StructField(c, from_arrow_type(arrow.field(c).type))
                for c in self.cfg.key_cols]
        return self._key_fields_cache

    def _local_frame(self, hits: pd.DataFrame, keyed: bool) -> DataFrame:
        """Driver-side hits -> a local-relation DataFrame (no Spark job
        to build or collect it, empty results included: the frame goes
        in as an Arrow table, which pyspark never routes through an RDD)
        with the columns and types the distributed plans had:
        [query_idx,] segment_ord, doc_id, score — or, `keyed`,
        segment_ord, doc_id, keys..., [query_idx,] score, the order a
        docmap join produced."""
        ids = [StructField("segment_ord", IntegerType()),
               StructField("doc_id", IntegerType())]
        qi = ([StructField("query_idx", IntegerType())]
              if "query_idx" in hits.columns else [])
        score = [StructField("score", FloatType())]
        schema = StructType(ids + self._key_fields() + qi + score if keyed
                            else qi + ids + score)
        return self.spark.createDataFrame(
            pa.Table.from_pandas(hits[schema.names], preserve_index=False),
            schema)

    def _run_programs(self, live: list, terms: "set | list", hot: set,
                      k: int) -> pd.DataFrame:
        """Execute compiled programs `live` = [(query_idx, program)] as
        ONE Spark job: the live segment ords are parallelized over
        cluster-sized tasks, each reading its segments' pruned postings
        (and tombstone slices) with pyarrow and running the per-segment
        kernels; the driver merges the <= n_queries * k * n_segments
        candidates into each query's exact global top-k by (score desc,
        segment_ord asc, doc_id asc).  Returns (query_idx, segment_ord,
        doc_id, score) sorted by query then rank.  Requires executors to
        reach the index files (local/shared fs — the same contract as
        build_index_direct).  The task closure captures only plain data
        — never `self` (the SparkSession doesn't pickle)."""
        segs = sorted(self._live_segments)
        if not live or not terms or not segs:
            return _empty_hits()
        index_dir = self.index_dir
        n_buckets = self.cfg.n_term_buckets
        terms = sorted(terms)
        with_pos = self.cfg.positions and any(
            _program_terms(p)[1] for _, p in live)
        term_tombs = sorted(set(self.tombstones()))
        has_doc_tombs = self.has_doc_tombstones()

        def run(it):
            for seg in it:
                tp = _load_segment_postings(index_dir, seg, terms,
                                            n_buckets, with_pos, hot)
                dead = _segment_dead_docs(index_dir, seg, term_tombs,
                                          n_buckets, has_doc_tombs)
                yield _eval_batch_programs(live, tp, seg, k, dead)

        # task count scales with the CLUSTER, not the segment count:
        # per-task cost (closure deserialization of every compiled
        # program, worker round-trip) is ~constant, so one-task-per-
        # segment pays it n_segments times at any core count; see
        # _NPARTS_MULT for the waves-per-core choice
        sc = self.spark.sparkContext
        n_parts = max(1, min(len(segs),
                             _NPARTS_MULT * sc.defaultParallelism))
        parts = [p for p in sc.parallelize(segs, n_parts)
                 .mapPartitions(run).collect() if len(p)]
        if not parts:
            return _empty_hits()
        cand = pd.concat(parts, ignore_index=True).sort_values(
            ["query_idx", "score", "segment_ord", "doc_id"],
            ascending=[True, False, True, True], kind="stable")
        return cand.groupby("query_idx", sort=True).head(k).reset_index(
            drop=True)

    def _kernel_topk(self, query: L.Query, k: int | None) -> pd.DataFrame:
        """One kernel-family query as a batch of one -> pandas
        (segment_ord, doc_id, score)."""
        if k is None:
            raise ValueError("daat mode needs a finite k (use taat64 for scans)")
        live, terms, hot = self._compile_batch([query])
        return self._run_programs(live, terms, hot, k).drop(
            columns="query_idx")

    def _compile_batch(self, queries: "list[L.Query]"):
        """Compile a query batch -> (live_programs, all_terms:set,
        hot:set).  One driver-side terms-table read prefetches every
        term's doc freq (per-program doc_freqs calls then hit the
        searcher cache); terms referenced by several programs land in
        `hot` for task-lifetime decode memoization (unshared terms stay
        lazy so the kernels' BlockWAND cuts keep working)."""
        pre: set[str] = set()
        for q in queries:
            _collect_query_terms(q, pre)
        if pre:
            self.doc_freqs(sorted(pre))
        programs = []
        for qi, q in enumerate(queries):
            prog = self.compile_program(q)
            if prog is None:
                raise ValueError(
                    f"search_batch supports the kernel-compilable family "
                    f"(term/boolean/dismax/phrase/regex phrase/phrase "
                    f"prefix, boost/const wrapped); {type(q).__name__} "
                    f"runs through search()")
            programs.append((qi, prog))
        live = [(qi, p) for qi, p in programs if p[0] != "empty"]
        all_terms: set[str] = set()
        term_refs: dict = {}
        for _, p in live:
            prog_terms = _program_terms(p)[0]
            all_terms.update(prog_terms)
            for t in prog_terms:
                term_refs[t] = term_refs.get(t, 0) + 1
        hot = {t for t, n in term_refs.items() if n >= 2}
        return live, all_terms, hot

    def batch_server(self, k: int = 10) -> "BatchSearchServer":
        """A batch-serving handle over this searcher's snapshot — see
        BatchSearchServer."""
        return BatchSearchServer(self, k)

    def search_batch(self, queries: "list[L.Query]", k: int = 10,
                     fetch_keys: bool = False) -> DataFrame:
        """Execute MANY top-k queries in ONE Spark job — the throughput
        entry point (per-query Spark jobs pay the driver's fixed
        scheduling cost once per query, which caps throughput scaling no
        matter how many executors exist).  It is the same executor
        `search` runs a single kernel-family query on
        (`_run_programs`): cluster-sized tasks read their segments'
        postings for the batch's terms with pyarrow and evaluate every
        query against the shared decode; the driver merges each query's
        global top-k.

        Returns a local-relation DataFrame (query_idx, segment_ord,
        doc_id, score), or with `fetch_keys` (segment_ord, doc_id,
        keys..., query_idx, score), ordered by query_idx then (score
        desc, segment_ord asc, doc_id asc).  Per query, the f32 scores
        and tie-break are bit-equal to `ServingSearcher.search` (pinned
        by tests/test_search_batch.py).
        """
        live, all_terms, hot = self._compile_batch(queries)
        hits = self._run_programs(live, all_terms, hot, k)
        if fetch_keys:
            hits = fetch_doc_keys(self.index_dir, self.cfg.key_cols, hits)
        return self._local_frame(hits, fetch_keys)

    # -- execution paths ------------------------------------------------------
    def doc_tombstones(self) -> list[tuple[int, int]]:
        """Pending address-level tombstones (delete_query /
        delete_by_address), pruned to live segments — the collected list,
        for merge/tests.  The QUERY path never calls this: it consumes
        `dead_docs_df` (distributed) so nothing proportional to |dead|
        ever lands on the driver."""
        if self._doc_tombstones is None:
            from tantivy_spark.operators.merge import doc_tombstones

            self._doc_tombstones = [
                (s, d) for s, d in doc_tombstones(self.spark, self.index_dir)
                if s in self._live_segments
            ]
        return self._doc_tombstones

    def has_doc_tombstones(self) -> bool:
        """Cheap no-deletes guard (weight.rs count fast-path condition):
        a filesystem check on the tombstone table, no Spark job."""
        if self._has_doc_tombs is None:
            from tantivy_spark.operators.merge import has_doc_tombstones

            self._has_doc_tombs = has_doc_tombstones(self.index_dir)
        return self._has_doc_tombs

    def dead_docs_df(self) -> DataFrame | None:
        """Pending deletes as a DISTRIBUTED (segment_ord, doc_id) frame,
        live-segment filtered — the per-segment alive-bitset source
        (src/fastfield/alive_bitset.rs): address tombstones UNION the
        docs containing a tombstoned term.  The reference materializes
        delete-term ops into per-segment alive bitsets at commit and
        EVERY scorer consults them (index_writer.rs:732) — so phrase,
        dismax, expansion and match-all paths exclude them too, not just
        the boolean paths that inject must_not clauses.  None when
        nothing is pending."""
        dead_terms = self.tombstones()
        if not self.has_doc_tombstones() and not dead_terms:
            return None
        if self._dead_df is None:
            frames = []
            if self.has_doc_tombstones():
                from tantivy_spark.operators.merge import (
                    tombstones_docs_path,
                )

                frames.append(
                    self.spark.read.parquet(
                        tombstones_docs_path(self.index_dir))
                    .select("segment_ord", "doc_id")
                    .filter(F.col("segment_ord").isin(
                        sorted(self._live_segments)))
                )
            if dead_terms:
                frames.append(
                    self.flat_postings(sorted(set(dead_terms)))
                    .select("segment_ord", "doc_id")
                )
            df = frames[0]
            for f in frames[1:]:
                df = df.unionByName(f)
            self._dead_df = df.distinct()
        return self._dead_df

    def _exclude_dead(self, frame: DataFrame) -> DataFrame:
        """Distributed anti-join of pending address tombstones, for the
        full-scan (TAAT / const-union) paths — applied BEFORE their
        top-k, so no over-fetch; join strategy is Spark's size-based
        choice (a 10^7-row dead set will not be broadcast)."""
        dead = self.dead_docs_df()
        if dead is None:
            return frame
        return frame.join(dead, ["segment_ord", "doc_id"], "left_anti")

    def top_docs_frame(self, query: L.Query, k: int | None,
                       mode: str = "daat") -> DataFrame:
        """All query paths funnel through here; address tombstones are
        applied inside each path — per-segment kernels receive their
        segment's dead ids as an alive bitset (heap stays k), full-scan
        paths anti-join the distributed dead frame before their top-k."""
        topk = self._top_docs(query, k, mode)
        if isinstance(topk, pd.DataFrame):
            return self._local_frame(topk, False)
        return topk

    def _top_docs(self, query: L.Query, k: int | None,
                  mode: str = "daat") -> "DataFrame | pd.DataFrame":
        """Dispatch: kernel-family queries return their top-k as a
        driver-side pandas frame (`_kernel_topk`), the full-scan paths a
        distributed DataFrame."""
        if isinstance(query, L.AllQuery):
            # _exclude_dead covers BOTH address tombstones and docs
            # containing a tombstoned term (dead_docs_df unions them)
            return (
                self._exclude_dead(self.docmap().select(
                    "segment_ord", "doc_id",
                    F.lit(1.0).cast("float").alias("score")))
                .orderBy("segment_ord", "doc_id")
                .limit(k or self.total_docs)
            )
        if isinstance(query, L.EmptyQuery):
            return _empty_hits().drop(columns="query_idx")
        # expansion / phrase queries (possibly boosted) take their own path
        phrase, phrase_boost = query, 1.0
        while isinstance(phrase, L.BoostQuery):
            phrase_boost *= phrase.boost
            phrase = phrase.query
        if isinstance(phrase, L.FuzzyTermQuery):
            scored = self.expand_fuzzy_scored(
                phrase.term, phrase.distance,
                phrase.transposition_cost_one, phrase.prefix,
            )
            # per-term const score = 1/(1+dist) (automaton_weight.rs:120-133)
            return self._weighted_const_union(
                [(t, 1.0 / (1.0 + dist)) for t, dist in scored],
                phrase_boost, k,
            )
        if isinstance(phrase, L.RegexQuery):
            # ConstScorer per term with SumCombiner: score = boost * the
            # number of expanded terms in the doc (automaton_weight.rs)
            return self._weighted_const_union(
                [(t, 1.0) for t in self.expand_regex(phrase.pattern)],
                phrase_boost, k)
        if isinstance(phrase, L.MoreLikeThisQuery):
            expanded = self.more_like_this_query(phrase)
            if phrase_boost != 1.0:
                expanded = L.BoostQuery(expanded, phrase_boost)
            return self._top_docs(expanded, k, mode)
        if isinstance(phrase, (L.PhrasePrefixQuery, L.RegexPhraseQuery,
                               L.PhraseQuery)):
            if (isinstance(phrase, L.PhraseQuery) and phrase.slop == 0
                    and mode != "daat"):
                # the float64 scan handles k=None (count/scan collectors)
                return self._taat64_phrase(phrase, phrase_boost, k)
            if k is None:
                raise ValueError("phrase query needs a finite k")
            # slop, prefix and regex-slot matching are kernel-only paths
            return self._kernel_topk(query, k)

        if mode == "daat" and k is not None and (
                _compile_mixed_boolean(query) is not None
                or _compile_mixed_dismax(query) is not None):
            return self._kernel_topk(query, k)
        try:
            spec = compile_query(query)
        except NotImplementedError:
            # nested subqueries: recursive float64 tree evaluation (the
            # general Weight composition); DAAT nesting falls back here
            # too.  Term + address tombstones are both excluded INSIDE
            # _taat64_nested (via _exclude_dead, before its top-k limit
            # — an after-limit anti-join would under-fill k).
            return self._taat64_nested(query, k)
        # pending term tombstones are excluded by the per-segment dead
        # sets (_segment_dead_docs / dead_docs_df), so no must_not
        # injection is needed
        if mode == "daat":
            return self._kernel_topk(query, k)
        elif mode == "taat64":
            if isinstance(spec, CompiledDismax):
                return self._taat64_dismax(spec, k)
            return self._taat64(spec, k)
        raise ValueError(f"unknown mode {mode}")

    def _weighted_const_union(
        self, term_weights: list[tuple[str, float]], boost: float, k: int | None
    ) -> DataFrame:
        """Union of per-term ConstScorers with SumCombiner where each term
        carries its own const weight — the automaton scorer build
        (automaton_weight.rs:90-104): 1/(1+dist) per fuzzy term, 1.0 per
        regex term (score = boost * matched-term count)."""
        frame = self._weighted_union_frame(term_weights, boost)
        if frame is None:
            return self.spark.createDataFrame(
                [], "segment_ord int, doc_id int, score double"
            )
        out = self._exclude_dead(frame).orderBy(
            F.desc("score"), F.asc("segment_ord"), F.asc("doc_id"))
        if k is not None:
            out = out.limit(k)
        return out

    def _weighted_union_frame(
        self, term_weights: list[tuple[str, float]], boost: float
    ) -> DataFrame | None:
        if not term_weights:
            return None
        wmap = dict(term_weights)
        flat = self.flat_postings(sorted(wmap))
        wdf = self.spark.createDataFrame(
            [(t, float(w)) for t, w in sorted(wmap.items())], "term string, w double"
        )
        return (
            flat.join(F.broadcast(wdf), "term")
            .groupBy("segment_ord", "doc_id")
            .agg((F.sum("w") * F.lit(float(boost))).alias("score"))
        )

    def expand_prefix(self, prefix: str, max_expansions: int = 50) -> list[str]:
        """Term-dict prefix scan, lowest terms first, capped at
        max_expansions (phrase_prefix_query.rs:140-156 range scan) — a
        driver-side pyarrow read of the term-sorted terms table, like
        `doc_freqs`: `term >= prefix` prunes row groups by their term
        statistics, rows of merged-away segments are skipped.  UTF-8 byte
        order is code-point order, so the first `max_expansions` distinct
        terms are the ones a Spark `orderBy("term")` returns.  No Spark
        job."""
        table = TERMS_DIR if self._has_terms_table() else "postings"
        path = os.path.join(self.index_dir, table)
        if not os.path.isdir(path):
            return []
        term = ds.field("term")
        tab = pq.read_table(path, columns=["term"], filters=(
            (term >= prefix) & pc.starts_with(term, prefix)
            & ds.field("segment_ord").isin(sorted(self._live_segments))))
        return sorted(pc.unique(tab.column("term")).to_pylist()
                      )[:max_expansions]

    def _taat64_phrase(self, phrase: L.PhraseQuery, boost: float,
                       k: int | None) -> DataFrame:
        """Phrase in the float64 DataFrame plan: positions explode + chained
        equi-joins on (doc, start_position), phrase tf = count of starts."""
        import math

        terms = sorted(set(phrase.phrase_terms))
        dfs = self.doc_freqs(terms)
        empty = self.spark.createDataFrame(
            [], "segment_ord int, doc_id int, score double"
        )
        if any(dfs[t] <= 0 for t in phrase.phrase_terms):
            return empty
        N = self.total_docs
        avgdl = self.avgdl64_for(phrase.phrase_terms[0])
        k1, b = self._kb_for(phrase.phrase_terms[0])
        idf_sum = sum(
            math.log(1.0 + (N - dfs[t] + 0.5) / (dfs[t] + 0.5))
            for t in phrase.phrase_terms
        )
        weight = idf_sum * (1.0 + k1) * boost

        flat = self.flat_postings(terms, with_positions=True)
        pos = flat.select(
            "term", "segment_ord", "doc_id", "fieldnorm_id",
            F.explode("positions").alias("p"),
        ).cache()
        starts = None
        for i, t in enumerate(phrase.phrase_terms):
            side = pos.filter(F.col("term") == t).select(
                "segment_ord", "doc_id",
                *([ "fieldnorm_id"] if i == 0 else []),
                (F.col("p") - F.lit(i)).alias("start"),
            )
            starts = side if starts is None else starts.join(
                side, ["segment_ord", "doc_id", "start"], "inner"
            )
        counted = starts.groupBy("segment_ord", "doc_id", "fieldnorm_id").agg(
            F.count(F.lit(1)).alias("tf")
        )
        norm_arr = F.array(*[F.lit(int(v)) for v in FIELD_NORMS_TABLE.tolist()])
        out = (
            counted.withColumn(
                "dl", F.element_at(norm_arr, F.col("fieldnorm_id") + 1).cast("double")
            )
            .select(
                "segment_ord", "doc_id",
                (
                    F.lit(weight) * F.col("tf")
                    / (
                        F.col("tf")
                        + F.lit(k1)
                        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
                    )
                ).alias("score"),
            )
        )
        out = self._exclude_dead(out).orderBy(
            F.desc("score"), F.asc("segment_ord"), F.asc("doc_id"))
        if k is not None:
            out = out.limit(k)
        return out

    # -- nested query tree evaluation (float64 DataFrame recursion) ---------
    def _eval_tree(self, q: L.Query) -> DataFrame | None:
        """Recursive TAAT evaluation of an arbitrary query tree ->
        (segment_ord, doc_id, score double) frame of ALL matching docs.

        This is the general Query/Weight/Scorer composition of the
        reference (boolean_weight.rs nesting); each node is a DataFrame
        combinator, Catalyst fuses the joins/aggregations.  Returns None
        for a match-nothing subtree.
        """
        import math

        if isinstance(q, L.BoostQuery):
            child = self._eval_tree(q.query)
            if child is None:
                return None
            return child.withColumn("score", F.col("score") * F.lit(float(q.boost)))
        if isinstance(q, L.ConstScoreQuery):
            child = self._eval_tree(q.query)
            if child is None:
                return None
            return child.withColumn("score", F.lit(float(q.score)))
        if isinstance(q, L.TermQuery):
            dfs = self.doc_freqs([q.term])
            if dfs[q.term] <= 0:
                return None
            N = self.total_docs
            avgdl = self.avgdl64_for(q.term)
            k1, b = self._kb_for(q.term)
            w = math.log(1.0 + (N - dfs[q.term] + 0.5) / (dfs[q.term] + 0.5)) * (1.0 + k1)
            flat = self.flat_postings([q.term])
            norm_arr = F.array(*[F.lit(int(v)) for v in FIELD_NORMS_TABLE.tolist()])
            return flat.select(
                "segment_ord", "doc_id",
                (
                    F.lit(w) * F.col("tf")
                    / (
                        F.col("tf")
                        + F.lit(k1)
                        * (
                            F.lit(1.0 - b)
                            + F.lit(b)
                            * F.element_at(norm_arr, F.col("fieldnorm_id") + 1).cast("double")
                            / F.lit(avgdl)
                        )
                    )
                ).alias("score"),
            )
        if isinstance(q, L.AllQuery):
            return self.docmap().select(
                "segment_ord", "doc_id", F.lit(1.0).alias("score")
            )
        if isinstance(q, L.EmptyQuery):
            return None
        if isinstance(q, L.TermSetQuery):
            terms = [t for t in q.set_terms]
            if not terms:
                return None
            return (
                self.flat_postings(sorted(set(terms)))
                .select("segment_ord", "doc_id")
                .distinct()
                .withColumn("score", F.lit(1.0))
            )
        if isinstance(q, L.PhraseQuery):
            if q.slop != 0:
                raise NotImplementedError("slop phrases only on the DAAT path")
            return self._taat64_phrase(q, 1.0, None)
        if isinstance(q, L.RangeQuery):
            dm = self.docmap()
            if q.field not in dm.columns:
                return None
            cond = F.lit(True)
            lo, hi = self._typed_bound(dm, q.field, q.lower), self._typed_bound(
                dm, q.field, q.upper)
            if lo is not None:
                cond = cond & (
                    F.col(q.field) >= lo if q.lower_inclusive else F.col(q.field) > lo
                )
            if hi is not None:
                cond = cond & (
                    F.col(q.field) <= hi if q.upper_inclusive else F.col(q.field) < hi
                )
            return dm.filter(cond).select(
                "segment_ord", "doc_id", F.lit(1.0).alias("score")
            )
        if isinstance(q, L.ExistsQuery):
            dm = self.docmap()
            if q.field not in dm.columns:
                return None
            return dm.filter(F.col(q.field).isNotNull()).select(
                "segment_ord", "doc_id", F.lit(1.0).alias("score")
            )
        if isinstance(q, L.FuzzyTermQuery):
            scored = self.expand_fuzzy_scored(
                q.term, q.distance, q.transposition_cost_one, q.prefix
            )
            return self._weighted_union_frame(
                [(t, 1.0 / (1.0 + dist)) for t, dist in scored], 1.0
            )
        if isinstance(q, L.RegexQuery):
            return self._weighted_union_frame(
                [(t, 1.0) for t in self.expand_regex(q.pattern)], 1.0
            )
        if isinstance(q, L.DisjunctionMaxQuery):
            frames = [self._eval_tree(sub) for sub in q.queries]
            frames = [f for f in frames if f is not None]
            if not frames:
                return None
            from functools import reduce

            u = reduce(lambda a, b: a.unionByName(b), frames)
            agg = u.groupBy("segment_ord", "doc_id").agg(
                F.max("score").alias("mx"), F.sum("score").alias("sm")
            )
            return agg.select(
                "segment_ord", "doc_id",
                (F.col("mx") + F.lit(float(q.tie_breaker)) * (F.col("sm") - F.col("mx"))).alias("score"),
            )
        if isinstance(q, L.BooleanQuery):
            return self._eval_bool_tree(q)
        raise NotImplementedError(f"tree evaluation for {type(q).__name__}")

    @staticmethod
    def _typed_bound(dm: DataFrame, field: str, value):
        """Coerce a (possibly string) bound to the docmap column's type so
        numeric ranges compare numerically (the reference maps numeric
        terms order-preservingly, src/termdict/mod.rs:10-17)."""
        if value is None:
            return None
        dtype = dict(dm.dtypes)[field]
        if isinstance(value, str):
            try:
                if dtype in ("tinyint", "smallint", "int", "bigint"):
                    value = int(value)
                elif dtype in ("float", "double"):
                    value = float(value)
                elif dtype.startswith("timestamp"):
                    # rfc3339 bound (query_parser.rs:576-577
                    # OffsetDateTime::parse(.., Rfc3339) -> DateTime::
                    # from_utc); normalize to naive UTC to match the
                    # stored naive-UTC fast-field values
                    import datetime as _dt

                    parsed = _dt.datetime.fromisoformat(
                        value.replace("Z", "+00:00"))
                    if parsed.tzinfo is not None:
                        parsed = parsed.astimezone(
                            _dt.timezone.utc).replace(tzinfo=None)
                    value = parsed
                elif dtype == "date":
                    import datetime as _dt

                    value = _dt.date.fromisoformat(value)
            except ValueError:
                pass
        return F.lit(value)

    def _eval_bool_tree(self, q: L.BooleanQuery) -> DataFrame | None:
        from functools import reduce

        musts, shoulds, must_nots = [], [], []
        for occur, sub in q.clauses:
            frame = self._eval_tree(sub)
            if occur == L.Occur.MUST:
                if frame is None:
                    return None  # a required subtree matches nothing
                musts.append(frame)
            elif occur == L.Occur.SHOULD:
                if frame is not None:
                    shoulds.append(frame)
            else:
                if frame is not None:
                    must_nots.append(frame)
        if not musts and not shoulds:
            return None

        def tag(frames, flag):
            return [
                f.select(
                    "segment_ord", "doc_id", "score",
                    F.lit(flag).alias("is_must"),
                )
                for f in frames
            ]

        u = reduce(
            lambda a, b: a.unionByName(b),
            tag(musts, 1) + tag(shoulds, 0),
        )
        agg = u.groupBy("segment_ord", "doc_id").agg(
            F.sum("score").alias("score"),
            F.sum("is_must").alias("n_must"),
            F.sum(F.lit(1) - F.col("is_must")).alias("n_should"),
        )
        cond = F.col("n_must") == len(musts)
        if q.minimum_should_match > 0 and shoulds:
            cond = cond & (F.col("n_should") >= q.minimum_should_match)
        out = agg.filter(cond).select("segment_ord", "doc_id", "score")
        for nf in must_nots:
            out = out.join(
                nf.select("segment_ord", "doc_id"),
                ["segment_ord", "doc_id"], "left_anti",
            )
        return out

    def _taat64_nested(self, query: L.Query, k: int | None) -> DataFrame:
        frame = self._eval_tree(query)
        if frame is None:
            return self.spark.createDataFrame(
                [], "segment_ord int, doc_id int, score double"
            )
        out = self._exclude_dead(frame).orderBy(
            F.desc("score"), F.asc("segment_ord"), F.asc("doc_id"))
        if k is not None:
            out = out.limit(k)
        return out

    # TAAT: float64 DataFrame plan (Catalyst end to end)
    def _taat64(self, spec: CompiledBoolean, k: int | None) -> DataFrame:
        terms = sorted({t for _, t, _ in spec.clauses})
        dfs = self.doc_freqs(terms)
        N = self.total_docs

        flat = self.flat_postings(terms)

        import math

        wrows = []
        for occur, t, boost in spec.clauses:
            df_t = dfs[t]
            if df_t <= 0 and occur != "must_not":
                if occur == "must":
                    return self.spark.createDataFrame(
                        [], "segment_ord int, doc_id int, score double"
                    )
                continue
            # per-field BM25 params ride in the broadcast weight rows
            k1, b = self._kb_for(t)
            w = math.log(1.0 + (N - df_t + 0.5) / (df_t + 0.5)) * (1.0 + k1) * boost
            wrows.append((t, occur, float(w), self.avgdl64_for(t), k1, b))
        if not wrows:
            return self.spark.createDataFrame(
                [], "segment_ord int, doc_id int, score double"
            )
        wdf = self.spark.createDataFrame(
            wrows,
            "term string, occur string, weight double, avgdl double, "
            "k1 double, b double")

        norm_arr = F.array(*[F.lit(int(v)) for v in FIELD_NORMS_TABLE.tolist()])
        scored = (
            flat.join(F.broadcast(wdf), "term")
            .withColumn("dl", F.element_at(norm_arr, F.col("fieldnorm_id") + 1).cast("double"))
            .withColumn(
                "clause_score",
                F.col("weight")
                * F.col("tf")
                / (
                    F.col("tf")
                    + F.col("k1")
                    * (F.lit(1.0) - F.col("b")
                       + F.col("b") * F.col("dl") / F.col("avgdl"))
                ),
            )
        )
        n_musts = sum(1 for o, _, _ in spec.clauses if o == "must")
        agg = scored.groupBy("segment_ord", "doc_id").agg(
            F.sum(F.when(F.col("occur") != "must_not", F.col("clause_score")).otherwise(0.0)).alias("score"),
            F.sum(F.when(F.col("occur") == "must", 1).otherwise(0)).alias("n_must"),
            F.sum(F.when(F.col("occur") == "should", 1).otherwise(0)).alias("n_should"),
            F.max(F.when(F.col("occur") == "must_not", 1).otherwise(0)).alias("excluded"),
        )
        cond = (F.col("excluded") == 0) & (F.col("n_must") == n_musts)
        if spec.minimum_should_match > 0:
            cond = cond & (F.col("n_should") >= spec.minimum_should_match)
        out = agg.filter(cond).select("segment_ord", "doc_id", "score")
        if spec.const_score is not None:
            out = out.withColumn("score", F.lit(float(spec.const_score)))
        out = self._exclude_dead(out).orderBy(
            F.desc("score"), F.asc("segment_ord"), F.asc("doc_id"))
        if k is not None:
            out = out.limit(k)
        return out

    def _taat64_dismax(self, spec: CompiledDismax, k: int | None) -> DataFrame:
        """DisjunctionMax in the float64 DataFrame plan:
        score = max(clause) + tie_breaker * (sum - max)
        (src/query/disjunction_max_query.rs:64-83)."""
        import math

        terms = sorted({t for t, _ in spec.terms})
        dfs = self.doc_freqs(terms)
        N = self.total_docs
        wrows = []
        for t, boost in spec.terms:
            df_t = dfs[t]
            if df_t <= 0:
                continue
            k1, b = self._kb_for(t)
            w = math.log(1.0 + (N - df_t + 0.5) / (df_t + 0.5)) * (1.0 + k1) * boost
            wrows.append((t, float(w), self.avgdl64_for(t), k1, b))
        if not wrows:
            return self.spark.createDataFrame(
                [], "segment_ord int, doc_id int, score double"
            )
        wdf = self.spark.createDataFrame(
            wrows, "term string, weight double, avgdl double, k1 double, b double")
        flat = self.flat_postings(terms)
        norm_arr = F.array(*[F.lit(int(v)) for v in FIELD_NORMS_TABLE.tolist()])
        scored = (
            flat.join(F.broadcast(wdf), "term")
            .withColumn("dl", F.element_at(norm_arr, F.col("fieldnorm_id") + 1).cast("double"))
            .withColumn(
                "clause_score",
                F.col("weight")
                * F.col("tf")
                / (
                    F.col("tf")
                    + F.col("k1")
                    * (F.lit(1.0) - F.col("b")
                       + F.col("b") * F.col("dl") / F.col("avgdl"))
                ),
            )
        )
        agg = scored.groupBy("segment_ord", "doc_id").agg(
            F.max("clause_score").alias("mx"),
            F.sum("clause_score").alias("sm"),
        )
        out = self._exclude_dead(agg.select(
            "segment_ord", "doc_id",
            (
                (F.col("mx") + F.lit(spec.tie_breaker) * (F.col("sm") - F.col("mx")))
                * F.lit(float(spec.boost))
            ).alias("score"),
        )).orderBy(F.desc("score"), F.asc("segment_ord"), F.asc("doc_id"))
        if k is not None:
            out = out.limit(k)
        return out

    def flat_postings(self, terms: list[str], with_positions: bool = False) -> DataFrame:
        """Decode pruned postings to (term, segment_ord, doc_id, tf,
        fieldnorm_id[, positions]) rows — vectorized block decode in
        mapInPandas."""
        cols = [
            "term", "segment_ord", "doc_freq", "doc_enc", "tf_enc", "fnorm_enc",
            "block_last", "block_doc_off", "block_tf_off", "bm_norm_id", "bm_tf",
        ]
        if with_positions:
            cols += ["pos_enc", "pos_off"]
        pruned = self.pruned_postings(terms).select(*cols)

        def decode_rows(it):
            from tantivy_spark.operators.kernel import TermPostings

            for pdf in it:
                outs = []
                for r in pdf.to_dict("records"):
                    tp = TermPostings.from_row(r)
                    docs, tfs, fns = tp.decode_all()
                    d = {
                        "term": r["term"],
                        "segment_ord": np.int32(r["segment_ord"]),
                        "doc_id": docs.astype(np.int32),
                        "tf": tfs.astype(np.int64),
                        "fieldnorm_id": fns.astype(np.int32),
                    }
                    if with_positions:
                        idx = np.arange(len(docs))
                        d["positions"] = [
                            p.tolist() for p in tp.positions_for(idx, tfs)
                        ]
                    outs.append(pd.DataFrame(d))
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        schema = "term string, segment_ord int, doc_id int, tf long, fieldnorm_id int"
        if with_positions:
            schema += ", positions array<int>"
        return pruned.mapInPandas(decode_rows, schema=schema)


#: kernel task granularity: tasks per core.  ONE wave of cluster-sized
#: tasks: per-task cost (program deserialization, result pickling,
#: worker dispatch) measured 15-40 ms each, so 4 waves of small
#: tasks cost more than the last-wave imbalance they'd smooth — segment
#: groups are uniform-sized (built from equal input splits), leaving
#: little to smooth.  A/B at 2 and 8 cores both preferred 1.
_NPARTS_MULT = 1


class BatchSearchServer:
    """Batch-serving handle over one Searcher snapshot: every
    `search_many` call compiles its batch on the driver and runs it as
    ONE Spark job on the searcher's executor (`Searcher._run_programs`),
    the per-query global top-k merged on the driver with the
    (score desc, segment_ord asc, doc_id asc) tie-break.

    Snapshot semantics mirror Searcher: the segment list and tombstone
    state are pinned at construction (build a new server after commits,
    IndexReader::reload's role)."""

    def __init__(self, searcher: "Searcher", k: int = 10):
        self.searcher = searcher
        self.k = int(k)

    def search_many(self, queries: "list[L.Query]") -> pd.DataFrame:
        """Top-k for every query of the batch -> pandas frame
        (query_idx, segment_ord, doc_id, score), per-query ordering
        identical to `search_batch` / per-query `search`."""
        live, all_terms, hot = self.searcher._compile_batch(queries)
        return self.searcher._run_programs(live, all_terms, hot, self.k)

    def close(self) -> None:
        """Nothing to release; kept so callers can close any server."""
