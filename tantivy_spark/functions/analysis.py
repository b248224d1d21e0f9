"""Text analysis (tokenizer) pipeline, semantics-parity with tantivy.

Reference semantics (paradedb/tantivy @ /root/reference):

* ``default`` analyzer = SimpleTokenizer -> RemoveLongFilter(40) -> LowerCaser
  (src/tokenizer/tokenizer_manager.rs:56-80).
* SimpleTokenizer splits on runs of non-alphanumeric characters, where
  "alphanumeric" is Rust ``char::is_alphanumeric`` — the Unicode Alphabetic
  property plus the Nd/Nl/No number categories
  (src/tokenizer/simple_tokenizer.rs:41-55).  Token positions are 0-based
  and incremented per token *emitted by the tokenizer* — a token later
  dropped by a filter leaves a gap in the position sequence.
* RemoveLongFilter drops tokens whose UTF-8 **byte** length is >= 40
  (kept iff ``len < limit``, src/tokenizer/remove_long.rs:28-37).  The
  length check runs *before* lowercasing.
* LowerCaser applies per-char Unicode lowercasing, explicitly ignoring the
  Greek final-sigma context rule (src/tokenizer/lower_caser.rs:43-60), with
  an ASCII fast path.

Python mapping notes:

* CPython's ``str.isalnum`` is Alphabetic-or-numeric per Unicode, matching
  Rust ``char::is_alphanumeric`` for every practical category (the only
  divergence is a handful of Other_Alphabetic combining marks, which do not
  occur in our corpora).  The regex ``[^\\W_]+`` compiles to exactly the
  ``isalnum`` character class (``\\w`` = isalnum + underscore).
* ``"".join(c.lower() for c in tok)`` is per-char lowercasing — it applies
  the full Unicode lowercase mapping (e.g. U+0130 -> "i" + U+0307) but,
  being context-free, never applies the final-sigma rule; identical to the
  reference's ``c.to_lowercase()`` loop.

Everything here is plain-Python/NumPy so it can be used both inside
vectorized pandas UDFs (the Spark hot path) and in driver-side oracles.
"""

from __future__ import annotations

import re
from typing import Callable, Iterator

import numpy as np
import pandas as pd

DEFAULT_LONG_LIMIT = 40  # bytes, src/tokenizer/tokenizer_manager.rs:62

# \w in CPython == isalnum() + '_'; subtracting '_' leaves the isalnum class,
# which matches Rust char::is_alphanumeric (see module docstring).
_TOKEN_RE = re.compile(r"[^\W_]+", re.UNICODE)
_WS_RE = re.compile(r"\S+", re.UNICODE)


def _lower_no_final_sigma(tok: str) -> str:
    """Per-char Unicode lowercase, no final-sigma rule (lower_caser.rs:43-60)."""
    if tok.isascii():
        return tok.lower()
    return "".join(c.lower() for c in tok)


def tokenize_default(text: str) -> tuple[list[str], list[int]]:
    """``default`` analyzer: returns (terms, positions).

    Positions are the ordinals assigned by the tokenizer *before* the
    RemoveLong filter, so dropped tokens leave gaps — matching tantivy's
    position semantics (simple_tokenizer.rs:44, remove_long.rs:28-37).
    """
    terms: list[str] = []
    positions: list[int] = []
    for pos, m in enumerate(_TOKEN_RE.finditer(text)):
        tok = m.group()
        if len(tok.encode("utf-8")) >= DEFAULT_LONG_LIMIT:
            continue
        terms.append(_lower_no_final_sigma(tok))
        positions.append(pos)
    return terms, positions


def tokenize_raw(text: str) -> tuple[list[str], list[int]]:
    """``raw`` tokenizer: the whole input is one token, unfiltered
    (src/tokenizer/raw_tokenizer.rs)."""
    if text == "":
        return [], []
    return [text], [0]


def tokenize_whitespace(text: str) -> tuple[list[str], list[int]]:
    """``whitespace`` tokenizer: split on whitespace, NO filters
    (tokenizer_manager.rs:78 registers the bare tokenizer)."""
    terms = _WS_RE.findall(text)
    return terms, list(range(len(terms)))


def tokenize_en_stem(text: str) -> tuple[list[str], list[int]]:
    """``en_stem``: default chain + English Snowball stemmer
    (tokenizer_manager.rs:66-76)."""
    from tantivy_spark.functions.porter2 import stem

    terms, positions = tokenize_default(text)
    return [stem(t) for t in terms], positions


#: Stemmer dispatch per reference Language enum (stemmer.rs:17-37),
#: accepting both enum-style names and ISO-639-1 codes.  All are the
#: published Snowball algorithms (functions/snowball.py); English is
#: Porter2 (functions/porter2.py).
_STEMMER_LANGS = {
    "english": "porter2", "en": "porter2",
    "german": "german", "de": "german",
    "french": "french", "fr": "french",
    "spanish": "spanish", "es": "spanish",
    "italian": "italian", "it": "italian",
    "portuguese": "portuguese", "pt": "portuguese",
    "russian": "russian", "ru": "russian",
    "danish": "danish", "da": "danish",
    "norwegian": "norwegian", "no": "norwegian",
    "swedish": "swedish", "sv": "swedish",
    "dutch": "dutch", "nl": "dutch",
    "romanian": "romanian", "ro": "romanian",
    "finnish": "finnish", "fi": "finnish",
    "greek": "greek", "el": "greek",
    "arabic": "arabic", "ar": "arabic",
    "hungarian": "hungarian", "hu": "hungarian",
    "turkish": "turkish", "tr": "turkish",
    "tamil": "tamil", "ta": "tamil",
}


def get_stemmer(language: str = "en"):
    """Resolve a per-token stem function for `language` (reference
    `Stemmer::new(Language)`, stemmer.rs:73-88).  Raises KeyError for
    languages the reference supports but we don't ship (Czech, Polish —
    non-Snowball algorithms with no in-container parity oracle)."""
    key = _STEMMER_LANGS[language.lower()]
    if key == "porter2":
        from tantivy_spark.functions.porter2 import stem

        return stem
    from tantivy_spark.functions import snowball

    return getattr(snowball, f"stem_{key}")


def get_stopwords(language: str = "en") -> frozenset[str]:
    """Language stop-word list (reference StopWordFilter::new,
    stop_word_filter/mod.rs:36-67; Snowball lists + Lucene English)."""
    name = {"en": "english", "de": "german", "fr": "french",
            "es": "spanish", "it": "italian", "pt": "portuguese",
            "ru": "russian", "da": "danish", "no": "norwegian",
            "sv": "swedish", "nl": "dutch", "fi": "finnish",
            "hu": "hungarian", "cs": "czech", "pl": "polish",
            }.get(language.lower(), language.lower())
    from tantivy_spark.functions.stopwords_data import STOPWORDS

    return STOPWORDS[name]


# ---------------------------------------------------------------------------
# composable pipeline builder — the TextAnalyzer::builder analogue
# (src/tokenizer/tokenizer.rs: Tokenizer + TokenFilter chain)
# ---------------------------------------------------------------------------

# Lucene's English stopword list, as used by the reference
# (src/tokenizer/stop_word_filter/mod.rs:42-50, Apache-licensed list).
LUCENE_ENGLISH_STOPWORDS = frozenset([
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if", "in",
    "into", "is", "it", "no", "not", "of", "on", "or", "such", "that", "the",
    "their", "then", "there", "these", "they", "this", "to", "was", "will",
    "with",
])


def tokenize_simple(text: str) -> tuple[list[str], list[int]]:
    """Bare SimpleTokenizer: alphanumeric runs, no filters
    (src/tokenizer/simple_tokenizer.rs:41-55)."""
    terms = _TOKEN_RE.findall(text)
    return terms, list(range(len(terms)))


def tokenize_ngram(text: str, min_gram: int = 2, max_gram: int = 3,
                   prefix_only: bool = False) -> tuple[list[str], list[int]]:
    """Char n-grams of the whole input (src/tokenizer/ngram_tokenizer.rs):
    all [min_gram, max_gram] grams, or only those anchored at offset 0 when
    `prefix_only`.  Position = the gram's start offset (the reference keeps
    byte offsets; 0-based start ordinal here)."""
    terms: list[str] = []
    positions: list[int] = []
    n = len(text)
    starts = [0] if prefix_only else range(n)
    for i in starts:
        for g in range(min_gram, max_gram + 1):
            if i + g <= n:
                terms.append(text[i: i + g])
                positions.append(i)
    return terms, positions


def tokenize_regex(text: str, pattern: str) -> tuple[list[str], list[int]]:
    """Tokens = regex matches (src/tokenizer/regex_tokenizer.rs)."""
    terms = re.findall(pattern, text)
    return terms, list(range(len(terms)))


def tokenize_facet(path: str) -> tuple[list[str], list[int]]:
    """FacetTokenizer: emit every ancestor path of a facet, e.g.
    "/a/b/c" -> "/a", "/a/b", "/a/b/c" (src/tokenizer/facet_tokenizer.rs);
    all at position 0 (facets carry no positions)."""
    parts = [p for p in path.split("/") if p]
    terms = ["/" + "/".join(parts[: i + 1]) for i in range(len(parts))]
    return terms, [0] * len(terms)


def _ascii_fold(tok: str) -> str:
    """Fold to ASCII with the reference's EXACT per-char table
    (src/tokenizer/ascii_folding_filter.rs fold_non_ascii_char, 1242
    mappings = Lucene's ASCIIFoldingFilter): chars outside the table pass
    through unchanged, so non-Latin scripts are untouched — unlike an
    NFKD-based fold, which would also strip e.g. Greek accents."""
    if tok.isascii():
        return tok
    from tantivy_spark.functions.ascii_folding_data import ASCII_FOLDING_TABLE

    return "".join(ASCII_FOLDING_TABLE.get(c, c) for c in tok)



def _split_compound(tok: str, dictionary: frozenset, min_part: int = 2) -> list[str]:
    """Greedy longest-match decomposition of a compound into dictionary
    parts (src/tokenizer/split_compound_words.rs semantics: emit the parts
    only when the WHOLE token decomposes, else keep the token)."""
    parts, i, n = [], 0, len(tok)
    while i < n:
        for j in range(n, i + min_part - 1, -1):
            if tok[i:j] in dictionary:
                parts.append(tok[i:j])
                i = j
                break
        else:
            return [tok]
    return parts if len(parts) > 1 else [tok]


def build_analyzer(tokenizer: str = "simple",
                   filters: list[tuple] | None = None,
                   **tok_kwargs) -> Callable[[str], tuple[list[str], list[int]]]:
    """Compose tokenizer + filter chain; register with register_analyzer.

    tokenizer: simple | whitespace | raw | ngram | regex | facet
    filters (applied in order, each a tuple (name, *args)):
      ("remove_long", limit)  drop tokens with utf-8 byte length >= limit
      ("lowercase",)          per-char Unicode lowercase, no final sigma
      ("stopword", words)     drop members (iterable, or a language
                              name/ISO code: en de fr es it pt ru da
                              no sv nl fi hu cs pl)
      ("stemmer", lang)       Snowball stemmer (default "en" Porter2;
                              de fr es it pt ru da no sv nl)
      ("alphanum_only",)      drop tokens with any non-alphanumeric char
                              (src/tokenizer/alphanum_only.rs)
      ("ascii_folding",)      fold diacritics to ASCII
    """
    base = {
        "simple": tokenize_simple,
        "whitespace": lambda t: (_WS_RE.findall(t), list(range(len(_WS_RE.findall(t))))),
        "raw": tokenize_raw,
        "ngram": lambda t: tokenize_ngram(t, **tok_kwargs),
        "regex": lambda t: tokenize_regex(t, **tok_kwargs),
        "facet": tokenize_facet,
    }[tokenizer]
    steps = []
    for f in filters or []:
        name, *args = f
        if name == "remove_long":
            limit = args[0] if args else DEFAULT_LONG_LIMIT
            steps.append(lambda tp, L_=limit: [
                (t, p) for t, p in tp if len(t.encode("utf-8")) < L_])
        elif name == "lowercase":
            steps.append(lambda tp: [(_lower_no_final_sigma(t), p) for t, p in tp])
        elif name == "stopword":
            words = args[0] if args else "en"
            if isinstance(words, str):
                wset = get_stopwords(words)
            else:
                wset = frozenset(words)
            steps.append(lambda tp, W=wset: [(t, p) for t, p in tp if t not in W])
        elif name == "stemmer":
            stem = get_stemmer(args[0] if args else "en")
            steps.append(lambda tp, S_=stem: [(S_(t), p) for t, p in tp])
        elif name == "alphanum_only":
            steps.append(lambda tp: [(t, p) for t, p in tp if t.isalnum()])
        elif name == "ascii_folding":
            steps.append(lambda tp: [(_ascii_fold(t), p) for t, p in tp])
        elif name == "split_compound":
            words = frozenset(args[0])
            steps.append(
                lambda tp, W=words: [
                    (part, p) for t, p in tp for part in _split_compound(t, W)
                ]
            )
        else:
            raise KeyError(f"unknown token filter {name!r}")

    def analyze(text: str) -> tuple[list[str], list[int]]:
        terms, positions = base(text)
        tp = list(zip(terms, positions))
        for s in steps:
            tp = s(tp)
        if not tp:
            return [], []
        ts, ps = zip(*tp)
        return list(ts), list(ps)

    return analyze


def tokenize_json(text: str) -> tuple[list[str], list[int]]:
    """Dynamic JSON-object field expansion (src/core/json_utils.rs,
    src/postings/json_postings_writer.rs): every leaf becomes path-scoped
    terms `path.sub:value`; string leaves run the default analyzer under
    their path; arrays index each element at the same path.  Invalid JSON
    yields no tokens (the reference rejects at ingestion; an analyzer in a
    pipeline degrades gracefully)."""
    import json as _json

    try:
        obj = _json.loads(text)
    except (ValueError, TypeError):
        return [], []
    terms: list[str] = []

    def emit(path: str, value) -> None:
        if isinstance(value, dict):
            for k2, v2 in value.items():
                emit(f"{path}.{k2}" if path else str(k2), v2)
        elif isinstance(value, list):
            for v2 in value:
                emit(path, v2)
        elif isinstance(value, bool):
            terms.append(f"{path}:{'true' if value else 'false'}")
        elif value is None:
            terms.append(f"{path}:null")
        elif isinstance(value, (int, float)):
            v = int(value) if isinstance(value, float) and value.is_integer() else value
            terms.append(f"{path}:{v}")
        else:  # string leaf -> default analyzer under the path
            for tok in tokenize_default(str(value))[0]:
                terms.append(f"{path}:{tok}")

    emit("", obj)
    return terms, list(range(len(terms)))


ANALYZERS: dict[str, Callable[[str], tuple[list[str], list[int]]]] = {
    "default": tokenize_default,
    "raw": tokenize_raw,
    "whitespace": tokenize_whitespace,
    "en_stem": tokenize_en_stem,
    "json": tokenize_json,
}


def register_analyzer(name: str, fn: Callable[[str], tuple[list[str], list[int]]]) -> None:
    """Custom tokenizer registration — analogue of TokenizerManager::register
    (src/tokenizer/tokenizer_manager.rs:31-41)."""
    ANALYZERS[name] = fn


def get_analyzer(name: str) -> Callable[[str], tuple[list[str], list[int]]]:
    try:
        return ANALYZERS[name]
    except KeyError:
        raise KeyError(f"unknown tokenizer {name!r}; registered: {sorted(ANALYZERS)}")


def _tokenize_default_terms(text: str) -> list[str]:
    """`default` analyzer, terms only — the no-positions hot path of the
    index build (findall avoids per-token Match objects; measured ~1.6x
    over the positions path).  Byte-limit fast path: <= 9 chars can never
    reach 40 UTF-8 bytes (4 bytes/char max); >= 40 chars always do."""
    out = []
    for tok in _TOKEN_RE.findall(text):
        if len(tok) > 9:
            if (len(tok) >= DEFAULT_LONG_LIMIT
                    or len(tok.encode("utf-8")) >= DEFAULT_LONG_LIMIT):
                continue
        out.append(tok.lower() if tok.isascii() else _lower_no_final_sigma(tok))
    return out


def analyze_series(texts: pd.Series, tokenizer: str = "default") -> pd.Series:
    """Vectorized (Arrow-batch) analysis: Series[str] -> Series[list[str]].

    This is the body of the tokenize pandas UDF — one Python call per Arrow
    batch, never per Spark row.
    """
    if tokenizer == "default":
        return texts.map(
            lambda t: _tokenize_default_terms(t) if t is not None else []
        )
    fn = get_analyzer(tokenizer)
    return texts.map(lambda t: fn(t)[0] if t is not None else [])


def analyze_series_with_positions(
    texts: pd.Series, tokenizer: str = "default"
) -> tuple[pd.Series, pd.Series]:
    fn = get_analyzer(tokenizer)
    out = texts.map(lambda t: fn(t) if t is not None else ([], []))
    return out.map(lambda tp: tp[0]), out.map(lambda tp: tp[1])


def token_count_series(texts: pd.Series, tokenizer: str = "default") -> np.ndarray:
    """Token counts per text (the fieldnorm input: count of tokens produced
    by the full analyzer chain, src/indexer/segment_writer.rs:309-313)."""
    fn = get_analyzer(tokenizer)
    return texts.map(lambda t: len(fn(t)[0]) if t is not None else 0).to_numpy(np.int64)


def batch_iter_tokenize(
    texts: Iterator[pd.Series], tokenizer: str = "default"
) -> Iterator[pd.Series]:
    for batch in texts:
        yield analyze_series(batch, tokenizer)
