"""Snowball stemmers for the reference's non-English languages.

The reference routes `Stemmer::new(Language)` through the rust-stemmers
crate (src/tokenizer/stemmer.rs:40-70), whose algorithms are the published
Snowball stemming algorithms (https://snowballstem.org/algorithms/).  Each
function here implements the corresponding *published algorithm
description* (the prose specs, public since 2001-2006), not a translation
of any generated code: German, French, Spanish, Italian, Portuguese,
Russian, Romanian, Dutch, Hungarian, plus the Scandinavian trio (Danish,
Norwegian, Swedish).  Every stemmer is parity-verified word-for-word
against the official Snowball implementations (see tests/test_snowball.py).
Hungarian's per-among boundary semantics differ across published snowball
revisions; `stem_hungarian` targets the inventories of the PostgreSQL
build used as the parity oracle (see its docstring).

English stays in functions/porter2.py (Porter2, 109 parity vectors).

Shared machinery: every Snowball stemmer is defined over the regions

* R1 — the region after the first non-vowel following a vowel,
* R2 — R1 of R1,
* RV — language-specific (Romance: see `_rv_romance`; Russian: after the
  first vowel),

with "suffix in R1" meaning the suffix starts at or after the region
start.  We carry region *offsets* and test `len(word) - len(suffix) >=
offset`.
"""

from __future__ import annotations


def _r1_r2(word: str, vowels: str) -> tuple[int, int]:
    """Standard R1/R2 start offsets (snowballstem.org/texts/r1r2.html)."""

    def after_nonvowel_after_vowel(start: int) -> int:
        i = start
        n = len(word)
        while i < n and word[i] not in vowels:
            i += 1
        while i < n and word[i] in vowels:
            i += 1
        # word[i] is the first non-vowel after a vowel (or end)
        return min(i + 1, n)

    r1 = after_nonvowel_after_vowel(0)
    r2 = after_nonvowel_after_vowel(r1)
    return r1, r2


def _rv_romance(word: str, vowels: str) -> int:
    """RV for French/Spanish/Italian/Portuguese (same definition in all
    four specs): if the second letter is a consonant, RV is the region
    after the next following vowel; if the first two letters are vowels,
    RV is the region after the next consonant; otherwise (consonant-vowel
    start) RV is the region after the third letter.  RV = end of word if
    those positions can't be found."""
    n = len(word)
    if n < 3:
        return n
    if word[1] not in vowels:
        for i in range(2, n):
            if word[i] in vowels:
                return i + 1
        return n
    if word[0] in vowels and word[1] in vowels:
        for i in range(2, n):
            if word[i] not in vowels:
                return i + 1
        return n
    return 3


def _longest_suffix(word: str, *suffixes: str) -> str | None:
    """Longest of `suffixes` the word ends with (no region test).

    Snowball's `[substring] among(... Rx action ...)` picks the longest
    *matching* suffix first, then runs that branch's region test — a long
    match failing its branch condition does NOT fall back to a shorter
    one.  Use this + an explicit region test for un-limited amongs; use
    `_longest_in` when the among runs under `setlimit tomark pV` (the
    limit constrains the match itself, with backtracking)."""
    best = None
    for s in suffixes:
        if word.endswith(s) and (best is None or len(s) > len(best)):
            best = s
    return best


def _longest_in(word: str, region: int, suffixes) -> str | None:
    """Longest suffix that matches AND fits inside the region.  This is
    Snowball's `setlimit ... [substring] among(...)` semantics: the
    region limit constrains the *match*, so a longer suffix crossing the
    limit backtracks to a shorter in-region one (unlike branch-internal
    condition tests, which fail the whole among)."""
    best = None
    for s in suffixes:
        if word.endswith(s) and len(word) - len(s) >= region and \
                (best is None or len(s) > len(best)):
            best = s
    return best


# ===========================================================================
# German — snowballstem.org/algorithms/german/stemmer.html
# ===========================================================================

_DE_VOWELS = "aeiouyäöü"
_DE_S_ENDING = "bdfghklmnrt"
_DE_ST_ENDING = "bdfghklmnt"


def stem_german(word: str) -> str:
    if not word:
        return word
    # preliminary: ß -> ss; mark u/y between vowels as consonants (U/Y)
    word = word.replace("ß", "ss")
    chars = list(word)
    for i in range(1, len(chars) - 1):
        if chars[i] in "uy" and chars[i - 1] in _DE_VOWELS and \
                chars[i + 1] in _DE_VOWELS:
            chars[i] = chars[i].upper()
    word = "".join(chars)

    vowels = _DE_VOWELS  # U/Y are uppercase, hence non-vowels now
    r1, r2 = _r1_r2(word, vowels)
    # R1 adjusted so that the region before it has at least 3 letters
    r1 = max(r1, 3) if len(word) >= 3 else len(word)

    # step 1
    suf = _longest_suffix(word, "em", "ern", "er", "e", "en", "es", "s")
    if suf == "s":
        if len(word) >= 2 and word[-2] in _DE_S_ENDING and \
                len(word) - 1 >= r1:
            word = word[:-1]
    elif suf is not None and len(word) - len(suf) >= r1:
        word = word[: -len(suf)]
        if suf in ("e", "en", "es") and word.endswith("niss"):
            word = word[:-1]

    # step 2
    suf = _longest_suffix(word, "en", "er", "est", "st")
    if suf == "st":
        if len(word) >= 6 and word[-3] in _DE_ST_ENDING and \
                len(word) - 2 >= r1:
            word = word[:-2]
    elif suf is not None and len(word) - len(suf) >= r1:
        word = word[: -len(suf)]

    # step 3 (d-suffixes)
    suf = _longest_suffix(
        word, "end", "ung", "ig", "ik", "isch", "lich", "heit", "keit")
    if suf in ("end", "ung"):
        if len(word) - len(suf) >= r2:
            word = word[: -len(suf)]
            if word.endswith("ig") and not word.endswith("eig") and \
                    len(word) - 2 >= r2:
                word = word[:-2]
    elif suf in ("ig", "ik", "isch"):
        if len(word) - len(suf) >= r2 and word[-len(suf) - 1: -len(suf)] != "e":
            word = word[: -len(suf)]
    elif suf in ("lich", "heit"):
        if len(word) - len(suf) >= r2:
            word = word[: -len(suf)]
            tail = _longest_suffix(word, "er", "en")
            if tail is not None and len(word) - 2 >= r1:
                word = word[:-2]
    elif suf == "keit":
        if len(word) - len(suf) >= r2:
            word = word[: -len(suf)]
            tail = _longest_suffix(word, "lich", "ig")
            if tail is not None and len(word) - len(tail) >= r2:
                word = word[: -len(tail)]

    # finally
    word = word.replace("U", "u").replace("Y", "y")
    return word.translate(str.maketrans("äöü", "aou"))


# ===========================================================================
# Russian — snowballstem.org/algorithms/russian/stemmer.html
# ===========================================================================

_RU_VOWELS = "аеиоуыэюя"

_RU_PERFECTIVE_1 = ("в", "вши", "вшись")          # preceded by а/я
_RU_PERFECTIVE_2 = ("ив", "ивши", "ившись", "ыв", "ывши", "ывшись")
_RU_ADJECTIVE = (
    "ее", "ие", "ые", "ое", "ими", "ыми", "ей", "ий", "ый", "ой", "ем",
    "им", "ым", "ом", "его", "ого", "ему", "ому", "их", "ых", "ую", "юю",
    "ая", "яя", "ою", "ею")
_RU_PARTICIPLE_1 = ("ем", "нн", "вш", "ющ", "щ")  # preceded by а/я
_RU_PARTICIPLE_2 = ("ивш", "ывш", "ующ")
_RU_REFLEXIVE = ("ся", "сь")
_RU_VERB_1 = (                                     # preceded by а/я
    "ла", "на", "ете", "йте", "ли", "й", "л", "ем", "н", "ло", "но",
    "ет", "ют", "ны", "ть", "ешь", "нно")
_RU_VERB_2 = (
    "ила", "ыла", "ена", "ейте", "уйте", "ите", "или", "ыли", "ей",
    "уй", "ил", "ыл", "им", "ым", "ен", "ило", "ыло", "ено", "ят",
    "ует", "уют", "ит", "ыт", "ены", "ить", "ыть", "ишь", "ую", "ю")
_RU_NOUN = (
    "а", "ев", "ов", "ие", "ье", "е", "иями", "ями", "ами", "еи", "ии",
    "и", "ией", "ей", "ой", "ий", "й", "иям", "ям", "ием", "ем", "ам",
    "ом", "о", "у", "ах", "иях", "ях", "ы", "ь", "ию", "ью", "ю", "ия",
    "ья", "я")
_RU_SUPERLATIVE = ("ейш", "ейше")
_RU_DERIVATIONAL = ("ост", "ость")


def _ru_strip_group1(word: str, rv: int, group1, group2) -> str | None:
    """One among() over a (group1: must be preceded by а/я, group2) pair;
    returns the stripped word or None.  Longest in-RV match wins the
    dispatch; a group1 winner whose preceded-by-а/я test then fails
    fails the whole among (no backtracking on condition failure)."""
    best = _longest_in(word, rv, tuple(group1) + tuple(group2))
    if best is None:
        return None
    if best in group1:
        pre = len(word) - len(best) - 1
        if pre < rv or word[pre] not in "ая":
            return None
    return word[: -len(best)]


def stem_russian(word: str) -> str:
    if not word:
        return word
    word = word.replace("ё", "е")
    n = len(word)
    rv = n
    for i, ch in enumerate(word):
        if ch in _RU_VOWELS:
            rv = i + 1
            break
    _, r2 = _r1_r2(word, _RU_VOWELS)

    # step 1: perfective gerund, else [reflexive] + adjectival|verb|noun
    stripped = _ru_strip_group1(word, rv, _RU_PERFECTIVE_1, _RU_PERFECTIVE_2)
    if stripped is not None:
        word = stripped
    else:
        suf = _longest_in(word, rv, _RU_REFLEXIVE)
        if suf:
            word = word[: -len(suf)]
        # adjectival = adjective, optionally preceded by participle
        suf = _longest_in(word, rv, _RU_ADJECTIVE)
        if suf:
            word = word[: -len(suf)]
            stripped = _ru_strip_group1(
                word, rv, _RU_PARTICIPLE_1, _RU_PARTICIPLE_2)
            if stripped is not None:
                word = stripped
        else:
            stripped = _ru_strip_group1(word, rv, _RU_VERB_1, _RU_VERB_2)
            if stripped is not None:
                word = stripped
            else:
                suf = _longest_in(word, rv, _RU_NOUN)
                if suf:
                    word = word[: -len(suf)]

    # step 2: final и
    if word.endswith("и") and len(word) - 1 >= rv:
        word = word[:-1]

    # step 3: derivational (in R2)
    suf = _longest_in(word, r2, _RU_DERIVATIONAL)
    if suf:
        word = word[: -len(suf)]

    # step 4: one of (superlative [+ undouble нн]) | undouble нн | drop ь
    # — a single among dispatching on the longest in-RV match, so only
    # one branch runs (russian tidy_up)
    suf = _longest_in(word, rv, ("ейше", "ейш", "н", "ь"))
    if suf in ("ейше", "ейш"):
        word = word[: -len(suf)]
        if word.endswith("нн") and len(word) - 2 >= rv:
            word = word[:-1]
    elif suf == "н":
        if word.endswith("нн") and len(word) - 2 >= rv:
            word = word[:-1]
    elif suf == "ь":
        word = word[:-1]
    return word


# ===========================================================================
# French — snowballstem.org/algorithms/french/stemmer.html
# ===========================================================================

_FR_VOWELS = "aeiouyâàëéêèïîôûù"


def _fr_mark(word: str) -> str:
    """Prelude: u/i between vowels -> U/I, y next to a vowel -> Y,
    u after q -> U, ë -> He, ï -> Hi.  `repeat goto(...)` leaves the
    cursor BEFORE each match (the replacement is what stops re-matching),
    so this is a strict left-to-right scan with no skipping: in `yy…`
    the second y is marked (anchored on the first), and an ë consumed as
    a pattern's trailing vowel still gets He-ified at its own turn."""
    chars = list(word)
    i = 0
    while i < len(chars):
        # keep retrying at this position until no alternative applies
        # (each replacement disables its own alternative, so this ends);
        # e.g. `ëy…`: alt 1 marks the y (ë anchors as a vowel), then the
        # retry He-ifies the ë itself
        c = chars[i]
        nxt = chars[i + 1] if i + 1 < len(chars) else "\0"
        nxt2 = chars[i + 2] if i + 2 < len(chars) else "\0"
        if c in _FR_VOWELS and nxt in "ui" and nxt2 in _FR_VOWELS:
            chars[i + 1] = nxt.upper()
        elif c in _FR_VOWELS and nxt == "y":
            chars[i + 1] = "Y"
        elif c == "ë":
            chars[i: i + 1] = ["H", "e"]
        elif c == "ï":
            chars[i: i + 1] = ["H", "i"]
        elif c == "y" and nxt in _FR_VOWELS:
            chars[i] = "Y"
        elif c == "q" and nxt == "u":
            chars[i + 1] = "U"
        else:
            i += 1
    return "".join(chars)


def _rv_french(word: str) -> int:
    """French RV: after the third letter if the word begins with two
    vowels, else after the first vowel not at the beginning; par/col/tap
    prefixes define RV directly (spec 'exceptionally')."""
    n = len(word)
    if word[:3] in ("par", "col", "tap"):
        return 3
    if n >= 2 and word[0] in _FR_VOWELS and word[1] in _FR_VOWELS:
        return min(3, n)
    for i in range(1, n):
        if word[i] in _FR_VOWELS:
            return i + 1
    return n


_FR_S1_G1 = ("ance", "iqUe", "isme", "able", "iste", "eux",
             "ances", "iqUes", "ismes", "ables", "istes")
_FR_S1_ATEUR = ("atrice", "ateur", "ation", "atrices", "ateurs", "ations")
_FR_S1_ALL = _FR_S1_G1 + _FR_S1_ATEUR + (
    "logie", "logies", "usion", "ution", "usions", "utions", "ence",
    "ences", "ement", "ements", "ité", "ités", "if", "ive", "ifs",
    "ives", "eaux", "aux", "euse", "euses", "issement", "issements",
    "amment", "emment", "ment", "ments")

_FR_2A = (
    "îmes", "ît", "îtes", "i", "ie", "ies", "ir", "ira", "irai",
    "iraIent", "irais", "irait", "iras", "irent", "irez", "iriez",
    "irions", "irons", "iront", "is", "issaIent", "issais", "issait",
    "issant", "issante", "issantes", "issants", "isse", "issent",
    "isses", "issez", "issiez", "issions", "issons", "it")

_FR_2B_E = ("é", "ée", "ées", "és", "èrent", "er", "era", "erai",
            "eraIent", "erais", "erait", "eras", "erez", "eriez",
            "erions", "erons", "eront", "ez", "iez")
_FR_2B_A = ("âmes", "ât", "âtes", "a", "ai", "aIent", "ais", "ait",
            "ant", "ante", "antes", "ants", "as", "asse", "assent",
            "asses", "assiez", "assions")


def _fr_step1(word: str, r1: int, r2: int, rv: int):
    """Returns (word, found_suffix, changed)."""
    suf = _longest_suffix(word, *_FR_S1_ALL)
    if suf is None:
        return word, None, False
    L = len(word) - len(suf)
    changed = False
    if suf in _FR_S1_G1:
        if L >= r2:
            word, changed = word[:L], True
    elif suf in _FR_S1_ATEUR:
        if L >= r2:
            word, changed = word[:L], True
            if word.endswith("ic"):
                if len(word) - 2 >= r2:
                    word = word[:-2]
                else:
                    word = word[:-2] + "iqU"
    elif suf in ("logie", "logies"):
        if L >= r2:
            word, changed = word[:L] + "log", True
    elif suf in ("usion", "ution", "usions", "utions"):
        if L >= r2:
            word, changed = word[:L] + "u", True
    elif suf in ("ence", "ences"):
        if L >= r2:
            word, changed = word[:L] + "ent", True
    elif suf in ("ement", "ements"):
        if L >= rv:
            word, changed = word[:L], True
            if word.endswith("iv") and len(word) - 2 >= r2:
                word = word[:-2]
                if word.endswith("at") and len(word) - 2 >= r2:
                    word = word[:-2]
            elif word.endswith("eus"):
                if len(word) - 3 >= r2:
                    word = word[:-3]
                elif len(word) - 3 >= r1:
                    word = word[:-3] + "eux"
            elif (word.endswith("abl") or word.endswith("iqU")) and \
                    len(word) - 3 >= r2:
                word = word[:-3]
            elif (word.endswith("ièr") or word.endswith("Ièr")) and \
                    len(word) - 3 >= rv:
                word = word[:-3] + "i"
    elif suf in ("ité", "ités"):
        if L >= r2:
            word, changed = word[:L], True
            if word.endswith("abil"):
                if len(word) - 4 >= r2:
                    word = word[:-4]
                else:
                    word = word[:-4] + "abl"
            elif word.endswith("ic"):
                if len(word) - 2 >= r2:
                    word = word[:-2]
                else:
                    word = word[:-2] + "iqU"
            elif word.endswith("iv") and len(word) - 2 >= r2:
                word = word[:-2]
    elif suf in ("if", "ive", "ifs", "ives"):
        if L >= r2:
            word, changed = word[:L], True
            if word.endswith("at") and len(word) - 2 >= r2:
                word = word[:-2]
                if word.endswith("ic"):
                    if len(word) - 2 >= r2:
                        word = word[:-2]
                    else:
                        word = word[:-2] + "iqU"
    elif suf == "eaux":
        word, changed = word[:L] + "eau", True
    elif suf == "aux":
        if L >= r1:
            word, changed = word[:L] + "al", True
    elif suf in ("euse", "euses"):
        if L >= r2:
            word, changed = word[:L], True
        elif L >= r1:
            word, changed = word[:L] + "eux", True
    elif suf in ("issement", "issements"):
        if L >= r1 and L > 0 and word[L - 1] not in _FR_VOWELS:
            word, changed = word[:L], True
    elif suf == "amment":
        if L >= rv:
            word, changed = word[:L] + "ant", True
    elif suf == "emment":
        if L >= rv:
            word, changed = word[:L] + "ent", True
    else:  # ment, ments — preceded by a vowel in RV
        if L - 1 >= rv and L > 0 and word[L - 1] in _FR_VOWELS:
            word, changed = word[:L], True
    return word, suf, changed


def stem_french(word: str) -> str:
    if not word:
        return word
    word = _fr_mark(word)
    r1, r2 = _r1_r2(word, _FR_VOWELS)
    rv = _rv_french(word)

    word, suf1, changed1 = _fr_step1(word, r1, r2, rv)
    altered = changed1
    if not changed1 or suf1 in ("amment", "emment", "ment", "ments"):
        # step 2a: i-verb suffixes, preceded by a non-vowel (not the H
        # marker) itself in RV
        suf = _longest_in(word, rv, _FR_2A)
        removed = False
        if suf is not None:
            pre = len(word) - len(suf) - 1
            if pre >= rv and word[pre] not in _FR_VOWELS and \
                    word[pre] != "H":
                word = word[: -len(suf)]
                removed = True
        altered = removed
        if not removed:
            # step 2b
            suf = _longest_in(word, rv, ("ions",) + _FR_2B_E + _FR_2B_A)
            if suf == "ions":
                if len(word) - 4 >= r2:
                    word, altered = word[:-4], True
            elif suf in _FR_2B_E:
                word, altered = word[: -len(suf)], True
            elif suf in _FR_2B_A:
                word, altered = word[: -len(suf)], True
                if word.endswith("e") and len(word) - 1 >= rv:
                    word = word[:-1]

    if altered:
        # step 3
        if word.endswith("Y"):
            word = word[:-1] + "i"
        elif word.endswith("ç"):
            word = word[:-1] + "c"
    else:
        # step 4: residual s (preceding char must exist and not be one of
        # a i o u è s — except i as part of the Hi mark), then
        # ion/ier/e/ë in RV
        if word.endswith("s") and len(word) >= 2 and (
            word[-3:-1] == "Hi" or word[-2] not in "aiouès"
        ):
            word = word[:-1]
        suf = _longest_in(word, rv, ("ion", "ier", "ière", "Ier", "Ière",
                                     "e", "ë"))
        if suf == "ion":
            if len(word) - 3 >= r2 and len(word) >= 4 and word[-4] in "st":
                word = word[:-3]
        elif suf in ("ier", "ière", "Ier", "Ière"):
            word = word[: -len(suf)] + "i"
        elif suf == "e":
            word = word[:-1]
        elif suf == "ë":
            if word.endswith("guë"):
                word = word[:-1]

    # step 5: undouble
    if word.endswith(("enn", "onn", "ett", "ell", "eill")):
        word = word[:-1]
    # step 6: un-accent é/è followed by >=1 non-vowel at the end
    j = len(word) - 1
    k = 0
    while j >= 0 and word[j] not in _FR_VOWELS:
        j -= 1
        k += 1
    if k >= 1 and j >= 0 and word[j] in "éè":
        word = word[:j] + "e" + word[j + 1:]

    word = word.replace("He", "ë").replace("Hi", "ï").replace("H", "")
    return word.replace("I", "i").replace("U", "u").replace("Y", "y")


# ===========================================================================
# Spanish — snowballstem.org/algorithms/spanish/stemmer.html
# ===========================================================================

_ES_VOWELS = "aeiouáéíóúü"

_ES_PRON = ("me", "se", "sela", "selo", "selas", "selos", "la", "le",
            "lo", "las", "les", "los", "nos")
_ES_PRON_PRE_A = ("iéndo", "ándo", "ár", "ér", "ír")
_ES_PRON_PRE_B = ("ando", "iendo", "ar", "er", "ir")

_ES_S1_DEL = ("anza", "anzas", "ico", "ica", "icos", "icas", "ismo",
              "ismos", "able", "ables", "ible", "ibles", "ista",
              "istas", "oso", "osa", "osos", "osas", "amiento",
              "amientos", "imiento", "imientos")
_ES_S1_ADOR = ("adora", "ador", "ación", "adoras", "adores", "aciones",
               "ante", "antes", "ancia", "ancias")
_ES_S1_ALL = _ES_S1_DEL + _ES_S1_ADOR + (
    "logía", "logías", "ución", "uciones", "encia", "encias", "amente",
    "mente", "idad", "idades", "iva", "ivo", "ivas", "ivos")

_ES_2A = ("ya", "ye", "yan", "yen", "yeron", "yendo", "yo", "yó", "yas",
          "yes", "yais", "yamos")
_ES_2B_GU = ("en", "es", "éis", "emos")
_ES_2B = (
    "arían", "arías", "arán", "arás", "aríais", "aría", "aréis",
    "aríamos", "aremos", "ará", "aré", "erían", "erías", "erán",
    "erás", "eríais", "ería", "eréis", "eríamos", "eremos", "erá",
    "eré", "irían", "irías", "irán", "irás", "iríais", "iría", "iréis",
    "iríamos", "iremos", "irá", "iré", "aba", "ada", "ida", "ía",
    "ara", "iera", "ad", "ed", "id", "ase", "iese", "aste", "iste",
    "an", "aban", "ían", "aran", "ieran", "asen", "iesen", "aron",
    "ieron", "ado", "ido", "ando", "iendo", "ió", "ar", "er", "ir",
    "as", "abas", "adas", "idas", "ías", "aras", "ieras", "ases",
    "ieses", "ís", "áis", "abais", "íais", "arais", "ierais", "aseis",
    "ieseis", "asteis", "isteis", "ados", "idos", "amos", "ábamos",
    "íamos", "imos", "áramos", "iéramos", "iésemos", "ásemos")


def stem_spanish(word: str) -> str:
    if not word:
        return word
    r1, r2 = _r1_r2(word, _ES_VOWELS)
    rv = _rv_romance(word, _ES_VOWELS)

    # step 0: attached pronoun after a gerund/infinitive ending in RV
    pron = _longest_suffix(word, *_ES_PRON)
    if pron is not None:
        base = word[: -len(pron)]
        pre = _longest_suffix(base, *(_ES_PRON_PRE_A + _ES_PRON_PRE_B +
                                      ("yendo",)))
        if pre is not None and len(base) - len(pre) >= rv:
            if pre in _ES_PRON_PRE_A:
                word = base.translate(str.maketrans("áéí", "aei"))
            elif pre == "yendo":
                if base[: -5].endswith("u"):
                    word = base
            else:
                word = base

    # step 1: standard suffix removal
    changed1 = False
    suf = _longest_suffix(word, *_ES_S1_ALL)
    if suf is not None:
        L = len(word) - len(suf)
        if suf in _ES_S1_DEL:
            if L >= r2:
                word, changed1 = word[:L], True
        elif suf in _ES_S1_ADOR:
            if L >= r2:
                word, changed1 = word[:L], True
                if word.endswith("ic") and len(word) - 2 >= r2:
                    word = word[:-2]
        elif suf in ("logía", "logías"):
            if L >= r2:
                word, changed1 = word[:L] + "log", True
        elif suf in ("ución", "uciones"):
            if L >= r2:
                word, changed1 = word[:L] + "u", True
        elif suf in ("encia", "encias"):
            if L >= r2:
                word, changed1 = word[:L] + "ente", True
        elif suf == "amente":
            if L >= r1:
                word, changed1 = word[:L], True
                if word.endswith("iv") and len(word) - 2 >= r2:
                    word = word[:-2]
                    if word.endswith("at") and len(word) - 2 >= r2:
                        word = word[:-2]
                else:
                    t = _longest_suffix(word, "os", "ic", "ad")
                    if t is not None and len(word) - 2 >= r2:
                        word = word[:-2]
        elif suf == "mente":
            if L >= r2:
                word, changed1 = word[:L], True
                t = _longest_suffix(word, "ante", "able", "ible")
                if t is not None and len(word) - len(t) >= r2:
                    word = word[: -len(t)]
        elif suf in ("idad", "idades"):
            if L >= r2:
                word, changed1 = word[:L], True
                t = _longest_suffix(word, "abil", "ic", "iv")
                if t is not None and len(word) - len(t) >= r2:
                    word = word[: -len(t)]
        else:  # iva ivo ivas ivos
            if L >= r2:
                word, changed1 = word[:L], True
                if word.endswith("at") and len(word) - 2 >= r2:
                    word = word[:-2]

    if not changed1:
        # step 2a: verb suffixes beginning y, preceded by u (the u need
        # not be in RV — the setlimit covers only the substring match)
        suf = _longest_in(word, rv, _ES_2A)
        removed = False
        if suf is not None:
            if word[: -len(suf)].endswith("u"):
                word, removed = word[: -len(suf)], True
        if not removed:
            # step 2b
            suf = _longest_in(word, rv, _ES_2B_GU + _ES_2B)
            if suf is not None:
                word = word[: -len(suf)]
                if suf in _ES_2B_GU and word.endswith("gu"):
                    word = word[:-1]

    # step 3: residual suffix
    suf = _longest_in(word, rv, ("os", "a", "o", "á", "í", "ó"))
    if suf is not None:
        word = word[: -len(suf)]
    else:
        suf = _longest_in(word, rv, ("e", "é"))
        if suf is not None:
            word = word[: -len(suf)]
            if word.endswith("gu") and len(word) - 1 >= rv:
                word = word[:-1]

    return word.translate(str.maketrans("áéíóú", "aeiou"))


# ===========================================================================
# Italian — snowballstem.org/algorithms/italian/stemmer.html
# ===========================================================================

_IT_VOWELS = "aeiouàèìòù"

_IT_PRON = ("ci", "gli", "la", "le", "li", "lo", "mi", "ne", "si", "ti",
            "vi", "sene", "gliela", "gliele", "glieli", "glielo",
            "gliene", "mela", "mele", "meli", "melo", "mene", "tela",
            "tele", "teli", "telo", "tene", "cela", "cele", "celi",
            "celo", "cene", "vela", "vele", "veli", "velo", "vene")

_IT_S1_DEL = ("anza", "anze", "ico", "ici", "ica", "ice", "iche",
              "ichi", "ismo", "ismi", "abile", "abili", "ibile",
              "ibili", "ista", "iste", "isti", "istà", "istè", "istì",
              "oso", "osi", "osa", "ose", "mente", "atrice", "atrici",
              "ante", "anti")
_IT_S1_AZIONE = ("azione", "azioni", "atore", "atori")
_IT_S1_ALL = _IT_S1_DEL + _IT_S1_AZIONE + (
    "logia", "logie", "uzione", "uzioni", "usione", "usioni", "enza",
    "enze", "amento", "amenti", "imento", "imenti", "amente", "ità",
    "ivo", "ivi", "iva", "ive")

_IT_S2 = (
    "ammo", "ando", "ano", "are", "arono", "asse", "assero", "assi",
    "assimo", "ata", "ate", "ati", "ato", "ava", "avamo", "avano",
    "avate", "avi", "avo", "emmo", "enda", "ende", "endi", "endo",
    "erà", "erai", "eranno", "ere", "erebbe", "erebbero", "erei",
    "eremmo", "eremo", "ereste", "eresti", "erete", "erò", "erono",
    "essero", "ete", "eva", "evamo", "evano", "evate", "evi", "evo",
    "Yamo", "iamo", "immo", "irà", "irai", "iranno", "ire", "irebbe",
    "irebbero", "irei", "iremmo", "iremo", "ireste", "iresti", "irete",
    "irò", "irono", "isca", "iscano", "isce", "isci", "isco",
    "iscono", "issero", "ita", "ite", "iti", "ito", "iva", "ivamo",
    "ivano", "ivate", "ivi", "ivo", "ono", "uta", "ute", "uti", "uto",
    "ar", "ir")


def _it_mark(word: str) -> str:
    """Replace acute accents with grave; mark u/i between vowels and u
    after q as U/I."""
    word = word.translate(str.maketrans("áéíóú", "àèìòù"))
    out = []
    chars = list(word)
    n = len(chars)
    for i, c in enumerate(chars):
        prev = out[-1] if out else "\0"
        nxt = chars[i + 1] if i + 1 < n else "\0"
        if c in "ui" and prev in _IT_VOWELS and nxt in _IT_VOWELS:
            out.append(c.upper())
        elif c == "u" and prev == "q":
            out.append("U")
        else:
            out.append(c)
    return "".join(out)


def stem_italian(word: str) -> str:
    if not word:
        return word
    word = _it_mark(word)
    r1, r2 = _r1_r2(word, _IT_VOWELS)
    rv = _rv_romance(word, _IT_VOWELS)

    # step 0: attached pronoun following ando/endo (delete) or
    # ar/er/ir (replace with e), the ending in RV
    pron = _longest_suffix(word, *_IT_PRON)
    if pron is not None:
        base = word[: -len(pron)]
        pre = _longest_suffix(base, "ando", "endo", "ar", "er", "ir")
        if pre is not None and len(base) - len(pre) >= rv:
            word = base if pre in ("ando", "endo") else base + "e"

    # step 1
    changed1 = False
    suf = _longest_suffix(word, *_IT_S1_ALL)
    if suf is not None:
        L = len(word) - len(suf)
        if suf == "amente":
            # amente before the plain-delete group (longest-match makes
            # this unreachable via mente)
            if L >= r1:
                word, changed1 = word[:L], True
                if word.endswith("iv") and len(word) - 2 >= r2:
                    word = word[:-2]
                    if word.endswith("at") and len(word) - 2 >= r2:
                        word = word[:-2]
                else:
                    t = _longest_suffix(word, "os", "ic", "abil")
                    if t is not None and len(word) - len(t) >= r2:
                        word = word[: -len(t)]
        elif suf in _IT_S1_DEL:
            if L >= r2:
                word, changed1 = word[:L], True
        elif suf in _IT_S1_AZIONE:
            if L >= r2:
                word, changed1 = word[:L], True
                if word.endswith("ic") and len(word) - 2 >= r2:
                    word = word[:-2]
        elif suf in ("logia", "logie"):
            if L >= r2:
                word, changed1 = word[:L] + "log", True
        elif suf in ("uzione", "uzioni", "usione", "usioni"):
            if L >= r2:
                word, changed1 = word[:L] + "u", True
        elif suf in ("enza", "enze"):
            if L >= r2:
                word, changed1 = word[:L] + "ente", True
        elif suf in ("amento", "amenti", "imento", "imenti"):
            if L >= rv:
                word, changed1 = word[:L], True
        elif suf == "ità":
            if L >= r2:
                word, changed1 = word[:L], True
                t = _longest_suffix(word, "abil", "ic", "iv")
                if t is not None and len(word) - len(t) >= r2:
                    word = word[: -len(t)]
        else:  # ivo ivi iva ive
            if L >= r2:
                word, changed1 = word[:L], True
                if word.endswith("at") and len(word) - 2 >= r2:
                    word = word[:-2]
                    if word.endswith("ic") and len(word) - 2 >= r2:
                        word = word[:-2]

    # step 2: verb suffixes, if step 1 removed nothing
    if not changed1:
        suf = _longest_in(word, rv, _IT_S2)
        if suf is not None:
            word = word[: -len(suf)]

    # step 3a: final vowel (and preceding i), both in RV
    suf = _longest_in(word, rv, ("a", "e", "i", "o", "à", "è", "ì", "ò"))
    if suf is not None:
        word = word[:-1]
        if word.endswith("i") and len(word) - 1 >= rv:
            word = word[:-1]
    # step 3b
    suf = _longest_in(word, rv, ("ch", "gh"))
    if suf is not None:
        word = word[:-1]

    return word.replace("I", "i").replace("U", "u")


# ===========================================================================
# Portuguese — snowballstem.org/algorithms/portuguese/stemmer.html
# ===========================================================================

_PT_VOWELS = "aeiouáéíóúâêô"

_PT_S1_DEL = ("eza", "ezas", "ico", "ica", "icos", "icas", "ismo",
              "ismos", "ável", "ível", "ista", "istas", "oso", "osa",
              "osos", "osas", "amento", "amentos", "imento", "imentos",
              "ante", "antes", "ância")
_PT_S1_ADOR = ("adora", "ador", "aça~o", "adoras", "adores", "aço~es")
_PT_S1_ALL = _PT_S1_DEL + _PT_S1_ADOR + (
    "logia", "logias", "uça~o", "uço~es", "ência", "ências", "amente",
    "mente", "idade", "idades", "iva", "ivo", "ivas", "ivos", "ira",
    "iras")

_PT_S2 = (
    "ada", "ida", "ia", "aria", "eria", "iria", "ará", "ara", "erá",
    "era", "irá", "ava", "asse", "esse", "isse", "aste", "este",
    "iste", "ei", "arei", "erei", "irei", "am", "iam", "ariam",
    "eriam", "iriam", "aram", "eram", "iram", "avam", "em", "arem",
    "erem", "irem", "assem", "essem", "issem", "ado", "ido", "ando",
    "endo", "indo", "ara~o", "era~o", "ira~o", "ar", "er", "ir", "as",
    "adas", "idas", "ias", "arias", "erias", "irias", "arás", "aras",
    "erás", "eras", "irás", "avas", "es", "ardes", "erdes", "irdes",
    "ares", "eres", "ires", "asses", "esses", "isses", "astes",
    "estes", "istes", "is", "ais", "iais", "eis", "aríeis", "eríeis",
    "iríeis", "áreis", "areis", "éreis", "ereis", "íreis", "ireis",
    "ásseis", "ésseis", "ísseis", "áveis", "ados", "idos", "ámos",
    "amos", "íamos", "aríamos", "eríamos", "iríamos", "áramos",
    "éramos", "íramos", "ávamos", "emos", "aremos", "eremos",
    "iremos", "ássemos", "êssemos", "íssemos", "imos", "armos",
    "ermos", "irmos", "eu", "iu", "ou", "ira", "iras")


def stem_portuguese(word: str) -> str:
    if not word:
        return word
    # prelude: nasal vowels become two-char a~ / o~ sequences (treated
    # as non-vowel for the region computation, per the spec)
    word = word.replace("ã", "a~").replace("õ", "o~")
    r1, r2 = _r1_r2(word, _PT_VOWELS)
    rv = _rv_romance(word, _PT_VOWELS)

    # step 1
    changed1 = False
    suf = _longest_suffix(word, *_PT_S1_ALL)
    if suf is not None:
        L = len(word) - len(suf)
        if suf == "amente":
            if L >= r1:
                word, changed1 = word[:L], True
                if word.endswith("iv") and len(word) - 2 >= r2:
                    word = word[:-2]
                    if word.endswith("at") and len(word) - 2 >= r2:
                        word = word[:-2]
                else:
                    t = _longest_suffix(word, "os", "ic", "ad")
                    if t is not None and len(word) - 2 >= r2:
                        word = word[:-2]
        elif suf in _PT_S1_DEL:
            if L >= r2:
                word, changed1 = word[:L], True
        elif suf in _PT_S1_ADOR:
            # unlike es/fr/it, the pt ador/ação group has no inner
            # ic-removal (comunicação -> comunic)
            if L >= r2:
                word, changed1 = word[:L], True
        elif suf in ("logia", "logias"):
            if L >= r2:
                word, changed1 = word[:L] + "log", True
        elif suf in ("uça~o", "uço~es"):
            if L >= r2:
                word, changed1 = word[:L] + "u", True
        elif suf in ("ência", "ências"):
            if L >= r2:
                word, changed1 = word[:L] + "ente", True
        elif suf == "mente":
            if L >= r2:
                word, changed1 = word[:L], True
                t = _longest_suffix(word, "ante", "avel", "ível")
                if t is not None and len(word) - len(t) >= r2:
                    word = word[: -len(t)]
        elif suf in ("idade", "idades"):
            if L >= r2:
                word, changed1 = word[:L], True
                t = _longest_suffix(word, "abil", "ic", "iv")
                if t is not None and len(word) - len(t) >= r2:
                    word = word[: -len(t)]
        elif suf in ("iva", "ivo", "ivas", "ivos"):
            if L >= r2:
                word, changed1 = word[:L], True
                if word.endswith("at") and len(word) - 2 >= r2:
                    word = word[:-2]
        else:  # ira iras -> ir when in RV and preceded by e
            if L >= rv and word[:L].endswith("e"):
                word, changed1 = word[:L] + "ir", True

    # step 2: verb suffixes, if step 1 changed nothing
    changed2 = False
    if not changed1:
        suf = _longest_in(word, rv, _PT_S2)
        if suf is not None:
            word, changed2 = word[: -len(suf)], True

    if changed1 or changed2:
        # step 3
        if word.endswith("i") and len(word) - 1 >= rv and \
                word[-2:-1] == "c":
            word = word[:-1]
    else:
        # step 4: residual suffix
        suf = _longest_in(word, rv, ("os", "a", "i", "o", "á", "í", "ó"))
        if suf is not None:
            word = word[: -len(suf)]

    # step 5
    suf = _longest_in(word, rv, ("e", "é", "ê"))
    if suf is not None:
        word = word[:-1]
        if word.endswith("gu") and len(word) - 1 >= rv:
            word = word[:-1]
        elif word.endswith("ci") and len(word) - 1 >= rv:
            word = word[:-1]
    elif word.endswith("ç"):
        word = word[:-1] + "c"

    return word.replace("a~", "ã").replace("o~", "õ")


# ===========================================================================
# Danish / Norwegian / Swedish — snowballstem.org/algorithms/<lang>/
# (shared shape: adjusted R1, big step-1 among + valid s-ending,
#  consonant-pair shortening, d-suffixes)
# ===========================================================================

_DA_VOWELS = "aeiouyæåø"
_DA_S_ENDING = "abcdfghjklmnoprtvyzå"
_DA_S1 = ("hed", "ethed", "ered", "e", "erede", "ende", "erende", "ene",
          "erne", "ere", "en", "heden", "eren", "er", "heder", "erer",
          "heds", "es", "endes", "erendes", "enes", "ernes", "eres",
          "ens", "hedens", "erens", "ers", "ets", "erets", "et", "eret")


def _scan_r1(word: str, vowels: str) -> int:
    """R1 with the Scandinavian/German adjustment: at least 3 letters
    before the region."""
    r1, _ = _r1_r2(word, vowels)
    return max(r1, 3) if len(word) >= 3 else len(word)


def stem_danish(word: str) -> str:
    if not word:
        return word
    r1 = _scan_r1(word, _DA_VOWELS)

    # step 1 (setlimit to R1: the region constrains the match itself)
    suf = _longest_in(word, r1, _DA_S1 + ("s",))
    if suf == "s":
        if len(word) >= 2 and word[-2] in _DA_S_ENDING:
            word = word[:-1]
    elif suf is not None:
        word = word[: -len(suf)]

    # step 2: shorten gd dt gt kt
    if word[-2:] in ("gd", "dt", "gt", "kt") and len(word) - 2 >= r1:
        word = word[:-1]

    # step 3
    if word.endswith("igst"):
        word = word[:-2]
    suf = _longest_in(word, r1, ("ig", "lig", "elig", "els", "løst"))
    if suf == "løst":
        word = word[:-1]
    elif suf is not None:
        word = word[: -len(suf)]
        if word[-2:] in ("gd", "dt", "gt", "kt") and len(word) - 2 >= r1:
            word = word[:-1]

    # step 4: undouble final double consonant in R1
    if len(word) >= 2 and word[-1] == word[-2] and \
            word[-1] not in _DA_VOWELS and len(word) - 1 >= r1:
        word = word[:-1]
    return word


_NO_VOWELS = "aeiouyæåø"
_NO_S1 = ("a", "e", "ede", "ande", "ende", "ane", "ene", "hetene",
          "en", "heten", "ar", "er", "heter", "as", "es", "edes",
          "endes", "enes", "hetenes", "ens", "hetens", "ers", "ets",
          "et", "het", "ast")


def stem_norwegian(word: str) -> str:
    if not word:
        return word
    r1 = _scan_r1(word, _NO_VOWELS)

    # step 1
    suf = _longest_in(word, r1, _NO_S1 + ("s", "erte", "ert"))
    if suf == "s":
        ok = False
        if len(word) >= 2:
            pre = word[-2]
            if pre in "bcdfghjlmnoprtvyz":
                ok = True
            elif pre == "k" and (len(word) < 3 or
                                 word[-3] not in _NO_VOWELS):
                ok = True
        if ok:
            word = word[:-1]
    elif suf in ("erte", "ert"):
        word = word[: -len(suf)] + "er"
    elif suf is not None:
        word = word[: -len(suf)]

    # step 2: shorten dt vt
    if word[-2:] in ("dt", "vt") and len(word) - 2 >= r1:
        word = word[:-1]

    # step 3
    suf = _longest_in(word, r1, ("leg", "eleg", "ig", "eig", "lig",
                                 "elig", "els", "lov", "elov", "slov",
                                 "hetslov"))
    if suf is not None:
        word = word[: -len(suf)]
    return word


_SV_VOWELS = "aeiouyäåö"
_SV_S1 = ("a", "arna", "erna", "heterna", "orna", "ad", "e", "ade",
          "ande", "arne", "are", "aste", "en", "anden", "aren",
          "heten", "ern", "ar", "er", "heter", "or", "as", "arnas",
          "ernas", "ornas", "es", "ades", "andes", "ens", "arens",
          "hetens", "erns", "at", "andet", "het", "ast")


def stem_swedish(word: str) -> str:
    if not word:
        return word
    r1 = _scan_r1(word, _SV_VOWELS)

    # step 1
    suf = _longest_in(word, r1, _SV_S1 + ("s",))
    if suf == "s":
        if len(word) >= 2 and word[-2] in "bcdfghjklmnoprtvy":
            word = word[:-1]
    elif suf is not None:
        word = word[: -len(suf)]

    # step 2: shorten dd gd nn dt gt kt tt
    if word[-2:] in ("dd", "gd", "nn", "dt", "gt", "kt", "tt") and \
            len(word) - 2 >= r1:
        word = word[:-1]

    # step 3
    suf = _longest_in(word, r1, ("lig", "ig", "els", "löst", "fullt"))
    if suf in ("löst", "fullt"):
        word = word[:-1]
    elif suf is not None:
        word = word[: -len(suf)]
    return word


# ===========================================================================
# Dutch — snowballstem.org/algorithms/dutch/stemmer.html
# ===========================================================================

_NL_VOWELS = "aeiouyè"


def _nl_undouble(word: str) -> str:
    if word[-2:] in ("kk", "dd", "tt"):
        return word[:-1]
    return word


def stem_dutch(word: str) -> str:
    if not word:
        return word
    # prelude: strip umlauts/acutes, mark initial y, y after vowel, and
    # i between vowels as consonants
    word = word.translate(str.maketrans("äëïöüáéíóú", "aeiouaeiou"))
    chars = list(word)
    n = len(chars)
    out = []
    for i, c in enumerate(chars):
        prev = out[-1] if out else "\0"
        nxt = chars[i + 1] if i + 1 < n else "\0"
        if c == "y" and (i == 0 or prev in _NL_VOWELS):
            out.append("Y")
        elif c == "i" and prev in _NL_VOWELS and nxt in _NL_VOWELS:
            out.append("I")
        else:
            out.append(c)
    word = "".join(out)

    # Regions are byte offsets: the dutch algorithm's "at least 3
    # letters before R1" is a literal `$p1 < 3` on the byte cursor in
    # the UTF-8 runtime (both the reference's rust-stemmers and
    # PostgreSQL's snowball), so a leading 2-byte è shifts R1.
    bpos = [0]
    for c in word:
        bpos.append(bpos[-1] + len(c.encode("utf-8")))
    r1c, r2c = _r1_r2(word, _NL_VOWELS)
    r1 = max(bpos[r1c], 3) if bpos[-1] >= 3 else bpos[-1]
    r2 = bpos[r2c]

    def in_r1(chars_left: int) -> bool:
        return bpos[chars_left] >= r1

    def in_r2(chars_left: int) -> bool:
        return bpos[chars_left] >= r2

    # step 1
    suf = _longest_suffix(word, "heden", "ene", "en", "se", "s")
    if suf == "heden":
        if in_r1(len(word) - 5):
            word = word[:-5] + "heid"
    elif suf in ("ene", "en"):
        L = len(word) - len(suf)
        if in_r1(L) and L > 0 and word[L - 1] not in _NL_VOWELS and \
                word[L - 3: L] != "gem":
            word = _nl_undouble(word[:L])
    elif suf in ("se", "s"):
        L = len(word) - len(suf)
        if in_r1(L) and L > 0 and word[L - 1] not in _NL_VOWELS and \
                word[L - 1] != "j":
            word = word[:L]

    # step 2: suffix e preceded by a non-vowel
    e_removed = False
    if word.endswith("e") and in_r1(len(word) - 1) and len(word) >= 2 \
            and word[-2] not in _NL_VOWELS:
        word = _nl_undouble(word[:-1])
        e_removed = True

    # step 3a: heid
    if word.endswith("heid") and in_r2(len(word) - 4) and \
            word[-5:-4] != "c":
        word = word[:-4]
        suf = _longest_suffix(word, "ene", "en")
        if suf is not None:
            L = len(word) - len(suf)
            if in_r1(L) and L > 0 and word[L - 1] not in _NL_VOWELS and \
                    word[L - 3: L] != "gem":
                word = _nl_undouble(word[:L])

    # step 3b: d-suffixes
    suf = _longest_suffix(word, "end", "ing", "ig", "lijk", "baar", "bar")
    if suf in ("end", "ing"):
        if in_r2(len(word) - 3):
            word = word[:-3]
            if word.endswith("ig") and in_r2(len(word) - 2) and \
                    word[-3:-2] != "e":
                word = word[:-2]
            else:
                word = _nl_undouble(word)
    elif suf == "ig":
        if in_r2(len(word) - 2) and word[-3:-2] != "e":
            word = word[:-2]
    elif suf == "lijk":
        if in_r2(len(word) - 4):
            word = word[:-4]
            if word.endswith("e") and in_r1(len(word) - 1) and \
                    len(word) >= 2 and word[-2] not in _NL_VOWELS:
                word = _nl_undouble(word[:-1])
    elif suf == "baar":
        if in_r2(len(word) - 4):
            word = word[:-4]
    elif suf == "bar":
        if in_r2(len(word) - 3) and e_removed:
            word = word[:-3]

    # step 4: undouble vowel in C V V D shape
    if len(word) >= 4 and word[-1] not in _NL_VOWELS and word[-1] != "I" \
            and word[-2] == word[-3] and word[-2] in "aeou" \
            and word[-4] not in _NL_VOWELS:
        word = word[:-2] + word[-1]

    return word.replace("I", "i").replace("Y", "y")


# ===========================================================================
# Romanian — snowballstem.org/algorithms/romanian/stemmer.html
# (suffix forms use cedilla ş/ţ, matching the snowball 2.x source the
#  reference's rust-stemmers snapshot generates from)
# ===========================================================================

_RO_VOWELS = "aăâeiîou"

_RO_S1_PAIRS = [
    (("abilitate", "abilitati", "abilităi", "abilităţi"), "abil"),
    (("ibilitate",), "ibil"),
    (("ivitate", "ivitati", "ivităi", "ivităţi"), "iv"),
    (("icitate", "icitati", "icităi", "icităţi", "icator", "icatori",
      "iciv", "iciva", "icive", "icivi", "icivă", "ical", "icala",
      "icale", "icali", "icală"), "ic"),
    (("ativ", "ativa", "ative", "ativi", "ativă", "aţiune", "atoare",
      "ator", "atori", "ătoare", "ător", "ători"), "at"),
    (("itiv", "itiva", "itive", "itivi", "itivă", "iţiune", "itoare",
      "itor", "itori"), "it"),
]

_RO_S2_DEL = (
    "at", "ata", "ată", "ati", "ate", "ut", "uta", "ută", "uti", "ute",
    "it", "ita", "ită", "iti", "ite", "ic", "ica", "ice", "ici", "ică",
    "abil", "abila", "abile", "abili", "abilă", "ibil", "ibila",
    "ibile", "ibili", "ibilă", "oasa", "oasă", "oase", "os", "osi",
    "oşi", "ant", "anta", "ante", "anti", "antă", "ator", "atori",
    "itate", "itati", "ităi", "ităţi", "iv", "iva", "ive", "ivi",
    "ivă")
_RO_S2_IST = ("ism", "isme", "ist", "ista", "iste", "isti", "istă",
              "işti")

_RO_S3_A = (  # delete if preceded by a consonant or u
    "are", "ere", "ire", "âre", "ind", "ând", "indu", "ându", "eze",
    "ească", "ez", "ezi", "ează", "esc", "eşti", "eşte", "ăsc",
    "ăşti", "ăşte", "am", "ai", "au", "eam", "eai", "ea", "eaţi",
    "eau", "iam", "iai", "ia", "iaţi", "iau", "ui", "aşi", "arăm",
    "arăţi", "ară", "uşi", "urăm", "urăţi", "ură", "işi", "irăm",
    "irăţi", "iră", "âi", "âşi", "ârăm", "ârăţi", "âră",
    # perfect paradigm: (a|i|â|u) + (se sem seşi serăm serăţi seră);
    # longer sei/sese… tails resolve through the unconditional group +
    # residual-vowel step instead (membership probed against the
    # official implementation)
    "ase", "asem", "aseşi", "aserăm", "aserăţi", "aseră",
    "ise", "isem", "iseşi", "iserăm", "iserăţi", "iseră",
    "âse", "âsem", "âseşi", "âserăm", "âserăţi", "âseră",
    "use", "usem", "useşi", "userăm", "userăţi", "useră")
_RO_S3_B = (  # unconditional delete (match still inside RV)
    "aţi", "eţi", "iţi", "âţi", "ăm", "em", "im", "âm", "se", "seşi",
    "serăm", "serăţi", "seră", "sei", "sese", "sesem", "seseşi",
    "seserăm", "seserăţi", "seseră")


def stem_romanian(word: str) -> str:
    if not word:
        return word
    # prelude: i/u between vowels -> I/U (both neighbors vowels)
    chars = list(word)
    for i in range(1, len(chars) - 1):
        if chars[i] in "iu" and chars[i - 1] in _RO_VOWELS and \
                chars[i + 1] in _RO_VOWELS:
            chars[i] = chars[i].upper()
    word = "".join(chars)

    r1, r2 = _r1_r2(word, _RO_VOWELS)
    rv = _rv_romance(word, _RO_VOWELS)

    # step 0: removal of plurals (in R1)
    suf = _longest_suffix(
        word, "ul", "ului", "aua", "ea", "ele", "elor", "ii", "iua",
        "iei", "iile", "iilor", "ilor", "ile", "atei", "aţie", "aţia")
    if suf is not None and len(word) - len(suf) >= r1:
        L = len(word) - len(suf)
        if suf in ("ul", "ului"):
            word = word[:L]
        elif suf == "aua":
            word = word[:L] + "a"
        elif suf in ("ea", "ele", "elor"):
            word = word[:L] + "e"
        elif suf in ("ii", "iua", "iei", "iile", "iilor", "ilor"):
            word = word[:L] + "i"
        elif suf == "ile":
            if not word[:L].endswith("ab"):
                word = word[:L] + "i"
        elif suf == "atei":
            word = word[:L] + "at"
        else:  # aţie aţia
            word = word[:L] + "aţi"

    # step 1: reduction of combining suffixes (R1, repeated)
    step1_changed = False
    while True:
        all_s1 = tuple(s for sufs, _ in _RO_S1_PAIRS for s in sufs)
        suf = _longest_suffix(word, *all_s1)
        if suf is None or len(word) - len(suf) < r1:
            break
        rep = next(r for sufs, r in _RO_S1_PAIRS if suf in sufs)
        word = word[: -len(suf)] + rep
        step1_changed = True

    # step 2: removal of standard suffixes (R2)
    step2_changed = False
    suf = _longest_suffix(word, *(_RO_S2_DEL + _RO_S2_IST +
                                  ("iune", "iuni")))
    if suf is not None and len(word) - len(suf) >= r2:
        L = len(word) - len(suf)
        if suf in ("iune", "iuni"):
            if word[:L].endswith("ţ"):
                word = word[: L - 1] + "t"
                step2_changed = True
        elif suf in _RO_S2_IST:
            word = word[:L] + "ist"
            step2_changed = True
        else:
            word = word[:L]
            step2_changed = True

    # step 3: verb suffixes (match constrained to RV with backtracking;
    # the preceded-by test for group (a) sits outside the limit), only
    # if steps 1-2 removed nothing
    if not step1_changed and not step2_changed:
        suf = _longest_in(word, rv, _RO_S3_A + _RO_S3_B)
        if suf is not None:
            L = len(word) - len(suf)
            if suf in _RO_S3_B:
                word = word[:L]
            else:
                # the preceded-by test runs inside the RV limit: the
                # consonant-or-u must itself sit in RV
                pre = word[L - 1] if L > 0 else ""
                if pre and L - 1 >= rv and \
                        (pre not in _RO_VOWELS or pre == "u"):
                    word = word[:L]

    # step 4: residual final vowel (longest match, then RV branch test)
    suf = _longest_suffix(word, "a", "e", "i", "ie", "ă")
    if suf is not None and len(word) - len(suf) >= rv:
        word = word[: -len(suf)]

    return word.replace("I", "i").replace("U", "u")


# ===========================================================================
# Finnish — snowballstem.org/algorithms/finnish/stemmer.html
# ===========================================================================
#
# Semantics pinned by PG-snowball probing (tools/probe_snowball.py):
# suffix matches in steps 1-5 are limited to R1/R2 with backtracking
# (setlimit tomark p1 for [substring]), while each branch's CONTEXT test
# runs outside the limit; tidy's rules (a)-(d) run wholly inside R1
# (their context chars must lie in R1 too), and rule (e) — one of a
# double consonant followed by only vowels — is unlimited.

_FI_VOWELS = "aeiouyäö"
_FI_V2 = "aeiouäö"          # restricted vowels (no y)
_FI_LONG = ("aa", "ee", "ii", "oo", "uu", "ää", "öö")
_FI_CONS = "bcdfghjklmnpqrstvwxz"


def stem_finnish(word: str) -> str:
    if not word:
        return word
    r1, r2 = _r1_r2(word, _FI_VOWELS)
    ending_removed = False

    # --- step 1: particles -------------------------------------------------
    s = _longest_in(word, r1, (
        "kin", "kaan", "kään", "ko", "kö", "han", "hän", "pa", "pä", "sti"))
    if s == "sti":
        if len(word) - 3 >= r2:
            word = word[:-3]
    elif s is not None:
        prev = word[-len(s) - 1: -len(s)]
        if prev and prev in _FI_VOWELS + "nt":
            word = word[:-len(s)]

    # --- step 2: possessives ----------------------------------------------
    s = _longest_in(word, r1, (
        "si", "ni", "nsa", "nsä", "mme", "nne", "an", "än", "en"))
    if s == "si":
        if not word.endswith("ksi"):
            word = word[:-2]
    elif s == "ni":
        word = word[:-2]
        if word.endswith("kse"):
            word = word[:-1] + "i"
    elif s in ("nsa", "nsä", "mme", "nne"):
        word = word[:-3]
    elif s == "an":
        if word[:-2].endswith(("ta", "ssa", "sta", "lla", "lta", "na")):
            word = word[:-2]
    elif s == "än":
        if word[:-2].endswith(("tä", "ssä", "stä", "llä", "ltä", "nä")):
            word = word[:-2]
    elif s == "en":
        if word[:-2].endswith(("lle", "ine")):
            word = word[:-2]

    # --- step 3: cases -----------------------------------------------------
    # Among model (pinned by probing): 'siin/den/tten' (preceded by a
    # restricted vowel + i), 'seen' (preceded by a long vowel) and 'a/ä'
    # (preceded by consonant+vowel) carry their conditions as among TEST
    # ROUTINES — on failure the substring search falls back to shorter
    # in-region entries (tadenden -> the 'n' branch).  The hXn and
    # tta/ttä conditions are BRANCH commands — their failure fails the
    # whole step with no fallback (talohin, kattta stay).  All context
    # tests look outside the region limit; matches must lie in R1.
    _HXN = {"han": "a", "hen": "e", "hin": "i", "hon": "o",
            "hän": "ä", "hön": "ö"}   # no 'hun'/'hyn' (probed)
    _CASES = ("han", "hen", "hin", "hon", "hän", "hön",
              "siin", "den", "tten", "seen", "tta", "ttä",
              "ta", "tä", "ssa", "ssä", "sta", "stä", "lla", "llä",
              "lta", "ltä", "lle", "na", "nä", "ksi", "ine",
              "a", "ä", "n")
    cands = list(_CASES)
    while True:
        s = _longest_in(word, r1, cands)
        if s is None:
            break
        if s in ("siin", "den", "tten"):
            base = word[:-len(s)]
            if base[-1:] == "i" and base[-2:-1] in _FI_V2:
                word = base
                ending_removed = True
                break
            cands.remove(s)         # test routine failed: search resumes
            continue
        if s == "seen":
            if word[:-4].endswith(_FI_LONG):
                word = word[:-4]
                ending_removed = True
                break
            cands.remove(s)
            continue
        if s in ("a", "ä"):
            base = word[:-1]
            if base[-1:] in _FI_VOWELS and base[-2:-1] in _FI_CONS:
                word = base
                ending_removed = True
            break                   # no shorter entry can match anyway
        if s in _HXN:               # branch condition: no fallback
            if word[:-3].endswith(_HXN[s]):
                word = word[:-3]
                ending_removed = True
            break
        if s in ("tta", "ttä"):     # branch condition: no fallback
            if word[:-3].endswith("e"):
                word = word[:-3]
                ending_removed = True
            break
        if s == "n":
            word = word[:-1]
            ending_removed = True
            if word.endswith(_FI_LONG) or word.endswith("ie"):
                word = word[:-1]
            break
        word = word[:-len(s)]       # unconditional case endings
        ending_removed = True
        break

    # --- step 4: other endings (R2) ----------------------------------------
    s = _longest_in(word, r2, (
        "mpi", "mpa", "mpä", "mmi", "mma", "mmä",
        "impi", "impa", "impä", "immi", "imma", "immä", "eja", "ejä"))
    if s in ("mpi", "mpa", "mpä", "mmi", "mma", "mmä"):
        if not word[:-3].endswith("po"):
            word = word[:-3]
    elif s is not None:
        word = word[:-len(s)]

    # --- step 5: plurals ---------------------------------------------------
    if ending_removed:
        if word[-1:] in ("i", "j") and len(word) - 1 >= r1:
            word = word[:-1]
    else:
        if (word.endswith("t") and len(word) - 1 >= r1
                and word[-2:-1] in _FI_VOWELS):
            word = word[:-1]
            s = _longest_in(word, r2, ("mma", "imma"))
            if s == "imma":
                word = word[:-4]
            elif s == "mma" and not word[:-3].endswith("po"):
                word = word[:-3]

    # --- step 6: tidy ------------------------------------------------------
    # (a)-(d) wholly inside R1: the context char must be >= r1 as well
    if word.endswith(_FI_LONG) and len(word) - 2 >= r1:
        word = word[:-1]
    if len(word) >= 2 and word[-1] in "aäei" and word[-2] in _FI_CONS             and len(word) - 2 >= r1:
        word = word[:-1]
    if word.endswith(("oj", "uj")) and len(word) - 2 >= r1:
        word = word[:-1]
    if word.endswith("jo") and len(word) - 2 >= r1:
        word = word[:-1]
    # (e) unlimited: one of a double consonant followed by only vowels
    i = len(word) - 1
    while i >= 0 and word[i] in _FI_VOWELS:
        i -= 1
    if i >= 1 and word[i] in _FI_CONS and word[i - 1] == word[i]:
        word = word[:i] + word[i + 1:]
    return word

# ---------------------------------------------------------------------------
# Greek — snowballstem.org/algorithms/greek/stemmer.html (Ntais/Saroukos)
# Suffix inventories recovered behaviorally from the official stemmer
# (tools/extract_amongs.py over the container's PostgreSQL snowball build);
# rule semantics pinned word-by-word via ts_lexize probing (CLAUDE.md).
# ---------------------------------------------------------------------------

_EL_S1_SUF = ('ιζουμε', 'ιζουνε', 'ιζεισ', 'ιζατε', 'ιζετε', 'ιζαμε',
    'ιζανε', 'ιζουν', 'ιζεσ', 'ιζει', 'ιζαν', 'ιζω', 'ιζα', 'ιζε')

_EL_S2_SUF = ('ωθηκατε', 'ωθηκαμε', 'ωθηκανε', 'ωθηκεσ', 'ωθηκαν',
    'ωθηκα', 'ωθηκε')

_EL_S3_SUF = ('ισατε', 'ισαμε', 'ισανε', 'ισεσ', 'ισαν', 'ισα', 'ισε')

_EL_S4_SUF = ('ισουμε', 'ισουνε', 'ισεισ', 'ισετε', 'ισουν', 'ισει',
    'ισω')

_EL_S5_SUF = ('ιστουσ', 'ιστεσ', 'ιστησ', 'ιστοσ', 'ιστου', 'ιστοι',
    'ιστων', 'ιστα', 'ιστε', 'ιστη', 'ιστο')

_EL_S6_SUF = ('ισμουσ', 'ισμοσ', 'ισμου', 'ισμοι', 'ισμων', 'ισμο')

_EL_S7_SUF = ('ουδακια', 'αρακια', 'ουδακι', 'αρακι')

_EL_S8_SUF = ('αρακια', 'ιτσασ', 'ιτσεσ', 'αρακι', 'ιτσων', 'ιτσα',
    'ακια', 'ακι')

_EL_S9_SUF = ('ιδιων', 'ιδια', 'ιδιο')

_EL_S10_SUF = ('ισκοσ', 'ισκου', 'ισκε', 'ισκο')

_EL_S1_I = ('πα', 'ξαναπα', 'επα', 'περιπα', 'αναμπα', 'εμπα', 'δανε',
    'αθρο', 'συναθρο')

_EL_S1_IZ = ('π', 'ιμπ', 'ρ', 'πρ', 'μπρ', 'αρρ', 'γλυκυρ', 'πολυρ',
    'αμπαρ', 'μαρ', 'γκρ', 'πιπερορ', 'βολβορ', 'γλυκορ', 'λου', 'β',
    'βαθυρι', 'βαρκ', 'μαρκ', 'λ', 'μ', 'κορν')

_EL_S2_EX = ('σ', 'χ', 'υψ', 'ζω', 'βι', 'λι', 'αλ', 'εν')

_EL_S3_I = ('ξαναπα', 'επα', 'περιπα', 'αναμπα', 'εμπα', 'χαρτοπα',
    'εξαρχα', 'πε', 'επε', 'μετεπε', 'εσε', 'κλε', 'εσωκλε', 'εκλε',
    'απεκλε', 'αποκλε', 'δανε', 'αθρο', 'συναθρο')

_EL_S3_IS = ('π', 'λαρ', 'δημοκρατ', 'αφ', 'γιγαντοαφ', 'γε', 'γκε',
    'γκ', 'μ', 'πουκαμ', 'κομ', 'αν', 'ολο')

_EL_S4_I = ('ξαναπα', 'επα', 'περιπα', 'αναμπα', 'εμπα', 'χαρτοπα',
    'εξαρχα', 'πε', 'επε', 'μετεπε', 'εσε', 'κλε', 'εσωκλε', 'εκλε',
    'απεκλε', 'αποκλε', 'δανε', 'αθρο', 'συναθρο')

_EL_S5_I = ('σε', 'ασε', 'πλε', 'κλε', 'εσωκλε', 'δανε', 'συναθρο')

_EL_S5_IST = ('π', 'ευπ', 'απ', 'εμπ', 'γυρ', 'χρ', 'χωρ', 'αρ', 'αορ',
    'χτ', 'αχτ', 'κτ', 'ακτ', 'σχ', 'ασχ', 'ταχ', 'υψ', 'ατα', 'φα',
    'ηφα', 'λυγ', 'μεγ', 'ηδ', 'εχθ', 'καθ', 'σκ', 'κακ', 'μακ', 'κυλ',
    'φιλ', 'μ', 'γεμ', 'αχν')

_EL_S6_ISM = ('σε', 'μετασε', 'μικροσε', 'εγκλε', 'αποκλε')

_EL_S6_I = ('δανε', 'αντιδανε')

_EL_S7_EX = ('σ', 'χ')

_EL_S8_AK = ('κατραπ', 'ρ', 'βρ', 'λαβρ', 'αμβρ', 'μερ', 'ανθρ', 'κορ',
    'σ', 'ναγκασ', 'μουστ', 'ρυ', 'φ', 'σφ', 'αλισφ', 'χ', 'βαμβ',
    'σλοβ', 'τσεχοσλοβ', 'τζ', 'κ', 'σκ', 'καπακ', 'σοκ', 'πλ', 'φυλ',
    'λουλ', 'μαλ', 'φαρμ', 'καιμ', 'κλιμ', 'σπαν', 'κον')

_EL_S8_ITS = ('π', 'πατερ', 'τοσ', 'νυφ', 'β', 'καρδ', 'ζ', 'βαλ', 'γλ',
    'τριπολ', 'μακρυν', 'γιαν', 'ηγουμεν')

_EL_S9_EX = ('ιρ', 'ψαλ', 'αιφν', 'ολο')

_EL_S9_END = ('ε', 'παιχν')

_EL_S10_EX = ('ρ', 'ιβ', 'δ', 'λυκ', 'φραγκ', 'οβελ', 'μην')

_EL_2A_SUF = ('αδεσ', 'αδων')

_EL_2A_NOT = ('μπαμπ', 'πατερ', 'πεθερ', 'νταντ', 'γιαγι', 'κυρ', 'θει',
    'μαμ', 'μαν', 'οκ')

_EL_2B_SUF = ('εδεσ', 'εδων')

_EL_2B_END = ('κρασπ', 'δαπ', 'γηπ', 'εμπ', 'μιλ', 'υπ', 'ιπ', 'οπ')

_EL_2C_SUF = ('ουδεσ', 'ουδων')

_EL_2C_END = ('καλιακ', 'πεταλ', 'τραγ', 'λουλ', 'πλεξ', 'λιχ', 'αρκ',
    'βελ', 'σπ', 'φρ', 'φε', 'σκ', 'φλ', 'χν', 'σ')

_EL_2D_SUF = ('εωσ', 'εων')

_EL_2D_EX = ('π', 'παρ', 'δ', 'ιδ', 'θ', 'γαλ', 'ελ', 'ν')

_EL_3_SUF = ('ιου', 'ιων', 'ια')

_EL_4_SUF = ('ικου', 'ικων', 'ικα', 'ικο')

_EL_4_EX = ('καλπ', 'γερ', 'πλιατσ', 'πετσ', 'πιτσ', 'φυσ', 'χασ',
    'μποσ', 'σερτ', 'μπαγιατ', 'νιτ', 'πικαντ', 'εξωδ', 'αδ', 'καταδ',
    'συναδ', 'αντιδ', 'ενδ', 'υποδ', 'πρωτοδ', 'φυλοδ', 'ηθ', 'ανηθ',
    'ξικ', 'μουλ', 'αλ', 'αμμοχαλ', 'συνομηλ', 'μπολ', 'βρωμ', 'τσαμ',
    'μπαν', 'αμαν', 'καλλιν', 'ποστελν', 'φιλον')

_EL_5A_SUF = ('ηθηκαμε', 'ουσαμε', 'ησαμε', 'αγαμε', 'ηκαμε')

_EL_5A_EX = ('αναπ', 'πικρ', 'αποστ', 'ποτ', 'χ', 'σιχ', 'βουβ', 'πεθ',
    'ξεθ', 'αποθ', 'αποκ', 'ουλ')

_EL_5B_SUF = ('ιουντανε', 'ουντανε', 'ιοντανε', 'ηθηκανε', 'ουσανε',
    'οντανε', 'ιοτανε', 'ησανε', 'οτανε', 'αγανε', 'ηκανε')

_EL_5B_EX = ('π', 'σπ', 'πολυδαπ', 'αδαπ', 'χαμηλοδαπ', 'τσοπ', 'κοπ',
    'υποκοπ', 'περιτρ', 'ουρ', 'ερ', 'βετερ', 'γερ', 'λουθηρ', 'κορμορ',
    'σ', 'σαρακατσ', 'θυσ', 'βασ', 'πολισ', 'καστ', 'διατ', 'πλατ',
    'τσαρλατ', 'τετ', 'πουριτ', 'σουλτ', 'ζωντ', 'μαιντ', 'φ',
    'πενταρφ', 'κοιλαρφ', 'ορφ', 'διαφ', 'στεφ', 'φωτοστεφ', 'περηφ',
    'υπερηφ', 'χ', 'πολυμηχ', 'αμηχ', 'βιομηχ', 'μικροβιομηχ',
    'μεγλοβιομηχ', 'καπνοβιομηχ', 'λιχ', 'ταβ', 'νταβ', 'ψηλοταβ',
    'λιβ', 'κλιβ', 'ξηροκλιβ', 'γ', 'ανοργ', 'ενοργ', 'αγ', 'τραγ',
    'τσαγ', 'τσιγγ', 'ατσιγγ', 'αθιγγ', 'στεγ', 'απηγ', 'σιγ',
    'καλπουζ', 'θ', 'μωαμεθ', 'πιθ', 'απιθ', 'βασκ', 'βραχυκ', 'δεκ',
    'πελεκ', 'ικ', 'ανικ', 'βουλκ', 'πλ', 'διπλ', 'ψυχοπλ', 'λαοπλ',
    'ουλ', 'γαλ', 'βαθυγαλ', 'καταγαλ', 'ολογαλ', 'καστελ', 'μελ',
    'πορτολ', 'μ', 'δραδουμ', 'βραχμ', 'ολιγοδαμ', 'μουσουλμ', 'ν',
    'αμερικαν')

_EL_5C_END = ('υπερθ', 'συνδ', 'διαθ', 'συνθ', 'ωφελ', 'πυρ', 'ευρ',
    'χωρ', 'βαρ', 'αιρ', 'φορ', 'νετ', 'ενδ', 'ευθ', 'ραθ', 'ταθ',
    'καθ', 'τιθ', 'εκθ', 'ενθ', 'ροθ', 'αρκ', 'βολ', 'συν', 'αιν',
    'πον', 'ρον', 'βρ', 'σχ', 'οδ', 'σθ')

_EL_5C_EX = ('σερπ', 'κοπ', 'θαρρ', 'ντρ', 'αβαρ', 'εναρ', 'αβρ',
    'μπορ', 'υ', 'συρφ', 'νιφ', 'παγ', 'δ', 'αδ', 'θ', 'αθ', 'σκ',
    'τοκ', 'απλ', 'παρακαλ', 'σκελ', 'εμ', 'αν', 'βεν', 'βαρον')

_EL_5F_EX = ('π', 'απ', 'ακαταπ', 'συμπ', 'ασυμπ', 'αμεταμφ')

_EL_5F2_EX = ('αρ', 'νισ', 'ζ', 'αλ', 'παρακαλ', 'εκτελ', 'μ', 'ξ',
    'προ')

_EL_5G1_SUF = ('ηθηκεσ', 'ηθηκα', 'ηθηκε')

_EL_5G2_SUF = ('ηκεσ', 'ηκα', 'ηκε')

_EL_5G_EX = ('θ', 'προσθ', 'παρακαταθ', 'διαθ', 'συνθ')

_EL_5G_END = ('σκουλ', 'ναρθ', 'σκωλ', 'πιθ', 'σφ', 'οθ')

_EL_5H_SUF = ('ουσεσ', 'ουσα', 'ουσε')

_EL_5H_EX = ('εκλιπ', 'ρ', 'αναρρ', 'ενδιαφερ', 'πατ', 'καθαρευ',
    'δευτερευ', 'λεχ', 'τσα', 'χαδ', 'μεδ', 'λαμπιδ', 'δε', 'πλε',
    'μεσαζ', 'δεσποζ', 'αιθ', 'φαρμακ', 'αγκ', 'ανηκ', 'λ', 'μ', 'αμ',
    'βρομ', 'υποτειν')

_EL_5H_END = ('πανταχ', 'μαντιλ', 'ποδαρ', 'κυματ', 'βλεπ', 'πρωτ',
    'φρυδ', 'μαλλ', 'λαχ', 'φαγ', 'ληγ', 'ομ')

_EL_5I_SUF = ('αγεσ', 'αγα', 'αγε')

_EL_5I_EX = ('π', 'ασπ', 'ανυπ', 'αρτιπ', 'αειπ', 'συμπ', 'προσωποπ',
    'σιδηροπ', 'δροσοπ', 'νεοπ', 'κροκαλοπ', 'ολοπ', 'ρ', 'τρ', 'ουρ',
    'ασπαρ', 'χαρ', 'αχαρ', 'απερ', 'τ', 'ανυστ', 'αβαστ', 'προστ',
    'αιμοστ', 'διατ', 'επιτ', 'συντ', 'υποτ', 'αποτ', 'ομοτ', 'νομοτ',
    'ναυ', 'πολυφ', 'αφ', 'ξεφ', 'αδηφ', 'παμφ', 'αμαλλι', 'λ', 'αμαλ',
    'μ', 'ουλαμ', 'εν', 'δερβεν')

_EL_5J_SUF = ('ησου', 'ησα', 'ησε')

_EL_5J_EX = ('ν', 'επταν', 'δωδεκαν', 'χερσον', 'μεγαλον', 'ερημον')

_EL_5K_EX = ('χρ', 'δυσχρ', 'ευχρ', 'αχρ', 'κοινοχρ', 'παλιμψ', 'σβ',
    'ασβ', 'απλ', 'αειμν')

_EL_5L_SUF = ('ησουνε', 'ηθουνε', 'ουνε')

_EL_5L_EX = ('ρ', 'στραβομουτσ', 'κακομουτσ', 'σπι', 'ν', 'εξων')

_EL_5M_SUF = ('ησουμε', 'ηθουμε', 'ουμε')

_EL_5M_EX = ('ασουσ', 'παρασουσ', 'αλλοσουσ', 'φ', 'χ', 'αζ', 'ωριοπλ')

_EL_6A_SUF = ('ματοσ', 'ματων', 'ματα')

_EL_6B_SUF = ('ιοντουσαν', 'ιουμαστε', 'οντουσαν', 'ιοσασταν',
    'ιομασταν', 'ιοσουνα', 'ιομουνα', 'ιεσαστε', 'ιοσαστε', 'ουμαστε',
    'ιεμαστε', 'ηθηκατε', 'ιουνται', 'οσασταν', 'ομασταν', 'ιουνταν',
    'οσουνα', 'ομουνα', 'οσαστε', 'ουσατε', 'ηθειτε', 'ουνται',
    'ιοσουν', 'ιομουν', 'ουνταν', 'ιονταν', 'ηθηκαν', 'ηθεισ', 'ιουμα',
    'ησατε', 'αγατε', 'ηκατε', 'ιεσαι', 'ιεται', 'ονται', 'ουμαι',
    'ιεμαι', 'ησουν', 'οσουν', 'ηθουν', 'ομουν', 'ουσαν', 'ονταν',
    'ιοταν', 'ησεσ', 'ηδεσ', 'ειτε', 'ασαι', 'εσαι', 'αται', 'εται',
    'αμαι', 'ομαι', 'ησει', 'ηθει', 'ηδων', 'ησαν', 'οταν', 'αγαν',
    'ηκαν', 'ουσ', 'εισ', 'ησω', 'ηθω', 'αει', 'ουν', 'υσ', 'ασ', 'εσ',
    'ησ', 'οσ', 'ου', 'αω', 'ει', 'οι', 'ων', 'αν', 'υ', 'ω', 'α', 'ε',
    'η', 'ι', 'ο')

_EL_7_SUF = ('εστερ', 'εστατ', 'υτερ', 'ωτερ', 'οτερ', 'υτατ', 'ωτατ',
    'οτατ')

_EL_5I_END = ('χορτ', 'σμην', 'λοχ', 'πελ', 'ρπ', 'πρ', 'φρ', 'σφ',
    'οφ', 'λλ')

_EL_5I_NEG = ('ναυλοχ', 'ψοφ')

_EL_STEP1 = (('καθεστωτοσ', 'καθεστ'), ('καθεστωτων', 'καθεστ'),
    ('γεγονοτοσ', 'γεγον'), ('καθεστωτα', 'καθεστ'), ('γεγονοτων',
    'γεγον'), ('καθεστωσ', 'καθεστ'), ('τατογιου', 'τατο'), ('γεγονοτα',
    'γεγον'), ('τατογιων', 'τατο'), ('περατοσ', 'περ'), ('τερατοσ',
    'τερ'), ('κρεατοσ', 'κρε'), ('γεγονοσ', 'γεγον'), ('σκαγιου',
    'σκα'), ('ολογιου', 'ολο'), ('τατογια', 'τατο'), ('περατων', 'περ'),
    ('τερατων', 'τερ'), ('κρεατων', 'κρε'), ('σκαγιων', 'σκα'),
    ('ολογιων', 'ολο'), ('φαγιου', 'φα'), ('σογιου', 'σο'), ('περατα',
    'περ'), ('τερατα', 'τερ'), ('κρεατα', 'κρε'), ('σκαγια', 'σκα'),
    ('ολογια', 'ολο'), ('περατη', 'περ'), ('φαγιων', 'φα'), ('σογιων',
    'σο'), ('περασ', 'περ'), ('τερασ', 'τερ'), ('κρεασ', 'κρε'),
    ('φωτοσ', 'φω'), ('φαγια', 'φα'), ('σογια', 'σο'), ('φωτων', 'φω'),
    ('φωτα', 'φω'), ('φωσ', 'φω'))

_EL_S6_IK = (('αλεξανδριν', 'αλεξανδρ'), ('αγνωστικ', 'αγνωστ'),
    ('εκλεκτικ', 'εκλεκτ'), ('βυζαντιν', 'βυζαντ'), ('σκεπτικ',
    'σκεπτ'), ('γνωστικ', 'γνωστ'), ('θεατριν', 'θεατρ'), ('ατομικ',
    'ατομ'), ('τοπικ', 'τοπ'), ('εθνικ', 'εθν'))


# Greek tolower: the algorithm's own prelude (uppercase + tonos/dialytika
# folding, final sigma).  NOTE the pinned quirk: ϊ and ΐ fold to η (not ι)
# in the official implementation's table, while Ϊ folds to ι — verified
# against the embedded official stemmer (γκρϊνια -> γκρην).
_EL_TOLOWER = str.maketrans({
    "Ά": "α", "Έ": "ε", "Ή": "η", "Ί": "ι", "Ό": "ο", "Ύ": "υ", "Ώ": "ω",
    "ά": "α", "έ": "ε", "ή": "η", "ί": "ι", "ό": "ο", "ύ": "υ", "ώ": "ω",
    "ϊ": "η", "ΐ": "η", "Ϊ": "ι", "ϋ": "υ", "ΰ": "υ", "Ϋ": "υ", "ς": "σ",
    "Α": "α", "Β": "β", "Γ": "γ", "Δ": "δ", "Ε": "ε", "Ζ": "ζ", "Η": "η",
    "Θ": "θ", "Ι": "ι", "Κ": "κ", "Λ": "λ", "Μ": "μ", "Ν": "ν", "Ξ": "ξ",
    "Ο": "ο", "Π": "π", "Ρ": "ρ", "Σ": "σ", "Τ": "τ", "Υ": "υ", "Φ": "φ",
    "Χ": "χ", "Ψ": "ψ", "Ω": "ω",
})

_EL_V = "αεηιουω"    # v: full vowel set (steps 3/4 "ends in vowel")
_EL_V2 = "αεηιοω"    # v2: vowels except υ (steps 5b/5c; probed βυανε/βυετε)


def _el_ends(word: str, sufs) -> str | None:
    """Longest entry of `sufs` (pre-sorted longest-first) ending `word`."""
    for s in sufs:
        if word.endswith(s):
            return s
    return None


def stem_greek(word: str) -> str:
    """Greek — the official Snowball algorithm (Ntais 2006 + the Saroukos
    extension; snowballstem.org/algorithms/greek/stemmer.html).  The
    reference ships it via rust-stemmers (src/tokenizer/stemmer.rs:30-60,
    Language::Greek).

    Re-derived black-box against the official implementation embedded in
    the container's PostgreSQL (CLAUDE.md snowball-oracle recipe): the
    per-rule suffix inventories come from behavioral study of the same
    stemmer (tools/extract_amongs.py), and every rule's mode
    (whole-stem vs ends-with), replacement, and the control-flow quirks
    were pinned by probe (tools/probe_snowball.py):

    * every successful suffix REMOVAL in steps 1/s1-s10/2d/3/4/5a-5m
      disables the final ending-removal sweep (step 6b) — steps 2a/2b/2c
      and the μα-contraction (6a) do NOT;
    * steps 5b/5c carry a doubled insertion when the letter before the
      matched v2-vowel/ending-class completes an exact-list stem
      (θα+ανε -> θαναν, θπυρ+ετε -> θετετ) — no other step does;
    * words stemmed to empty come back verbatim (ισα -> ισα), and words
      shorter than 3 letters only pass through the case folding.
    """
    original = word
    w = word.translate(_EL_TOLOWER)
    if len(w) < 3:
        return w
    test1 = True

    # step 1: irregular noun paradigms (ends-with, fixed replacements)
    s = _el_ends(w, tuple(e for e, _ in _EL_STEP1))
    if s is not None:
        repl = dict(_EL_STEP1)[s]
        w = w[: -len(s)] + repl
        test1 = False

    # steps S1-S10: derivational families, each = remove + exact add-backs
    s = _el_ends(w, _EL_S1_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w in _EL_S1_I:
            w += "ι"
        elif w in _EL_S1_IZ:
            w += "ιζ"
    s = _el_ends(w, _EL_S2_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w in _EL_S2_EX:
            w += "ων"
    s = _el_ends(w, _EL_S3_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w in _EL_S3_I:
            w += "ι"
        elif w in _EL_S3_IS:
            w += "ισ"
    s = _el_ends(w, _EL_S4_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w in _EL_S4_I:
            w += "ι"
    s = _el_ends(w, _EL_S5_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w in _EL_S5_I:
            w += "ι"
        elif w in _EL_S5_IST:
            w += "ιστ"
    s = _el_ends(w, _EL_S6_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w in _EL_S6_ISM:
            w += "ισμ"
        elif w in _EL_S6_I:
            w += "ι"
        else:
            e = _el_ends(w, tuple(x for x, _ in _EL_S6_IK))
            if e:
                w = w[: -len(e)] + dict(_EL_S6_IK)[e]
    s = _el_ends(w, _EL_S7_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w in _EL_S7_EX:
            w += "αρακ"
    s = _el_ends(w, _EL_S8_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w in _EL_S8_AK:
            w += "ακ"
        elif w in _EL_S8_ITS:
            w += "ιτσ"
        elif w.endswith("κορ"):
            w += "ιτσ"
    s = _el_ends(w, _EL_S9_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w in _EL_S9_EX:
            w += "ιδ"
        elif _el_ends(w, _EL_S9_END):
            w += "ιδ"
    s = _el_ends(w, _EL_S10_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w in _EL_S10_EX:
            w += "ισκ"

    # steps 2a-2d: plural/genitive contractions
    s = _el_ends(w, _EL_2A_SUF)
    if s:  # does NOT touch test1 (probed: γιαγιαδεσ, θειαδεσ)
        w = w[: -len(s)]
        if not _el_ends(w, _EL_2A_NOT):
            w += "αδ"
    s = _el_ends(w, _EL_2B_SUF)
    if s:  # does NOT touch test1
        w = w[: -len(s)]
        if _el_ends(w, _EL_2B_END):
            w += "εδ"
    s = _el_ends(w, _EL_2C_SUF)
    if s:  # does NOT touch test1
        w = w[: -len(s)]
        if _el_ends(w, _EL_2C_END):
            w += "ουδ"
    s = _el_ends(w, _EL_2D_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w in _EL_2D_EX:
            w += "ε"

    # step 3: -ια/-ιου/-ιων; keep the ι after a vowel stem
    s = _el_ends(w, _EL_3_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w and w[-1] in _EL_V:
            w += "ι"

    # step 4: -ικα/-ικο/-ικου/-ικων
    s = _el_ends(w, _EL_4_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if (w and w[-1] in _EL_V) or w in _EL_4_EX:
            w += "ικ"

    # step 5a: past tense -αμε family
    if w == "αγαμε":
        w = "αγαμ"
        test1 = False
    else:
        s = _el_ends(w, _EL_5A_SUF)
        if s:  # compound forms: plain removal (probed: αναπηκαμε)
            w = w[: -len(s)]
            test1 = False
        if w.endswith("αμε"):
            w = w[:-3]
            test1 = False
            if w in _EL_5A_EX:
                w += "αμ"

    # step 5b: -ανε family
    s = _el_ends(w, _EL_5B_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w in ("τρ", "τσ"):
            w += "αγαν"
    if w.endswith("ανε"):
        w = w[:-3]
        test1 = False
        if w and w[-1] in _EL_V2:
            # doubled insertion when the pre-vowel stem is an exact-list
            # member (probed: θαανε -> θαναν, σαρακατσαανε -> σαρακατσαναν)
            if w[:-1] in _EL_5B_EX:
                w = w[:-1] + "αναν"
            else:
                w += "αν"
        elif w in _EL_5B_EX:
            w += "αν"

    # step 5c: -ετε family
    if w.endswith("ησετε"):
        w = w[:-5]
        test1 = False
    if w.endswith("ετε"):
        w = w[:-3]
        test1 = False
        m = w[-1] if (w and w[-1] in _EL_V2) else _el_ends(w, _EL_5C_END)
        if m:
            # same doubled insertion as 5b (θπυρετε -> θετετ,
            # θαρραετε -> θαρρετετ); plain append otherwise
            if w[: -len(m)] in _EL_5C_EX:
                w = w[: -len(m)] + "ετετ"
            else:
                w += "ετ"
        elif w in _EL_5C_EX:
            w += "ετ"

    # step 5d: participles -οντασ/-ωντασ
    s = _el_ends(w, ("ωντασ", "οντασ"))
    if s:
        w = w[: -len(s)]
        test1 = False
        if w == "αρχ":
            w += "οντ"
        elif w.endswith("κρε"):
            w += "ωντ"

    # step 5e: -ομαστε/-ιομαστε
    s = _el_ends(w, ("ιομαστε", "ομαστε"))
    if s:
        w = w[: -len(s)]
        test1 = False
        if w == "ον":
            w += "ομαστ"

    # step 5f: -ιεστε / -εστε
    if w.endswith("ιεστε"):
        w = w[:-5]
        test1 = False
        if w in _EL_5F_EX:
            w += "ιεστ"
    if w.endswith("εστε"):
        w = w[:-4]
        test1 = False
        if w in _EL_5F2_EX:
            w += "ιεστ"

    # step 5g: passive past -ηθηκα / -ηκα families
    s = _el_ends(w, _EL_5G1_SUF)
    if s:  # -ηθηκ* forms: plain removal (probed: σφηθηκα)
        w = w[: -len(s)]
        test1 = False
    s = _el_ends(w, _EL_5G2_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w in _EL_5G_EX or _el_ends(w, _EL_5G_END):
            w += "ηκ"

    # step 5h: imperfect -ουσα family
    s = _el_ends(w, _EL_5H_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w in _EL_5H_EX or _el_ends(w, _EL_5H_END):
            w += "ουσ"

    # step 5j: -ησα/-ησου/-ησε
    s = _el_ends(w, _EL_5J_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w in _EL_5J_EX:
            w += "ησ"

    # step 5i: -αγα family (with ends-with negatives ψοφ/ναυλοχ)
    s = _el_ends(w, _EL_5I_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w in _EL_5I_EX:
            w += "αγ"
        elif _el_ends(w, _EL_5I_END) and not _el_ends(w, _EL_5I_NEG):
            w += "αγ"

    # step 5k: -ηστε
    if w.endswith("ηστε"):
        w = w[:-4]
        test1 = False
        if w in _EL_5K_EX:
            w += "ηστ"

    # step 5l: -ουνε family
    s = _el_ends(w, _EL_5L_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w in _EL_5L_EX:
            w += "ουν"

    # step 5m: -ουμε family
    s = _el_ends(w, _EL_5M_SUF)
    if s:
        w = w[: -len(s)]
        test1 = False
        if w in _EL_5M_EX:
            w += "ουμ"

    # step 6a: -ματα/-ματων/-ματοσ contract to -μα (leaves test1 alone)
    s = _el_ends(w, _EL_6A_SUF)
    if s:
        w = w[: -len(s)] + "μα"

    # step 6b: the big inflectional-ending sweep — only when NO earlier
    # removal fired
    if test1:
        s = _el_ends(w, _EL_6B_SUF)
        if s:
            w = w[: -len(s)]

    # step 7: comparatives/superlatives
    s = _el_ends(w, _EL_7_SUF)
    if s:
        w = w[: -len(s)]

    return w if w else original


# ---------------------------------------------------------------------------
# Arabic — snowballstem.org/algorithms/arabic/stemmer.html (Assem Chelli)
# Normalization/prefix/suffix inventories recovered behaviorally from the
# official stemmer (tools/extract_amongs.py); control flow (repeat-Step1
# terminal verb branch, noun try-chain with persisted partial deletions,
# cursor-carrying prefix chain) pinned via ts_lexize probing (CLAUDE.md).
# ---------------------------------------------------------------------------

# (tools/extract_amongs.py); control flow pinned via ts_lexize probing.

_AR_TASHKEEL = "ـًٌٍَُِّْ"
_AR_DIGITS = {chr(0x660 + i): str(i) for i in range(10)}
_AR_FORMS = {}
for _base, _codes in (
    ("ء", (0xFE80,)), ("أ", (0xFE83, 0xFE84)), ("إ", (0xFE87, 0xFE88)),
    ("ئ", (0xFE89, 0xFE8A, 0xFE8B, 0xFE8C)), ("آ", (0xFE81, 0xFE82)),
    ("ؤ", (0xFE85, 0xFE86)), ("ا", (0xFE8D, 0xFE8E)),
    ("ب", (0xFE8F, 0xFE90, 0xFE91, 0xFE92)), ("ة", (0xFE93, 0xFE94)),
    ("ت", (0xFE95, 0xFE96, 0xFE97, 0xFE98)),
    ("ث", (0xFE99, 0xFE9A, 0xFE9B, 0xFE9C)),
    ("ج", (0xFE9D, 0xFE9E, 0xFE9F, 0xFEA0)),
    ("ح", (0xFEA1, 0xFEA2, 0xFEA3, 0xFEA4)),
    ("خ", (0xFEA5, 0xFEA6, 0xFEA7, 0xFEA8)),
    ("د", (0xFEA9, 0xFEAA)), ("ذ", (0xFEAB, 0xFEAC)),
    ("ر", (0xFEAD, 0xFEAE)), ("ز", (0xFEAF, 0xFEB0)),
    ("س", (0xFEB1, 0xFEB2, 0xFEB3, 0xFEB4)),
    ("ش", (0xFEB5, 0xFEB6, 0xFEB7, 0xFEB8)),
    ("ص", (0xFEB9, 0xFEBA, 0xFEBB, 0xFEBC)),
    ("ض", (0xFEBD, 0xFEBE, 0xFEBF, 0xFEC0)),
    ("ط", (0xFEC1, 0xFEC2, 0xFEC3, 0xFEC4)),
    ("ظ", (0xFEC5, 0xFEC6, 0xFEC7, 0xFEC8)),
    ("ع", (0xFEC9, 0xFECA, 0xFECB, 0xFECC)),
    ("غ", (0xFECD, 0xFECE, 0xFECF, 0xFED0)),
    ("ف", (0xFED1, 0xFED2, 0xFED3, 0xFED4)),
    ("ق", (0xFED5, 0xFED6, 0xFED7, 0xFED8)),
    ("ك", (0xFED9, 0xFEDA, 0xFEDB, 0xFEDC)),
    ("ل", (0xFEDD, 0xFEDE, 0xFEDF, 0xFEE0)),
    ("م", (0xFEE1, 0xFEE2, 0xFEE3, 0xFEE4)),
    ("ن", (0xFEE5, 0xFEE6, 0xFEE7, 0xFEE8)),
    ("ه", (0xFEE9, 0xFEEA, 0xFEEB, 0xFEEC)),
    ("و", (0xFEED, 0xFEEE)), ("ى", (0xFEEF, 0xFEF0)),
    ("ي", (0xFEF1, 0xFEF2, 0xFEF3, 0xFEF4)),
    ("لا", (0xFEFB, 0xFEFC)), ("لأ", (0xFEF7, 0xFEF8)),
    ("لإ", (0xFEF9, 0xFEFA)), ("لآ", (0xFEF5, 0xFEF6)),
):
    for _c in _codes:
        _AR_FORMS[chr(_c)] = _base


def _ar_normalize_pre(w: str) -> str:
    out = []
    for c in w:
        if c in _AR_TASHKEEL:
            continue
        if c in _AR_DIGITS:
            out.append(_AR_DIGITS[c])
        elif c in _AR_FORMS:
            out.append(_AR_FORMS[c])
        else:
            out.append(c)
    return "".join(out)


def _ar_normalize_post(w: str) -> str:
    # final hamza carrier -> bare hamza, then medial carriers normalized
    if w and w[-1] in "آأؤإئ":
        w = w[:-1] + "ء"
    return (w.replace("آ", "ا").replace("أ", "ا").replace("إ", "ا")
             .replace("ؤ", "و").replace("ئ", "ي"))


def stem_arabic(word: str) -> str:
    """Arabic — the official Snowball algorithm (Assem Chelli's arabic.sbl,
    snowballstem.org/algorithms/arabic/stemmer.html); the reference ships
    it via rust-stemmers (src/tokenizer/stemmer.rs Language::Arabic).

    Control flow follows Snowball semantics exactly as probed: or-branches
    never roll back partial changes (a failed branch leaves its deletions
    in place and the next branch continues on the modified string), the
    noun branch fails as a whole when Suffix_Noun_Step3 fails, and the
    prefix chain carries the cursor — a Prefix_Step1 replacement advances
    it, so Step2/Step3 match after the replaced hamza (أأوكتاب -> اكتاب
    while أوكتاب keeps its waw)."""
    w = word
    is_noun = True
    is_verb = True
    is_defined = False

    # Checks1 (flags only, at word start, pre-normalization)
    if (w.startswith(("بال", "كال")) and len(w) > 4) or \
       (w.startswith(("ال", "لل")) and len(w) > 3):
        is_noun = True
        is_verb = False
        is_defined = True

    w = _ar_normalize_pre(w)

    # ---- suffix phase (backward; snowball no-rollback or-chain) ---------
    def _strip(w, pairs):
        for s, n in pairs:
            if w.endswith(s):
                return (w[: -len(s)], True) if len(w) >= n else (w, False)
        return w, False

    VERB1 = (("كمو", 6), ("كما", 6), ("هما", 6), ("ني", 5), ("نا", 5),
             ("ها", 5), ("هم", 5), ("هن", 5), ("كم", 5), ("كن", 5),
             ("ه", 4), ("ك", 4))
    VERB2A = (("تما", 6), ("ون", 6), ("ين", 6), ("ان", 6), ("تن", 5),
              ("نا", 5), ("تا", 5), ("ت", 4), ("ن", 4), ("ي", 4), ("ا", 4))
    VERB2B = (("وا", 5), ("تم", 5))
    VERB2C = (("تمو", 6), ("و", 4))
    NOUN1A = (("كما", 6), ("هما", 6), ("نا", 5), ("كم", 5), ("هم", 5),
              ("هن", 5), ("ها", 5), ("ي", 4), ("ك", 4), ("ه", 4))
    NOUN2A = (("ا", 5), ("ي", 5), ("و", 5))
    NOUN2B = (("ات", 5),)
    NOUN2C1 = (("ت", 4),)
    NOUN2C2 = (("ة", 4),)
    NOUN3 = (("ي", 3),)

    suffix_done = False
    if is_verb:
        engaged = False
        while True:
            w1, ok = _strip(w, VERB1)
            if not ok:
                break
            w = w1
            engaged = True
        if engaged:
            # verb branch is terminal once Step1 engaged (probed:
            # -ة / -ى words keep their ending after a Step1 removal)
            w2, ok2 = _strip(w, VERB2A)
            if not ok2:
                w2, ok2 = _strip(w, VERB2C)
            if ok2:
                w = w2
            suffix_done = True
        else:
            w2, ok = _strip(w, VERB2B)
            if not ok:
                w2, ok = _strip(w, VERB2A)
            if ok:
                w = w2
                suffix_done = True
    if not suffix_done and is_noun:
        # try( 2c2 or (¬def 1a (2a|2b|2c1|true)) or (1b (2a|2b|2c1))
        #      or (¬def 2a) or 2b )  then Step3 must succeed, else the
        # branch fails (changes kept) and alef_maqsura gets its shot
        w2, ok = _strip(w, NOUN2C2)
        if ok:
            w = w2
        else:
            in_try = False
            if not is_defined:
                w1, ok1 = _strip(w, NOUN1A)
                if ok1:
                    w = w1
                    in_try = True
                    for tbl in (NOUN2A, NOUN2B, NOUN2C1):
                        w2, ok2 = _strip(w, tbl)
                        if ok2:
                            w = w2
                            break
            if not in_try:
                w1, ok1 = _strip(w, (("ن", 6),))
                if ok1:
                    w = w1  # 1b's deletion persists even if the pair fails
                    for tbl in (NOUN2A, NOUN2B, NOUN2C1):
                        w2, ok2 = _strip(w, tbl)
                        if ok2:
                            w = w2
                            in_try = True
                            break
                if not in_try:
                    if not is_defined:
                        w2, ok = _strip(w, NOUN2A)
                        if ok:
                            w = w2
                            in_try = True
                    if not in_try:
                        w2, ok = _strip(w, NOUN2B)
                        if ok:
                            w = w2
        w2, ok3 = _strip(w, NOUN3)
        if ok3:
            w = w2
            suffix_done = True
    if not suffix_done:
        if w.endswith("ى"):
            w = w[:-1] + "ي"

    # ---- prefix phase (forward, cursor-carrying) ------------------------
    c = 0
    # Prefix_Step1 (try)
    for p, r in (("أأ", "أ"), ("أآ", "آ"), ("أؤ", "أ"), ("أا", "آ"),
                 ("أإ", "إ")):
        if w[c:].startswith(p):
            if len(w) > 3:
                w = w[:c] + r + w[c + 2:]
                c += len(r)
            break
    # Prefix_Step2 (try): strip ف/و unless followed by ا
    if w[c: c + 1] in ("ف", "و") and len(w) > 3 and w[c + 1: c + 2] != "ا":
        w = w[:c] + w[c + 1:]
    # Prefix_Step3a_Noun or (is_noun 3b) or (is_verb try 3_Verb 4_Verb)
    s3a = False
    for p, n in (("بال", 6), ("كال", 6), ("ال", 5), ("لل", 5)):
        if w[c:].startswith(p) and len(w) >= n:
            w = w[:c] + w[c + len(p):]
            s3a = True
            break
    if not s3a:
        done3 = False
        if is_noun:
            rest = w[c:]
            if rest.startswith("بب") and len(w) > 3:
                w = w[:c] + "ب" + w[c + 2:]
                done3 = True
            elif rest.startswith("كك") and len(w) > 3:
                w = w[:c] + "ك" + w[c + 2:]
                done3 = True
            elif rest.startswith("با"):
                pass
            elif rest.startswith("ب") and len(w) > 3:
                w = w[:c] + w[c + 1:]
                done3 = True
        if not done3 and is_verb:
            rest = w[c:]
            hit3v = False
            for p, r in (("سي", "ي"), ("ست", "ت"), ("سن", "ن"),
                         ("سأ", "أ")):
                if rest.startswith(p):
                    if len(w) > 4:
                        w = w[:c] + r + w[c + 2:]
                        c += 1
                        hit3v = True
                    break
            rest = w[c:]
            for p in ("تست", "نست", "يست"):
                if rest.startswith(p):
                    if len(w) > 4:
                        w = w[:c] + "است" + w[c + 3:]
                    break

    w = _ar_normalize_post(w)
    return w if w else word


# ---------------------------------------------------------------------------
# Hungarian — snowballstem.org/algorithms/hungarian/stemmer.html
# Inventories recovered behaviorally from the official stemmer build
# (tools/extract_amongs.py) — resolving the round-2 blocker: the earlier
# attempt guessed suffix tables and hit revision-ambiguous boundary words;
# with the build's exact amongs the only revision-sensitive knob left is
# v_ending's R1 check (this build HAS it: fától -> fá), now pinned.
# ---------------------------------------------------------------------------

_HU_V = "aeiouáéíóöőúüű"
_HU_DIGRAPHS = ("dzs", "cs", "gy", "ly", "ny", "sz", "ty", "zs")
_HU_DOUBLES = ("ccs", "ggy", "lly", "nny", "ssz", "tty", "zzs",
               "bb", "cc", "dd", "ff", "gg", "jj", "kk", "ll", "mm",
               "nn", "pp", "rr", "ss", "tt", "vv", "zz")

_HU_CASE = ("ből", "ről", "től", "nál", "nél", "ból", "ról",
            "tól", "ban", "ben", "képpen", "onként", "enként", "anként",
            "ként", "képp", "nak", "nek", "val", "vel", "hez", "hoz",
            "höz", "ba", "ra", "be", "re", "ig", "ul", "ül", "an", "en",
            "on", "ön", "kor", "at", "et", "ot", "ért", "öt", "vá",
            "vé", "n", "t")
_HU_PLUR_OWNER = (
    ("jeitek", 0), ("jaitok", 0), ("eitek", 0), ("aitok", 0),
    ("jeink", 0), ("jaink", 0), ("éitek", "e"), ("áitok", "a"),
    ("jaid", 0), ("jeid", 0), ("eink", 0), ("aink", 0),
    ("itek", 0), ("jeik", 0), ("jaik", 0), ("áink", "a"), ("éink", "e"),
    ("aid", 0), ("eid", 0), ("áid", "a"), ("éid", "e"),
    ("jai", 0), ("jei", 0), ("aik", 0), ("eik", 0), ("áik", "a"),
    ("éik", "e"), ("ink", 0), ("jaim", 0), ("jeim", 0),
    ("aim", 0), ("eim", 0), ("áim", "a"), ("éim", "e"),
    ("id", 0), ("ai", 0), ("ei", 0), ("ái", "a"), ("éi", "e"),
    ("ik", 0), ("im", 0), ("i", 0))
_HU_SING_OWNER = (
    ("ájuk", "a"), ("éjük", "e"),
    ("ánk", "a"), ("énk", "e"), ("unk", 0), ("ünk", 0),
    ("juk", 0), ("jük", 0),
    ("ad", 0), ("ed", 0), ("od", 0), ("öd", 0), ("ád", "a"), ("éd", "e"),
    ("ja", 0), ("je", 0), ("nk", 0), ("uk", 0), ("ük", 0),
    ("am", 0), ("em", 0), ("om", 0), ("ám", "a"), ("ém", "e"),
    ("a", 0), ("e", 0), ("d", 0), ("m", 0), ("o", 0),
    ("á", "a"), ("é", "e"))
_HU_OWNED = (
    ("áéi", "a"), ("ééi", "e"),
    ("áké", "a"), ("éké", "e"), ("oké", 0), ("aké", 0), ("eké", 0),
    ("öké", 0), ("éé", "e"), ("ké", 0), ("éi", 0), ("é", 0))
_HU_PLURAL = (("ák", "a"), ("ék", "e"), ("ok", 0), ("ak", 0), ("ek", 0),
              ("ök", 0), ("k", 0))


def _hu_r1(w: str) -> int:
    if not w:
        return 0
    if w[0] in _HU_V:
        i = 1
        n = len(w)
        while i < n and w[i] in _HU_V:
            i += 1
        if i >= n:
            return n
        for d in _HU_DIGRAPHS:
            if w.startswith(d, i):
                return i + len(d)
        return i + 1
    i = 0
    n = len(w)
    while i < n and w[i] not in _HU_V:
        i += 1
    return min(i + 1, n)


def _hu_ends_double(w: str) -> bool:
    return w.endswith(_HU_DOUBLES)


def _hu_undouble(w: str) -> str:
    return w[:-2] + w[-1] if len(w) >= 2 else w


def stem_hungarian(word: str) -> str:
    """Hungarian — snowballstem.org/algorithms/hungarian/stemmer.html,
    parity-matched to the official implementation embedded in the
    container's PostgreSQL build (the revision divergence that blocked
    round 2 is resolved by targeting that build's exact inventories,
    extracted behaviorally via tools/extract_amongs.py)."""
    w = word
    r1 = _hu_r1(w)

    def in_r1(suffix: str) -> bool:
        return len(w) - len(suffix) >= r1

    # instrum: al/el after double consonant
    for s in ("al", "el"):
        if w.endswith(s) and in_r1(s) and _hu_ends_double(w[:-2]):
            w = _hu_undouble(w[:-2])
            break

    # case: longest case ending in R1, delete, then v_ending
    for s in _HU_CASE:
        if w.endswith(s):
            if in_r1(s):
                w = w[: -len(s)]
                # v_ending is R1-checked in this build's revision
                # (fától -> fá, probed)
                if w.endswith("á") and len(w) - 1 >= r1:
                    w = w[:-1] + "a"
                elif w.endswith("é") and len(w) - 1 >= r1:
                    w = w[:-1] + "e"
            break

    # case_special: án/én/ánként
    for s, r in (("ánként", "a"), ("án", "a"), ("én", "e")):
        if w.endswith(s):
            if in_r1(s):
                w = w[: -len(s)] + r
            break

    # case_other: stul/stül family
    for s, r in (("astul", ""), ("estül", ""), ("ástul", "a"),
                 ("éstül", "e"), ("stul", ""), ("stül", "")):
        if w.endswith(s):
            if in_r1(s):
                w = w[: -len(s)] + r
            break

    # factive: á/é after double consonant
    for s in ("á", "é"):
        if w.endswith(s) and in_r1(s) and _hu_ends_double(w[:-1]):
            w = _hu_undouble(w[:-1])
            break

    # owned
    for s, r in _HU_OWNED:
        if w.endswith(s):
            if in_r1(s):
                w = w[: -len(s)] + (r or "")
            break

    # sing_owner
    for s, r in _HU_SING_OWNER:
        if w.endswith(s):
            if in_r1(s):
                w = w[: -len(s)] + (r or "")
            break

    # plur_owner
    for s, r in _HU_PLUR_OWNER:
        if w.endswith(s):
            if in_r1(s):
                w = w[: -len(s)] + (r or "")
            break

    # plural
    for s, r in _HU_PLURAL:
        if w.endswith(s):
            if in_r1(s):
                w = w[: -len(s)] + (r or "")
            break

    return w


# ---------------------------------------------------------------------------
# Turkish
# ---------------------------------------------------------------------------

_TR_VOWELS = frozenset("aeıioöuü")
_TR_U = frozenset("ıiuü")
#: Vowel-harmony classes: the suffix vowel (last vowel of the current
#: region) must be preceded, somewhere earlier in the word, by a vowel of
#: its class (front/back x rounded/unrounded, Turkish two-way harmony).
_TR_HARMONY = {
    "a": "aıou", "e": "eiöü", "ı": "aı", "i": "ei",
    "o": "ou", "u": "ou", "ö": "öü", "ü": "öü",
}

_TR_A_YMUS = ("miş", "muş", "mış", "müş")
_TR_A_YDU = (
    "dik", "tik", "duk", "tuk", "dık", "tık", "dük", "tük",
    "dim", "tim", "dum", "tum", "dım", "tım", "düm", "tüm",
    "din", "tin", "dun", "tun", "dın", "tın", "dün", "tün",
    "di", "ti", "du", "tu", "dı", "tı", "dü", "tü",
)
_TR_A_YSA = ("sak", "sek", "sam", "sem", "san", "sen", "sa", "se")
_TR_A_CASINA = ("casına", "cesine")
_TR_A_SUNUZ = ("siniz", "sunuz", "sınız", "sünüz")
_TR_A_LAR = ("lar", "ler")
_TR_A_YUM = ("im", "um", "ım", "üm")
_TR_A_SUN = ("sin", "sun", "sın", "sün")
_TR_A_YUZ = ("iz", "uz", "ız", "üz")
_TR_A_NUZ = ("niz", "nuz", "nız", "nüz")
_TR_A_DUR = ("dir", "tir", "dur", "tur", "dır", "tır", "dür", "tür")
_TR_A_POSS = ("miz", "niz", "muz", "nuz", "mız", "nız", "müz", "nüz",
              "m", "n")
_TR_A_LARI = ("leri", "ları")
_TR_A_NU = ("ni", "nu", "nı", "nü")
_TR_A_NUN = ("in", "un", "ın", "ün")
_TR_A_YA = ("a", "e")
_TR_A_NA = ("na", "ne")
_TR_A_DA = ("da", "ta", "de", "te")
_TR_A_NDA = ("nda", "nde")
_TR_A_DAN = ("dan", "tan", "den", "ten")
_TR_A_NDAN = ("ndan", "nden")
_TR_A_YLA = ("la", "le")
_TR_A_NCA = ("ca", "ce")


def _tr_harmony(w: str, c: int) -> bool:
    """check_vowel_harmony: goto the last vowel v of w[:c], then goto an
    earlier vowel in v's harmony class (any characters, including other
    vowels, may be skipped — `goto` semantics)."""
    i = c
    while i > 0 and w[i - 1] not in _TR_VOWELS:
        i -= 1
    if i == 0:
        return False
    allowed = _TR_HARMONY[w[i - 1]]
    j = i - 1
    while j > 0 and w[j - 1] not in allowed:
        j -= 1
    return j > 0


def _tr_suffix(w: str, c: int, suffixes) -> int | None:
    """Longest suffix of w[:c] from the (length-descending) tuple."""
    for s in suffixes:
        if c >= len(s) and w.startswith(s, c - len(s)):
            return c - len(s)
    return None


def _tr_opt(w: str, c: int, letter: str) -> int | None:
    """Optional leading consonant: (letter, test vowel) consumes the
    letter when it is preceded by a vowel; otherwise (not letter,
    test(next vowel)) requires a vowel two characters back and consumes
    nothing.  A present letter NOT preceded by a vowel fails."""
    if c > 0 and w[c - 1] == letter:
        return c - 1 if c > 1 and w[c - 2] in _TR_VOWELS else None
    return c if c > 1 and w[c - 2] in _TR_VOWELS else None


def _tr_opt_u(w: str, c: int) -> int | None:
    """Optional U vowel (dual of _tr_opt): consume a U vowel preceded by
    a consonant, else require a consonant two characters back."""
    if c > 0 and w[c - 1] in _TR_U:
        return c - 1 if c > 1 and w[c - 2] not in _TR_VOWELS else None
    return c if c > 1 and w[c - 2] not in _TR_VOWELS else None


def _tr_mk(w, c, suffixes, harmony=True, opt=None):
    """Generic mark_*: optional harmony check, longest-among match,
    optional leading-letter rule.  Returns the new cursor or None."""
    if harmony and not _tr_harmony(w, c):
        return None
    cc = _tr_suffix(w, c, suffixes)
    if cc is None:
        return None
    return _tr_opt(w, cc, opt) if opt else cc


def _tr_mark_su(w: str, c: int) -> int | None:
    """mark_sU: harmony, a U vowel, optional 's'."""
    if not _tr_harmony(w, c):
        return None
    if c == 0 or w[c - 1] not in _TR_U:
        return None
    return _tr_opt(w, c - 1, "s")


def _tr_mark_yu(w: str, c: int) -> int | None:
    """mark_yU: harmony, a U vowel, optional 'y'."""
    if not _tr_harmony(w, c):
        return None
    if c == 0 or w[c - 1] not in _TR_U:
        return None
    return _tr_opt(w, c - 1, "y")


def _tr_mark_poss(w: str, c: int) -> int | None:
    """mark_possessives: among(m, n, mUz, nUz) + optional U vowel (no
    harmony check)."""
    cc = _tr_suffix(w, c, _TR_A_POSS)
    if cc is None:
        return None
    return _tr_opt_u(w, cc)


def _tr_del(w: str, bra: int, ket: int) -> str:
    return w[:bra] + w[ket:]


def _tr_chain(w: str, c: int):
    """stem_suffix_chain_before_ki: [ki] then the shared continuation.
    Returns (matched, word); when matched is False the word is
    unchanged (the body only fails before any deletion)."""
    if c < 2 or not w.startswith("ki", c - 2):
        return False, w
    return _tr_chain_body(w, c - 2, c)


def _tr_chain_body(w: str, c: int, ket: int):
    """Continuation after 'ki' (cursor c just before it, ket marks the
    end of the slice to delete).  Deletions persist across failed inner
    alternatives, exactly as in the compiled algorithm."""
    c0 = c
    cc = _tr_mk(w, c, _TR_A_DA)
    if cc is not None:                       # (mark_DA] delete ...
        w = _tr_del(w, cc, ket)
        c = cc
        lar = _tr_mk(w, c, _TR_A_LAR)
        if lar is not None:                  # [mark_lAr] delete try ki
            w = _tr_del(w, lar, c)
            ok, w2 = _tr_chain(w, lar)
            return True, (w2 if ok else w)
        poss = _tr_mark_poss(w, c)
        if poss is not None:                 # [mark_possessives] delete
            w = _tr_del(w, poss, c)
            lar = _tr_mk(w, poss, _TR_A_LAR)
            if lar is not None:              # try([mark_lAr] delete ki)
                w = _tr_del(w, lar, poss)
                ok, w2 = _tr_chain(w, lar)
                return True, (w2 if ok else w)
        return True, w
    c = c0
    cc = _tr_mk(w, c, _TR_A_NUN, opt="n")
    if cc is not None:                       # (mark_nUn] delete ...
        w = _tr_del(w, cc, ket)
        c = cc
        lari = _tr_mk(w, c, _TR_A_LARI, harmony=False)
        if lari is not None:                 # [mark_lArI] delete
            return True, _tr_del(w, lari, c)
        poss = _tr_mark_poss(w, c)
        if poss is None:
            poss = _tr_mark_su(w, c)
        if poss is not None:                 # [poss or sU] delete ...
            w = _tr_del(w, poss, c)
            lar = _tr_mk(w, poss, _TR_A_LAR)
            if lar is not None:
                w = _tr_del(w, lar, poss)
                ok, w2 = _tr_chain(w, lar)
                return True, (w2 if ok else w)
            return True, w
        ok, w2 = _tr_chain(w, c)             # or the chain itself
        return True, (w2 if ok else w)
    c = c0
    cc = _tr_mk(w, c, _TR_A_NDA)
    if cc is not None:                       # (mark_ndA (...))
        c = cc
        lari = _tr_mk(w, c, _TR_A_LARI, harmony=False)
        if lari is not None:                 # (mark_lArI] delete)
            return True, _tr_del(w, lari, ket)
        su = _tr_mark_su(w, c)
        if su is not None:                   # (mark_sU] delete try ...)
            w = _tr_del(w, su, ket)
            lar = _tr_mk(w, su, _TR_A_LAR)
            if lar is not None:
                w = _tr_del(w, lar, su)
                ok, w2 = _tr_chain(w, lar)
                return True, (w2 if ok else w)
            return True, w
        return _tr_chain(w, c)               # or chain (can fail)
    return False, w


def _tr_nominal_verb(w: str):
    """stem_nominal_verb_suffixes (do-wrapped).  Returns (word,
    continue_stemming_noun_suffixes)."""
    # (mark_ymUs or mark_yDU or mark_ysA or mark_yken) ] delete
    for suffixes, opt, harm in (
        (_TR_A_YMUS, "y", True),
        (_TR_A_YDU, "y", True),
        (_TR_A_YSA, "y", False),
        (("ken",), "y", False),
    ):
        c = _tr_mk(w, len(w), suffixes, harmony=harm, opt=opt)
        if c is not None:
            return w[:c], True
    # (mark_cAsInA (sUnUz|lAr|yUm|sUn|yUz|true) mark_ymUs) ] delete
    c = _tr_suffix(w, len(w), _TR_A_CASINA)
    if c is not None:
        for suffixes, opt, harm in (
            (_TR_A_SUNUZ, None, False),
            (_TR_A_LAR, None, True),
            (_TR_A_YUM, "y", True),
            (_TR_A_SUN, None, True),
            (_TR_A_YUZ, "y", True),
        ):
            c2 = _tr_mk(w, c, suffixes, harmony=harm, opt=opt)
            if c2 is not None:
                c = c2
                break
        c3 = _tr_mk(w, c, _TR_A_YMUS, opt="y")
        if c3 is not None:
            return w[:c3], True
    # (mark_lAr ] delete try([DUr|yDU|ysA|ymUs] delete) unset flag)
    c = _tr_mk(w, len(w), _TR_A_LAR)
    if c is not None:
        w = w[:c]
        for suffixes, opt, harm in (
            (_TR_A_DUR, None, True),
            (_TR_A_YDU, "y", True),
            (_TR_A_YSA, "y", False),
            (_TR_A_YMUS, "y", True),
        ):
            c2 = _tr_mk(w, len(w), suffixes, harmony=harm, opt=opt)
            if c2 is not None:
                w = w[:c2]
                break
        return w, False
    # (mark_nUz (mark_yDU or mark_ysA)) ] delete
    c = _tr_mk(w, len(w), _TR_A_NUZ)
    if c is not None:
        for suffixes, harm in ((_TR_A_YDU, True), (_TR_A_YSA, False)):
            c2 = _tr_mk(w, c, suffixes, harmony=harm, opt="y")
            if c2 is not None:
                return w[:c2], True
        # both fail: fall through to the next alternative
    # ((sUnUz|yUz|sUn|yUm) ] delete try([mark_ymUs] delete))
    for suffixes, opt, harm in (
        (_TR_A_SUNUZ, None, False),
        (_TR_A_YUZ, "y", True),
        (_TR_A_SUN, None, True),
        (_TR_A_YUM, "y", True),
    ):
        c = _tr_mk(w, len(w), suffixes, harmony=harm, opt=opt)
        if c is not None:
            w = w[:c]
            c2 = _tr_mk(w, len(w), _TR_A_YMUS, opt="y")
            if c2 is not None:
                w = w[:c2]
            return w, True
    # (mark_DUr ] delete try([(sUnUz|lAr|yUm|sUn|yUz|true) ymUs] del))
    c = _tr_mk(w, len(w), _TR_A_DUR)
    if c is not None:
        w = w[:c]
        c = len(w)
        for suffixes, opt, harm in (
            (_TR_A_SUNUZ, None, False),
            (_TR_A_LAR, None, True),
            (_TR_A_YUM, "y", True),
            (_TR_A_SUN, None, True),
            (_TR_A_YUZ, "y", True),
        ):
            c2 = _tr_mk(w, len(w), suffixes, harmony=harm, opt=opt)
            if c2 is not None:
                c = c2
                break
        c3 = _tr_mk(w, c, _TR_A_YMUS, opt="y")
        if c3 is not None:
            w = w[:c3]
        return w, True
    return w, True


def _tr_noun(w: str) -> str:
    """stem_noun_suffixes (do-wrapped): eleven ordered alternatives,
    each starting from the end of the (possibly shortened) word."""
    # 1: [mark_lAr] delete try(chain)
    c = _tr_mk(w, len(w), _TR_A_LAR)
    if c is not None:
        w = w[:c]
        ok, w2 = _tr_chain(w, len(w))
        return w2 if ok else w
    # 2: [mark_ncA] delete try(lArI | (poss|sU)+lAr+chain | lAr+chain)
    c = _tr_mk(w, len(w), _TR_A_NCA, opt="n")
    if c is not None:
        w = w[:c]
        cc = _tr_mk(w, len(w), _TR_A_LARI, harmony=False)
        if cc is not None:
            return w[:cc]
        cc = _tr_mark_poss(w, len(w))
        if cc is None:
            cc = _tr_mark_su(w, len(w))
        if cc is not None:
            w = w[:cc]
            c2 = _tr_mk(w, len(w), _TR_A_LAR)
            if c2 is not None:
                w = w[:c2]
                ok, w2 = _tr_chain(w, len(w))
                w = w2 if ok else w
            return w
        c2 = _tr_mk(w, len(w), _TR_A_LAR)
        if c2 is not None:
            w = w[:c2]
            ok, w2 = _tr_chain(w, len(w))
            w = w2 if ok else w
        return w
    # 3: [(mark_ndA or mark_nA)] (lArI] | sU]+lAr+chain | chain)
    c = _tr_mk(w, len(w), _TR_A_NDA)
    if c is None:
        c = _tr_mk(w, len(w), _TR_A_NA)
    if c is not None:
        cc = _tr_mk(w, c, _TR_A_LARI, harmony=False)
        if cc is not None:
            return w[:cc]
        cc = _tr_mark_su(w, c)
        if cc is not None:
            w = w[:cc]
            c2 = _tr_mk(w, len(w), _TR_A_LAR)
            if c2 is not None:
                w = w[:c2]
                ok, w2 = _tr_chain(w, len(w))
                w = w2 if ok else w
            return w
        ok, w2 = _tr_chain(w, c)
        if ok:
            return w2
        # branch fails without modification: fall through
    # 4: [(mark_ndAn or mark_nU)] (sU]+lAr+chain | mark_lArI (no del))
    c = _tr_mk(w, len(w), _TR_A_NDAN)
    if c is None:
        c = _tr_mk(w, len(w), _TR_A_NU)
    if c is not None:
        cc = _tr_mark_su(w, c)
        if cc is not None:
            w = w[:cc]
            c2 = _tr_mk(w, len(w), _TR_A_LAR)
            if c2 is not None:
                w = w[:c2]
                ok, w2 = _tr_chain(w, len(w))
                w = w2 if ok else w
            return w
        cc = _tr_mk(w, c, _TR_A_LARI, harmony=False)
        if cc is not None:
            return w                         # marks, never deletes
        # fall through
    # 5: [mark_DAn] delete try(poss]+lAr+chain | lAr]+chain | chain)
    c = _tr_mk(w, len(w), _TR_A_DAN)
    if c is not None:
        w = w[:c]
        cc = _tr_mark_poss(w, len(w))
        if cc is not None:
            w = w[:cc]
            c2 = _tr_mk(w, len(w), _TR_A_LAR)
            if c2 is not None:
                w = w[:c2]
                ok, w2 = _tr_chain(w, len(w))
                w = w2 if ok else w
            return w
        cc = _tr_mk(w, len(w), _TR_A_LAR)
        if cc is not None:
            w = w[:cc]
            ok, w2 = _tr_chain(w, len(w))
            return w2 if ok else w
        ok, w2 = _tr_chain(w, len(w))
        return w2 if ok else w
    # 6/7: [mark_nUn or mark_ylA] delete
    #      try(lAr+chain | (poss|sU)+lAr+chain | chain)
    c = _tr_mk(w, len(w), _TR_A_NUN, opt="n")
    if c is None:
        c = _tr_mk(w, len(w), _TR_A_YLA, opt="y")
    if c is not None:
        w = w[:c]
        c2 = _tr_mk(w, len(w), _TR_A_LAR)
        if c2 is not None:
            w = w[:c2]
            ok, w2 = _tr_chain(w, len(w))
            if ok:
                return w2
            # chain failed: the lAr deletion persists, alternatives
            # continue on the shortened word
        cc = _tr_mark_poss(w, len(w))
        if cc is None:
            cc = _tr_mark_su(w, len(w))
        if cc is not None:
            w = w[:cc]
            c2 = _tr_mk(w, len(w), _TR_A_LAR)
            if c2 is not None:
                w = w[:c2]
                ok, w2 = _tr_chain(w, len(w))
                w = w2 if ok else w
            return w
        ok, w2 = _tr_chain(w, len(w))
        return w2 if ok else w
    # 8: [mark_lArI] delete
    c = _tr_mk(w, len(w), _TR_A_LARI, harmony=False)
    if c is not None:
        return w[:c]
    # 9: chain alone
    ok, w2 = _tr_chain(w, len(w))
    if ok:
        return w2
    # 10: [mark_DA or mark_yU or mark_yA] delete try(...)
    c = _tr_mk(w, len(w), _TR_A_DA)
    if c is None:
        c = _tr_mark_yu(w, len(w))
    if c is None:
        c = _tr_mk(w, len(w), _TR_A_YA, opt="y")
    if c is not None:
        w = w[:c]
        cc = _tr_mark_poss(w, len(w))
        if cc is not None:
            w = w[:cc]
            c2 = _tr_mk(w, len(w), _TR_A_LAR)
            if c2 is not None:
                w = w[:c2]
            ok, w2 = _tr_chain(w, len(w))   # chain runs either way
            return w2 if ok else w
        cc = _tr_mk(w, len(w), _TR_A_LAR)
        if cc is not None:
            w = w[:cc]
            ok, w2 = _tr_chain(w, len(w))
            return w2 if ok else w
        return w
    # 11: [mark_possessives or mark_sU] delete try(lAr+chain)
    c = _tr_mark_poss(w, len(w))
    if c is None:
        c = _tr_mark_su(w, len(w))
    if c is not None:
        w = w[:c]
        c2 = _tr_mk(w, len(w), _TR_A_LAR)
        if c2 is not None:
            w = w[:c2]
            ok, w2 = _tr_chain(w, len(w))
            w = w2 if ok else w
        return w
    return w


def stem_turkish(word: str) -> str:
    """Turkish — snowballstem.org/algorithms/turkish/stemmer.html
    (Evren Kapusuz Çilden's algorithm; reference routes Language::Turkish
    through rust-stemmers, stemmer.rs:59).  Control flow pinned to the
    official implementation embedded in the container's PostgreSQL build
    (behavioral study via tools/extract_amongs.py +
    tools/annotate_stemmer_asm.py + the ts_lexize probe loop; parity
    vectors in tests/snowball_vectors.py)."""
    w = word
    if sum(ch in _TR_VOWELS for ch in w) < 2:
        return w                              # more_than_one_syllable
    w, keep_going = _tr_nominal_verb(w)
    if not keep_going:
        return w or word  # a fully-consumed word stays unstemmed
    w = _tr_noun(w)
    # postlude: skip entirely for the reserved words ad / soyad
    if w.endswith("ad") and (w == "ad" or w == "soyad"):
        return w
    # append_U_to_stems_ending_with_d_or_g
    if w and w[-1] in "dg":
        i = len(w)
        while i > 0 and w[i - 1] not in _TR_VOWELS:
            i -= 1
        if i > 0:
            v = w[i - 1]
            if v in "aı":
                w += "ı"
            elif v in "ei":
                w += "i"
            elif v in "ou":
                w += "u"
            elif v in "öü":
                w += "ü"
    # post_process_last_consonants
    repl = {"b": "p", "c": "ç", "d": "t", "ğ": "k"}.get(w[-1:])
    if repl:
        w = w[:-1] + repl
    return w or word      # a fully-consumed word stays unstemmed


# ---------------------------------------------------------------------------
# Tamil
# ---------------------------------------------------------------------------
# Reconstructed from the official build's generated code (objdump of
# PostgreSQL's dict_snowball.so tamil_UTF_8_stem, annotated with
# tools/annotate_stemmer_asm.py: exact among tables, call-site literals
# and branch structure), parity-verified word-by-word against
# ts_lexize('raw_tamil', w).  The algorithm is Damodharan Rajalingam's
# published Snowball Tamil stemmer (snowballstem.org); reference ships
# it via rust-stemmers (stemmer.rs:30-60).

_TA_HARD = frozenset("கசடதபற")          # vallinam stops
_TA_C10 = frozenset("கஙசஞதநபமயவ")       # prefix-rule consonants
_TA_VSIGNS = frozenset("ீுூெேைாி")      # dependent vowel signs
_TA_IVOWELS = frozenset("அஆஇஈஉஊஎஏஐஒஓஔ")  # independent vowels
_TA_PUL = "்"                             # virama (pulli)

#: remove_common_word_endings among (delete action), longest-first.
_TA_CWE_DEL = (
    "ெல்லாம்", "பட்டது", "படிதான", "பட்டு", "விட்டு", "பட்டண",
    "குரிய", "பற்றி", "பட்ட", "படு", "விடு", "தான", "படி",
)
#: tense-marker among (second do of remove_tense_suffix), longest-first.
_TA_TENSE_MARKERS = ("ாநின்ற்", "ாநின்ற", "கின்ற்", "கின்ற", "கிற்", "கிற")


def _ta_fix_ending(w: str, vetrumai: bool) -> str | None:
    """One fix_ending pass; returns the fixed word or None (failure).
    Rule order mirrors the generated code exactly."""
    if len(w) <= 3:
        return None
    for s in ("ந்த்", "ந்த", "ந்"):          # among, longest match
        if w.endswith(s):
            return w[:-len(s)]
    if w.endswith("ய்") and len(w) >= 3 and w[-3] in "ீைி":
        return w[:-2]
    if w.endswith("ட்ப்") or w.endswith("ட்க்"):
        return w[:-4] + "ள்"
    if w.endswith("ன்ற்") or w.endswith("ற்க்"):
        return w[:-4] + "ல்"
    if w.endswith("ட்ட்"):
        return w[:-4] + "டு"
    if vetrumai and w.endswith("த்த்") and not (
            len(w) >= 5 and w[-5] == "ை"):
        return w[:-4] + "ம்"
    if w.endswith("ுக்"):
        return w[:-3] + _TA_PUL
    if w.endswith("ுக்க்"):
        return w[:-5] + _TA_PUL
    if (w.endswith(_TA_PUL) and len(w) >= 4 and w[-2] in _TA_HARD
            and w[-3] == _TA_PUL and w[-4] in _TA_HARD):
        return w[:-4]
    if w.endswith(_TA_PUL) and len(w) >= 2 and w[-2] in _TA_HARD:
        return w[:-2]
    if (w.endswith(_TA_PUL) and len(w) >= 3 and w[-2] in "யரலளழவஙஞணநனம"
            and w[-3] == _TA_PUL):
        return w[:-3] + _TA_PUL
    if w.endswith("வ்"):
        return w[:-2]
    if w and w[-1] in "யவ":
        return w[:-1]
    if w.endswith("னு") and not (len(w) >= 3 and w[-3] in _TA_VSIGNS):
        return w[:-2]
    if w.endswith("ங்"):
        if len(w) >= 3 and w[-3] == "ை":
            return w[:-2]
        return w[:-2] + "ம்"
    if w.endswith(_TA_PUL) and len(w) >= 2 and (
            w[-2] in _TA_VSIGNS or w[-2] == _TA_PUL):
        return w[:-1]
    return None


def _ta_fix_endings(w: str, vetrumai: bool) -> str:
    """fix_endings = repeat fix_ending."""
    while True:
        r = _ta_fix_ending(w, vetrumai)
        if r is None:
            return w
        w = r


def _ta_fix_va_start(w: str) -> str:
    """fix_va_start: word-initial வ + long/short rounded vowel sign
    collapses to the independent vowel."""
    for pre, rep in (("வோ", "ஓ"), ("வொ", "ஒ"), ("வு", "உ"), ("வூ", "ஊ")):
        if w.startswith(pre):
            return rep + w[2:]
    return w


def _ta_common_word_endings(w: str, vetrumai: bool):
    """remove_common_word_endings; returns (new_w, matched)."""
    for s in ("ுடன்", "ில்லை", "ிடம்", "ின்றி", "ாகி", "ாகிய",
              "ென்று", "ுள்ள", "ுடைய", "ுடை", "ெனும்"):
        if w.endswith(s):
            return _ta_fix_endings(w[:-len(s)] + _TA_PUL, vetrumai), True
    if w.endswith("ல்ல") and not (len(w) >= 4 and w[-4] in _TA_VSIGNS):
        return _ta_fix_endings(w[:-3] + _TA_PUL, vetrumai), True
    if w.endswith("ென"):    # ('ாகி' repeats here in the build; dead)
        return _ta_fix_endings(w[:-2] + _TA_PUL, vetrumai), True
    for s in _TA_CWE_DEL:
        if w.endswith(s):
            return _ta_fix_endings(w[:-len(s)], vetrumai), True
    return w, False


def _ta_vetrumai(w: str):
    """remove_vetrumai_urupukal; returns (new_w, matched).  Every match
    sets found_vetrumai_urupu and tries a trailing ['ின்'] <- '்'."""
    new = None
    if w.endswith("னை"):
        new = w[:-2]
    else:
        if w.endswith("ினை"):
            if not (len(w) >= 4 and w[-4] in _TA_HARD):
                new = w[:-3] + _TA_PUL
        elif w.endswith("ை"):
            if not (len(w) >= 2 and w[-2] in _TA_HARD):
                new = w[:-1] + _TA_PUL
        if (new is None and w.endswith("ை") and len(w) >= 3
                and w[-2] in _TA_HARD and w[-3] == _TA_PUL):
            new = w[:-1] + _TA_PUL
    if new is None:
        for s in ("ொடு", "ோடு", "ில்", "ிற்"):
            if w.endswith(s):
                new = w[:-len(s)] + _TA_PUL
                break
    if new is None and w.endswith("ின்") and not (
            len(w) >= 4 and w[-4] == "ம"):
        new = w[:-3] + _TA_PUL
    if new is None:
        for s in ("ின்று", "ிருந்து", "விட"):
            if w.endswith(s):
                new = w[:-len(s)] + _TA_PUL
                break
    if new is None and len(w) > 6 and w.endswith("ிடம்"):
        new = w[:-4] + _TA_PUL
    if new is None:
        for s in ("ால்", "ுடை", "ாமல்"):
            if w.endswith(s):
                new = w[:-len(s)] + _TA_PUL
                break
    if new is None and w.endswith("ல்") and not (
            len(w) >= 3 and w[-3] in _TA_VSIGNS):
        new = w[:-2] + _TA_PUL
    if new is None and w.endswith("ுள்"):
        new = w[:-3] + _TA_PUL
    if new is None:
        for s in ("கண்", "முன்", "மேல்", "மேற்", "கீழ்", "பின்"):
            if w.endswith(s):
                new = w[:-len(s)]
                break
    if new is None and w.endswith("து") and not (
            len(w) >= 3 and w[-3] in _TA_VSIGNS):
        new = w[:-2]
    if new is None and w.endswith("ீ"):
        new = w[:-1] + "ி"
    if new is None:
        return w, False
    w = new
    if w.endswith("ின்"):
        w = w[:-3] + _TA_PUL
    return _ta_fix_endings(w, True), True


#: remove_tense_suffix person/mood endings that DELETE.
_TA_TENSE_DEL_1 = ("மார்", "மின்", "னன்", "னான்", "னாள்", "னார்")
_TA_TENSE_DEL_2 = ("னள்", "வள்", "னர்", "வர்", "ன", "ப", "க", "த", "ய",
                   "பன்", "பள்", "பர்")
_TA_TENSE_DEL_3 = ("ிற்று", "பம்", "னம்", "தும்", "றும்", "கும்",
                   "னென்", "னை", "வை")
#: endings that become '்' (the repeats of தும்/கும்/றும்/னென் in the
#: build are dead code — the delete variants match first).
_TA_TENSE_PUL = ("ாள்", "ார்", "ேன்", "ா", "ாம்", "ெம்", "ேம்", "ோம்",
                 "டும்", "ாய்", "னிர்", "ீர்", "ீயர்")


def _ta_tense_suffix(w: str):
    """The remove_tense_suffix person/mood alternation; (new_w, hit)."""
    for s in ("கொண்டிர்", "படு"):        # among, longest-first
        if w.endswith(s):
            return w[:-len(s)], True
    for s in _TA_TENSE_DEL_1:
        if w.endswith(s):
            return w[:-len(s)], True
    if w.endswith("வன்") and not (len(w) >= 4 and w[-4] in _TA_IVOWELS):
        return w[:-3], True
    for s in _TA_TENSE_DEL_2:
        if w.endswith(s):
            return w[:-len(s)], True
    if w.endswith("து") and not (len(w) >= 3 and w[-3] in _TA_VSIGNS):
        return w[:-2], True
    for s in _TA_TENSE_DEL_3:
        if w.endswith(s):
            return w[:-len(s)], True
    if w.endswith("ான்") and not (len(w) >= 4 and w[-4] == "ச"):
        return w[:-3] + _TA_PUL, True
    for s in _TA_TENSE_PUL:
        if w.endswith(s):
            return w[:-len(s)] + _TA_PUL, True
    for s in ("கு", "து"):               # [s] test '்' -> delete
        if w.endswith(s) and len(w) >= 3 and w[-3] == _TA_PUL:
            return w[:-2], True
    return w, False


def stem_tamil(word: str) -> str:
    """Tamil — the published Snowball stemmer (snowballstem.org),
    rule-for-rule from the official build; see module comment."""
    w = word
    vetrumai = False
    r = _ta_fix_ending(w, vetrumai)     # do fix_ending (single pass)
    if r is not None:
        w = r
    if len(w) <= 4:                     # has_min_length
        return w or word
    # remove_question_prefixes (+ do fix_va_start)
    if len(w) >= 3 and w[0] == "எ" and w[1] in _TA_C10 and w[2] == _TA_PUL:
        w = _ta_fix_va_start(w[3:])
    # remove_pronoun_prefixes (+ do fix_va_start)
    if (len(w) >= 3 and w[0] in "அஇஉ" and w[1] in _TA_C10
            and w[2] == _TA_PUL):
        w = _ta_fix_va_start(w[3:])
    # remove_question_suffixes: do([ேோா] <- '்'), then fix_endings
    if len(w) > 4:
        if w[-1] in "ேோா":
            w = w[:-1] + _TA_PUL
        w = _ta_fix_endings(w, vetrumai)
    # remove_um: ['ும்'] <- '்', then do fix_ending (single pass)
    if len(w) > 4 and w.endswith("ும்"):
        w = w[:-3] + _TA_PUL
        r = _ta_fix_ending(w, vetrumai)
        if r is not None:
            w = r
    # remove_common_word_endings
    if len(w) > 4:
        w, _ = _ta_common_word_endings(w, vetrumai)
    # remove_vetrumai_urupukal
    if len(w) > 4:
        w, hit = _ta_vetrumai(w)
        if hit:
            vetrumai = True
    # remove_plural_suffix (no has_min_length, no fix_endings)
    if w.endswith("ுங்கள்") and not (len(w) >= 7 and w[-7] in _TA_HARD):
        w = w[:-6] + _TA_PUL
    elif w.endswith("ற்கள்"):
        w = w[:-5] + "ல்"
    elif w.endswith("ட்கள்"):
        w = w[:-5] + "ள்"
    elif w.endswith("கள்"):
        w = w[:-3]
    # remove_command_suffixes: [பி|வி] delete
    if len(w) > 4 and (w.endswith("பி") or w.endswith("வி")):
        w = w[:-2]
    # remove_tense_suffixes: repeat-while-found_a_match
    found = True
    while found:
        found = False
        if len(w) > 4:
            w, hit = _ta_tense_suffix(w)
            found = found or hit
            for s in _TA_TENSE_MARKERS:
                if w.endswith(s):
                    w = w[:-len(s)]
                    found = True
                    break
            w = _ta_fix_endings(w, vetrumai)
    return w or word    # a fully-consumed word stays unstemmed
