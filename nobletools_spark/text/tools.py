"""Tokenization + normalization, behavior-matched to the reference engine.

Semantics pinned against ``tools/TextTools.java`` in the reference repo
(pwhalen2/nobletools): ``getWords`` :356-385, ``normalizeWords`` :769-834,
``stripDiacritics`` :449-490, ``isLikelyAbbreviation`` :844-863,
``getStringStats`` :1417-1446, ``isPlural`` :253-262. These functions define
the dictionary keys and the matcher's word streams, so they replicate the
reference's exact regex order, the float-period protection trick, the fixed
diacritics table, and Java ``String.split`` empty-token behavior.

All functions here are pure Python on plain strings — they run *inside*
Arrow-batched pandas UDFs (never as row-at-a-time Spark Python UDFs).
"""

from __future__ import annotations

import re
from functools import lru_cache

from .porter import stem, stem_cached  # noqa: F401  (stem re-exported)
from .resources import COMMON_WORDS_RAW, PLURAL_SUFFIXES, STOP_WORDS

# StringTokenizer delimiter set from TextTools.getWords:364 — space and
# friends; note en/em dashes, backslash, slash, pipe, angle brackets, caret,
# parens, brackets and double quote. Period is handled separately (floats).
_DELIMS = " ,!?;:-–—~_\\/|\t\n\r<>^()[]\""
_DELIM_SPLIT = re.compile("[" + re.escape(_DELIMS) + "]+")
_FLOAT = re.compile(r"\d*\.\d+")

# Fixed diacritic translation table (TextTools.stripDiacritics:458-484).
_PLAIN = (
    "AaEeIiOoUu"  # grave
    "AaEeIiOoUuYy"  # acute
    "AaEeIiOoUuYy"  # circumflex
    "AaOoNn"  # tilde
    "AaEeIiOoUuYy"  # umlaut
    "Aa"  # ring
    "Cc"  # cedilla
    "OoUu"  # double acute
)
_UNICODE = (
    "ÀàÈèÌìÒòÙù"
    "ÁáÉéÍíÓóÚúÝý"
    "ÂâÊêÎîÔôÛûŶŷ"
    "ÃãÕõÑñ"
    "ÄäËëÏïÖöÜüŸÿ"
    "Åå"
    "Çç"
    "ŐőŰű"
)
_DIACRITICS = str.maketrans(dict(zip(_UNICODE, _PLAIN)))

# normalizeWords regexes, ASCII semantics to match Java's default \b/\W.
_GENITIVE = re.compile(r"\b([a-z]+)'s?", re.ASCII)
_PAREN_PLURAL = re.compile(r"\(i?e?s\)")
_FLOAT_PROTECT_1 = re.compile(r"(\d+)\.(\d+)")
_FLOAT_PROTECT_2 = re.compile(r"\.(\d+)")
_NONWORD = re.compile(r"\s*\W\s*", re.ASCII)
_FLOAT_RESTORE_1 = re.compile(r"(\d+)_(\d+)")
_FLOAT_RESTORE_2 = re.compile(r"_(\d+)")
_WS_SPLIT = re.compile(r"\s+")
_DIGITS = re.compile(r"\d+")
_ABBREV_JUNK = re.compile(r"[\(\)\[\]+,0-9]")
_ABBREV_ALPHA = re.compile(r"[A-Za-z]")


def strip_diacritics(s: str) -> str:
    return s.translate(_DIACRITICS)


def get_words(query: str | None) -> list[str]:
    """Tokenize like ``TextTools.getWords``: delimiter split, then split
    embedded periods except float literals matching ``\\d*\\.\\d+``."""
    if not query:
        return []
    out: list[str] = []
    for tok in _DELIM_SPLIT.split(query):
        if not tok:
            continue
        if len(tok) > 1 and "." in tok and not _FLOAT.fullmatch(tok):
            parts = re.split(r"\.+", tok)
            # Java String.split drops trailing empty strings but keeps leading
            while parts and parts[-1] == "":
                parts.pop()
            out.extend(parts)
        else:
            out.append(tok)
    return out


class StringStats:
    __slots__ = ("length", "upper", "lower", "digits", "whitespace",
                 "alphabetic", "is_uppercase", "is_lowercase", "is_capitalized")

    def __init__(self, line: str):
        self.length = len(line)
        up = lo = dg = ws = al = 0
        for c in line:
            if c.isupper():
                up += 1
            if c.islower():
                lo += 1
            if c.isdigit():
                dg += 1
            if c.isspace():
                ws += 1
            if c.isalpha():
                al += 1
        self.upper, self.lower, self.digits = up, lo, dg
        self.whitespace, self.alphabetic = ws, al
        self.is_uppercase = up == self.length
        self.is_lowercase = lo == self.length
        self.is_capitalized = (
            self.length > 0 and line[0].isupper() and lo == al - 1
        )


@lru_cache(maxsize=65536)
def is_likely_abbreviation(text: str) -> bool:
    """TextTools.isLikelyAbbreviation:844-863."""
    if " " in text:
        return False
    if _ABBREV_JUNK.search(text) and _ABBREV_ALPHA.search(text):
        return True
    st = StringStats(text)
    if len(text) <= 5 and st.is_uppercase:
        return True
    if not st.is_capitalized and st.lower > 0 and st.upper > 0:
        return True
    return False


def is_stop_word(word: str) -> bool:
    return word.strip() in STOP_WORDS


def is_common_word(word: str) -> bool:
    return normalize(word.strip(), True) in _COMMON_NORMALIZED


def is_plural(word: str) -> bool:
    """Suffix probe over the plural column of PluralTable.lst (permissive by
    design: any terminal 's', 'a', 'i', 'es', ... counts as plural)."""
    return word.endswith(PLURAL_SUFFIXES_TUPLE)


PLURAL_SUFFIXES_TUPLE = tuple(PLURAL_SUFFIXES)


def normalize_words(
    text: str,
    stem_words: bool = True,
    strip_digits: bool = True,
    strip_stop_words: bool = True,
) -> list[str]:
    """``TextTools.normalizeWords:769-834`` — exact stage order:
    trim -> strip diacritics -> lowercase -> strip genitives -> drop
    parenthetic plurals -> protect float periods -> non-word to space ->
    restore floats -> split -> drop stop words / pure digits -> Porter-stem
    each word unless it looks like an abbreviation (post-lowercase, that guard
    effectively only fires on digit/punct-bearing tokens)."""
    text = text.strip()
    text = strip_diacritics(text)
    text = text.lower()
    text = _GENITIVE.sub(r"\1", text)
    text = _PAREN_PLURAL.sub("", text)
    text = _FLOAT_PROTECT_1.sub(r"\1_\2", text)
    text = _FLOAT_PROTECT_2.sub(r"_\1", text)
    text = _NONWORD.sub(" ", text)
    text = _FLOAT_RESTORE_1.sub(r"\1.\2", text)
    text = _FLOAT_RESTORE_2.sub(r".\1", text)

    swords = _WS_SPLIT.split(text)
    # Java String.split keeps a leading empty token, drops trailing ones.
    while swords and swords[-1] == "":
        swords.pop()

    words: list[str] = []
    for w in swords:
        if strip_stop_words and (w in STOP_WORDS or (strip_digits and _DIGITS.fullmatch(w))):
            continue
        words.append(w)

    if stem_words:
        words = [w if is_likely_abbreviation(w) else stem_cached(w) for w in words]
    return words


def normalize(
    text: str,
    stem_words: bool = True,
    strip_digits: bool = True,
    strip_stop_words: bool = True,
    unique_words: bool = True,
    sort_words: bool = True,
) -> str:
    """``TextTools.normalize:655-669`` — normalized-word join with optional
    dedupe/sort. Dictionary terms use ``unique=True, sort=False``."""
    words = normalize_words(text, stem_words, strip_digits, strip_stop_words)
    if unique_words:
        if sort_words:
            words = sorted(set(words))
        else:
            words = list(dict.fromkeys(words))
    elif sort_words:
        words = sorted(words)
    # Java builds "word " per element then trim()s (TextTools.java:666-669):
    # boundary empty tokens vanish, interior ones leave double spaces
    return " ".join(words).strip()


_COMMON_NORMALIZED = frozenset(normalize(w, True) for w in COMMON_WORDS_RAW)
