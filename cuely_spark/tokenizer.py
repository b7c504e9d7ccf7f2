"""Tokenizer/normalizer matching the reference's Default tokenizer.

Reference semantics (all paths under /root/reference):

1. Script segmentation (crates/core/src/tokenizer/segmenter.rs:73-108):
   chars are classified ASCII->Latin, else Other
   (crates/core/src/tokenizer/script.rs:27-34). A segment keeps extending
   while the next char's script equals the segment script OR is Other.
   Since both scripts use the same Latin tokenizer
   (script.rs:37-43), segmentation only matters when the text *starts*
   with a non-ASCII char: the maximal non-ASCII prefix forms its own
   segment, the remainder (starting at the first ASCII char) is one
   segment to the end.  At most 2 segments; the only observable effect is
   an extra token boundary at that seam.

2. Latin tokenizer (crates/core/src/tokenizer/script_tokenizer.rs:27-42):
   split on whitespace, then split-preserve on every char that is neither
   alphabetic nor numeric (crates/core/src/tokenizer/split_preserve.rs:41-85):
   runs of alphanumeric chars are tokens and every non-alphanumeric,
   non-space char is its own 1-char token.  "example.com" ->
   ["example", ".", "com"]; "c++" -> ["c", "+", "+"].

3. Normalizer chain (crates/core/src/tokenizer/fields/default.rs:71-77):
   lowercase -> Unicode NFKD -> strip combining marks in
   U+0300-036F, U+1AB0-1AFF, U+1DC0-1DFF, U+20D0-20FF, U+FE20-FE2F
   (crates/core/src/tokenizer/normalizer/unicode/diacritics.rs:20-27).
   Note U+3099/309A (kana voicing marks) are NOT stripped.

4. Token position = ordinal in the stream, 0-based
   (crates/core/src/tokenizer/fields/default.rs:84-99).

Implementation: pure-Python core (`tokenize`) with a compiled-regex fast
path for ASCII text (the overwhelming majority of transcript turns), used
both by the pandas-UDF Spark path and the pytest oracle so the two cannot
diverge.
"""

from __future__ import annotations

import re
import unicodedata
from functools import lru_cache

import pandas as pd

# --- fast path: pure-ASCII text ------------------------------------------
# For ASCII input: lowercase commutes with tokenization, NFKD is identity,
# no combining marks exist, and the whole text is a single Latin segment.
_ASCII_TOKEN_RE = re.compile(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]")

# Whitespace split in Rust `split_whitespace` uses char::is_whitespace
# (Unicode White_Space). Python's str.split() also splits on Unicode
# whitespace; the sets agree on all chars Python treats as whitespace
# except a handful of non-White_Space "space-ish" chars Python does NOT
# split on either; for our purposes they coincide.

_DIACRITIC_RANGES = (
    (0x0300, 0x036F),
    (0x1AB0, 0x1AFF),
    (0x1DC0, 0x1DFF),
    (0x20D0, 0x20FF),
    (0xFE20, 0xFE2F),
)


def _is_stripped_mark(ch: str) -> bool:
    cp = ord(ch)
    return any(lo <= cp <= hi for lo, hi in _DIACRITIC_RANGES)


@lru_cache(maxsize=65536)
def _normalize_token(tok: str) -> str:
    """lowercase -> NFKD -> strip combining diacritic ranges."""
    t = tok.lower()
    t = unicodedata.normalize("NFKD", t)
    if not t.isascii():
        t = "".join(c for c in t if not _is_stripped_mark(c))
    return t


def _is_word_char(ch: str) -> bool:
    # Rust: !c.is_alphabetic() && !c.is_numeric() is the split predicate;
    # word chars are alphabetic or numeric. Python isalpha() ~ Unicode
    # letter categories, isnumeric() ~ Nd/Nl/No (same as Rust is_numeric).
    return ch.isalpha() or ch.isnumeric()


def _split_preserve(word: str) -> list[str]:
    """Runs of word chars as tokens; each other char its own token."""
    out: list[str] = []
    run_start = -1
    for i, ch in enumerate(word):
        if _is_word_char(ch):
            if run_start < 0:
                run_start = i
        else:
            if run_start >= 0:
                out.append(word[run_start:i])
                run_start = -1
            out.append(ch)
    if run_start >= 0:
        out.append(word[run_start:])
    return out


def _segments(text: str) -> list[str]:
    """At most two segments: maximal non-ASCII prefix, then the rest."""
    if not text or text[0].isascii():
        return [text] if text else []
    for i, ch in enumerate(text):
        if ch.isascii():
            return [text[:i], text[i:]]
    return [text]


def tokenize(text: str) -> list[str]:
    """Exact reference Default-tokenizer token stream for one string."""
    if text is None:
        return []
    if text.isascii():
        return [t.lower() for t in _ASCII_TOKEN_RE.findall(text)]
    toks: list[str] = []
    for seg in _segments(text):
        for word in seg.split():
            toks.extend(_split_preserve(word))
    return [_normalize_token(t) for t in toks]


def tokenize_series(texts: pd.Series) -> pd.Series:
    """Vectorized-ish tokenization of a pandas string Series.

    Used inside pandas UDFs / mapInPandas. The regex fast path covers
    ASCII rows; non-ASCII rows take the exact char-level path.
    """
    return texts.map(tokenize)


def ngrams(tokens: list[str], n: int) -> list[str]:
    """Sliding-window token concatenation, reference NGramTokenStream
    semantics (crates/core/src/tokenizer/fields/ngram.rs:46-83, test
    vectors in bigram.rs/trigram.rs): texts with fewer than n tokens
    emit ONE token — the concatenation of all of them — so a
    single-token doc is findable through its compound field."""
    if not tokens:
        return []
    if len(tokens) < n:
        return ["".join(tokens)]
    return ["".join(tokens[i:i + n])
            for i in range(len(tokens) - n + 1)]


def bigrams(tokens: list[str]) -> list[str]:
    """Reference bigram tokenizer (tokenizer/fields/bigram.rs:39-47)."""
    return ngrams(tokens, 2)


def trigrams(tokens: list[str]) -> list[str]:
    return ngrams(tokens, 3)

