"""Deterministic tokenizer + closed-class tagger.

Token classes (coarse POS): DET, PREP, CONJ, COP (copula/aux), PART
(past participle after a copula), ADV, NUM, PUNCT, NOUN (default), PROPN
(capitalized default). Replaces CoreNLP's tokenize+pos stages
(reference: TripleParser.scala:42-60) with a closed-class lexicon: in the
fixture grammar every open-class non-verb word is a noun, which is exactly
the population mention detection cares about (noun runs, TripleParser.scala:122-170).
"""

from __future__ import annotations

import re

from . import lexicon as lx

# [^\W\d_] = any unicode letter — identifiers and prose in non-ASCII
# scripts must tokenize as words, not per-character noise
_TOKEN_RE = re.compile(r"[^\W\d_][\w'&-]*[^\W\d_]|[^\W\d_]|\d+(?:[.,]\d+)*|[,;:.!?()]")

_SENT_SPLIT_RE = re.compile(r"(?<=[.!?])\s+(?=\S)")


class Token:
    """Slotted token with precomputed noun flags: ~620k allocations and
    ~1.6M flag reads per 3k-doc batch make dataclass+property overhead the
    hot path; plain attributes are perf-only, same surface."""

    __slots__ = ("text", "pos", "idx", "is_noun", "is_propn")

    def __init__(self, text: str, pos: str, idx: int):
        # pos ∈ DET PREP CONJ COP PART ADV NUM PUNCT NOUN PROPN PRON
        self.text = text
        self.pos = pos
        self.idx = idx
        self.is_propn = pos == "PROPN"
        self.is_noun = pos == "NOUN" or self.is_propn

    def __repr__(self) -> str:  # parity with the old dataclass repr
        return f"Token(text={self.text!r}, pos={self.pos!r}, idx={self.idx!r})"


def split_sentences(text: str) -> list[str]:
    """Split a text blob into sentences (ssplit analog)."""
    parts = [s.strip() for s in _SENT_SPLIT_RE.split(text or "")]
    return [p for p in parts if p]


_NUM_RE = re.compile(r"\d+(?:[.,]\d+)*")

# POS is a pure function of (raw, mid_sentence, prev_cop); tokens repeat
# enormously across a corpus (keywords, identifiers, stopwords), so a
# bounded memo removes the lexicon-probe cascade from the hot path.
# Identical decisions to the inline logic — perf only.
_POS_CACHE: dict[tuple[str, bool, bool], str] = {}
_POS_CACHE_MAX = 1 << 20


def _pos_of(raw: str, mid: bool, prev_cop: bool) -> str:
    key = (raw, mid, prev_cop)
    pos = _POS_CACHE.get(key)
    if pos is not None:
        return pos
    low = raw.lower().rstrip(".") if raw not in (".",) else raw
    if _NUM_RE.fullmatch(raw):
        pos = "NUM"
    elif raw in ",;:.!?()":
        pos = "PUNCT"
    elif low in lx.DETERMINERS:
        pos = "DET"
    elif low in lx.DATE_WORDS and raw[0].isupper() and mid:
        # capitalized month/day mid-sentence, e.g. "May" ≠ modal "may"
        pos = "PROPN"
    elif low in lx.COPULAS:
        pos = "COP"
    elif low in lx.PARTICIPLES and prev_cop:
        pos = "PART"
    elif low in lx.PREPOSITIONS:
        pos = "PREP"
    elif low in lx.CONJUNCTIONS:
        pos = "CONJ"
    elif low in lx.ADVERBS:
        pos = "ADV"
    elif low in lx.NUMBER_WORDS:
        pos = "NUM"
    elif low in lx.PRONOUNS:
        pos = "PRON"
    elif low in lx.DATE_WORDS:
        # month/day names are proper nouns (DATE NER later)
        pos = "PROPN" if raw[0].isupper() else "NOUN"
    elif raw[0].isupper():
        pos = "PROPN"
    else:
        pos = "NOUN"
    if len(_POS_CACHE) < _POS_CACHE_MAX:
        _POS_CACHE[key] = pos
    return pos


def tokenize(sentence: str) -> list[Token]:
    toks: list[Token] = []
    prev_cop = False
    for i, raw in enumerate(_TOKEN_RE.findall(sentence)):
        pos = _pos_of(raw, i > 0, prev_cop)
        toks.append(Token(raw, pos, i))
        prev_cop = pos in ("COP", "PART", "ADV") if pos != "PUNCT" else False
    return toks
