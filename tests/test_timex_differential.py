"""Differential guard for the digit-region finditer optimization: the
region-scanned detect_timexes must equal the straightforward full-text scan
(kept inline here as the executable spec) on seeded adversarial inputs —
boundary-hugging dates, repeated whitespace, digit-adjacent words."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from kgpipe.timex import TIMEX_PATTERNS, _DIGIT_RE, _QUICK_KEYS, detect_timexes


def _detect_full_scan(text: str):
    lower = text.lower()
    has_digit = _DIGIT_RE.search(text) is not None
    candidates = []
    for prio, (kind, pat) in enumerate(TIMEX_PATTERNS):
        quick = _QUICK_KEYS.get(kind)
        if quick == "digit":
            if not has_digit:
                continue
        elif quick is not None and not any(k in lower for k in quick):
            continue
        for m in pat.finditer(text):
            candidates.append(
                (m.start(), -(m.end() - m.start()), prio, m.end(), kind)
            )
    candidates.sort()
    out, kept = [], []
    for begin, _neglen, _prio, end, kind in candidates:
        if any(b < end and begin < e for b, e in kept):
            continue
        kept.append((begin, end))
        out.append(
            {"begin": begin, "end": end, "surface": text[begin:end], "kind": kind}
        )
    out.sort(key=lambda d: d["begin"])
    return out


_WORDS = [
    "september", "jan", "alpha", "in", "ago", "last", "friday", "now",
    "5", "28", "2021", "1999", "12/25/2020", "2021-03-04", "x9y",
    "a", "two", "days", "months", ",", ".", "5,", "2021.", "abc123def",
    "...", "word", "this", "year", "sept.", "may",
    # round-2 grammar: seasons/decades/week-of/ToD/SET trigger words
    "summer", "winter", "fall", "1990s", "'90s", "the", "20s", "90s",
    "week", "of", "every", "weekly", "morning", "night", "tonight",
    "christmas", "thanksgiving", "march", "5th", "29",
    "pm", "am", "3", "10:30", "day", "before", "after", "decades",
    # round-7 gate stress: the word-level indicator conditions for the
    # region-bounded kinds (or-so/up-to connectives, proper fractions,
    # mod-in-span words, worded clocks) and their everyday near-misses
    "or", "so", "up", "to", "1/2", "2", "part", "earlier", "later",
    "noon", "for", "some", "today", "group", "into", "p.m.", "weeks",
    # weekday words, bare and comma-glued, for the "[weekday] , [date]"
    # composition's detached-comma reach
    "monday", "tue", "wednesday", "thurs", "sunday", "friday,", ",",
]
_SEPS = [" ", "  ", " \n ", "\t", "   "]
_PUNCT = [",", ".", ";", ":", "-", "/", "(", ")", "'", "?"]


def test_region_scan_equals_full_scan_seeded():
    rng = random.Random(20260816)
    for _ in range(4000):
        n = rng.randint(0, 12)
        text = ""
        for i in range(n):
            text += rng.choice(_WORDS)
            if i < n - 1:
                text += rng.choice(_SEPS)
        assert detect_timexes(text) == _detect_full_scan(text), repr(text)


_SEP = st.sampled_from(_SEPS + [""])
# a date-shaped phrase from the patterns' own vocabularies: optional
# weekday, optional punctuation, optional month word, then a number — the
# compositions whose left reach the digit region must cover
_PHRASE = st.tuples(
    st.sampled_from(["", "friday", "Mon", "tuesday", "sunday,"]), _SEP,
    st.sampled_from(["", ",", ";", "."]), _SEP,
    st.sampled_from(["", "march", "sept.", "of", "the"]), _SEP,
    st.sampled_from(["5", "5th", "2021", "3/5/2021", "2021-03-04", "1990s"]),
).map("".join)
_CHUNK = st.one_of(st.sampled_from(_WORDS + _PUNCT), _PHRASE)


@settings(max_examples=600, deadline=None)
@given(st.lists(st.tuples(_CHUNK, _SEP), max_size=10))
def test_region_scan_equals_full_scan_property(stream):
    """Gated detection == full scan over random streams of the pattern
    vocabulary plus punctuation; the empty separator glues neighbours
    ("friday," / "5,")."""
    text = "".join(w + s for w, s in stream)
    assert detect_timexes(text) == _detect_full_scan(text), repr(text)


def test_weekday_date_detached_comma():
    """A comma standing alone between the weekday and the date still
    composes one weekday_date — the digit region must reach three word
    gaps left of the first digit, not two."""
    for text in ("friday , march 5", "on friday  ,  march 5th , 2021 ok"):
        got = detect_timexes(text)
        assert got == _detect_full_scan(text), repr(text)
        assert [t["kind"] for t in got] == ["weekday_date"], got
    got = detect_timexes("friday , march 5")
    assert got[0]["surface"] == "friday , march 5"


def test_region_scan_handpicked_boundaries():
    cases = [
        "",  # empty
        "2021",  # digit at both edges
        "september 5, 2021",  # month-word prefix before first digit
        "x september  5 ,  2021 y",  # multi-space gaps inside the match
        "abc123def",  # digits glued to letters: \b must NOT match
        "1999 word word word september 2021",  # two digit clusters spanning words
        "in 3 days",  # digit pattern not in _DIGIT_BOUNDED (keyword-gated)
        "now 2021-03-04",  # ref word + iso date
        "5",  # single digit token
        "word 19 99",  # split digits — bare_year must not fire
    ]
    for text in cases:
        assert detect_timexes(text) == _detect_full_scan(text), repr(text)
