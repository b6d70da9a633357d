"""Seeded input generators for the benchmark workloads.

The generators are self-contained: they import nothing from the program, so
no change to the program can change the load.  Every generator is a pure
function of its arguments (seed included) and returns plain row dicts in the
transcript shape ``(conv_id, turn_idx, role, text, tool, ts)``.

A small share of turns carries cases the program's own fixtures never
produce: null and empty text, non-ASCII text (including ``İ``, whose
lower-casing changes the string length) and detached-comma weekday dates
such as ``friday , march 5``.
"""

from __future__ import annotations

import datetime as dt
import random
import statistics

ROLES = ("user", "assistant", "tool", "system")
TOOLS = ("search", "python", "browser", "sql")

# surfaces the built-in gazetteer knows (several concepts, multi-word,
# misspelled, non-T061 and blacklisted ones) plus look-alikes it does not
TERMS = (
    "cisplatin", "carboplatin", "5-fu", "fluorouracil", "doxorubicin",
    "liposomal doxorubicin", "folfox", "folfiri", "xelox", "capecitabine",
    "gemcitabine", "paclitaxel", "taxol", "docetaxel", "irinotecan",
    "interferon", "alpha 2b interferon", "interleukin-2", "chemotherapy",
    "chemo", "chmeo", "spark", "hash join", "sort merge", "window",
    "vector", "table scan", "aspirin", "glucose", "batch", "ac", "cap",
)
NON_TERMS = (
    "labs", "imaging", "dosage", "pipeline", "cluster", "query", "report",
    "schedule", "follow-up", "metrics", "schema", "partition", "review",
    "stable", "monitoring", "config", "latency", "results", "notes",
    "patient", "plan", "team", "output", "input", "table", "index",
)
GRAMMAR_TIMEXES = (
    "yesterday", "today", "tomorrow", "last week", "next month",
    "this year", "3 days ago", "two weeks ago", "in 5 days", "last monday",
    "next friday", "this morning", "last night", "at 3 pm", "10:30 am",
    "the day before yesterday", "every 2 weeks", "daily", "last winter",
    "the 1990s", "next weekend", "late last year", "the following day",
    "christmas", "3 years earlier", "coming friday",
)
WEEKDAYS = ("monday", "tuesday", "wednesday", "thursday", "friday",
            "saturday", "sunday")
MONTHS = ("january", "february", "march", "april", "may", "june", "july",
          "august", "september", "october", "november", "december")
NON_ASCII = (
    "İstanbul clinic note", "LAST WEEK İN review", "naïve régime",
    "Größe prüfen", "résumé für café", "dosis für Ärzte", "ıi İI",
)
BASE_TS = dt.datetime(2023, 1, 2, 9, 0, 0)


def _planted_date(rng: random.Random, anchor: dt.date) -> str:
    d = anchor - dt.timedelta(days=rng.randint(1, 300))
    form = rng.randrange(3)
    if form == 0:
        return f"{d.month}/{d.day}/{d.year}"
    if form == 1:
        return f"{MONTHS[d.month - 1]} {d.day}, {d.year}"
    return f"{MONTHS[d.month - 1][:3]} {d.day} {d.year}"


def _words(rng: random.Random, n: int) -> list:
    return [NON_TERMS[rng.randrange(len(NON_TERMS))] for _ in range(n)]


def _short_text(rng: random.Random, anchor: dt.date):
    """~55 words: one or two planted terms, a planted date and one
    grammar-kind timex between filler. Returns (text, n_terms, n_timexes)."""
    n_terms = 1 + (rng.random() < 0.4)
    parts = _words(rng, rng.randint(8, 14))
    parts.append(TERMS[rng.randrange(len(TERMS))])
    parts += _words(rng, rng.randint(4, 10))
    parts += ["on", _planted_date(rng, anchor), ","]
    parts += _words(rng, rng.randint(6, 12))
    parts.append(GRAMMAR_TIMEXES[rng.randrange(len(GRAMMAR_TIMEXES))])
    if n_terms == 2:
        parts += _words(rng, rng.randint(2, 6))
        parts.append(TERMS[rng.randrange(len(TERMS))])
    parts += _words(rng, rng.randint(8, 14))
    parts.append(".")
    return " ".join(parts), n_terms, 2


def _edge_text(rng: random.Random, anchor: dt.date):
    """One of the cases the fixtures never produce."""
    case = rng.randrange(4)
    if case == 0:
        return None, 0, 0
    if case == 1:
        return "", 0, 0
    if case == 2:
        term = TERMS[rng.randrange(len(TERMS))]
        text = (f"{NON_ASCII[rng.randrange(len(NON_ASCII))]} {term} "
                f"{NON_ASCII[rng.randrange(len(NON_ASCII))]} last week .")
        return text, 1, 1
    # detached comma between weekday and month-day: the gated detector's
    # known hole, kept in the load on purpose
    term = TERMS[rng.randrange(len(TERMS))]
    day = f"{WEEKDAYS[rng.randrange(7)]} , {MONTHS[anchor.month - 1]} {rng.randint(1, 28)}"
    return f"{term} was given {day} , then stopped .", 1, 1


def _turn(conv: str, i: int, t0: dt.datetime, rng: random.Random, text: str):
    role = ROLES[rng.randrange(len(ROLES))]
    return {
        "conv_id": conv,
        "turn_idx": i,
        "role": role,
        "text": text,
        "tool": TOOLS[rng.randrange(len(TOOLS))] if role == "tool" else None,
        "ts": t0 + dt.timedelta(hours=6 * i, minutes=rng.randint(0, 59)),
    }


def short_turns(seed: int, n_turns: int, turns_per_conv: int = 67):
    """Short conversational turns, ~67 per conversation, 2% of them the
    unusual cases. Returns (rows, planted) where planted holds per-turn
    (terms, timexes) counts."""
    rng = random.Random(seed)
    rows, planted = [], []
    conv_no = 0
    while len(rows) < n_turns:
        conv = f"c{seed % 1000:03d}-{conv_no:05d}"
        conv_no += 1
        t0 = BASE_TS + dt.timedelta(days=rng.randint(0, 600))
        n = min(n_turns - len(rows),
                max(1, int(rng.gauss(turns_per_conv, turns_per_conv / 5))))
        for i in range(n):
            anchor = (t0 + dt.timedelta(hours=6 * i)).date()
            if rng.random() < 0.02:
                text, nt, nx = _edge_text(rng, anchor)
            else:
                text, nt, nx = _short_text(rng, anchor)
            rows.append(_turn(conv, i, t0, rng, text))
            planted.append((nt, nx))
    return rows, planted


def describe(rows, planted) -> dict:
    """Input statistics recorded with every result."""
    words = sorted(len((r["text"] or "").split()) for r in rows)
    q = statistics.quantiles(words, n=10) if len(words) > 1 else words * 9
    return {
        "turns": len(rows),
        "bytes": sum(len((r["text"] or "").encode("utf-8")) for r in rows),
        "words_per_turn": {"p10": q[0], "p50": q[4], "p90": q[8],
                           "max": words[-1] if words else 0},
        "planted_terms_per_turn": round(
            sum(p[0] for p in planted) / max(1, len(planted)), 3),
        "planted_timexes_per_turn": round(
            sum(p[1] for p in planted) / max(1, len(planted)), 3),
        "null_or_empty_turns": sum(1 for r in rows if not r["text"]),
        "non_ascii_turns": sum(
            1 for r in rows if r["text"] and not r["text"].isascii()),
        "detached_comma_turns": sum(
            1 for r in rows if r["text"] and " , " in r["text"]
            and any(f"{w} , " in r["text"] for w in WEEKDAYS)),
    }
