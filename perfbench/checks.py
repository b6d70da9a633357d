"""Output checks.  Each check returns a list of failure messages (empty when
the output is correct); the benchmark counts a run of its operation as
failed when any message comes back.  The checks take plain Python values so
the self-test can feed them deliberately corrupted outputs."""

from __future__ import annotations

from collections import Counter

TRIPLE_COLS = ("subj", "pred", "obj", "anchor_date", "conv_id", "turn_idx",
               "subj_text", "obj_text", "instance")


def triple_keys(rows) -> Counter:
    """Multiset of triples. ``rows`` are mappings (Spark rows as dicts,
    parquet rows, or the dicts ``pair.turn_triples`` returns); values are
    compared as strings, NULL kept apart from the empty string."""
    return Counter(tuple(None if r[c] is None else str(r[c]) for c in TRIPLE_COLS)
                   for r in rows)


def parquet_rows(path: str, columns=TRIPLE_COLS) -> list:
    """Rows of a (hive-partitioned) parquet directory, read without Spark."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=list(columns)).to_pylist()


def reference_keys(rows: list, bench) -> Counter:
    """Triples of ``rows`` computed by calling ``pair.turn_triples``, the
    fused path's per-turn function, in the driver."""
    from kgpipe.pair import turn_triples

    return triple_keys(
        t for r in rows for t in turn_triples(
            r["conv_id"], r["turn_idx"], r["role"], r["tool"], r["ts"], r["text"],
            bench.gaz, bench.bl, bench.cfg))


def same_multiset(label: str, got: Counter, want: Counter) -> list:
    if got == want:
        return []
    missing = sum((want - got).values())
    extra = sum((got - want).values())
    return [f"{label}: {missing} triples missing, {extra} unexpected "
            f"({sum(got.values())} vs {sum(want.values())})"]


def sink_complete(label: str, readback: int, written: int,
                  lineage: list, want_parts: set) -> list:
    """``lineage`` is [(part, count)] from the lineage table; every expected
    part (bucket or snapshot id) must be covered and the counts must add up
    to what the sink holds."""
    fails = []
    if readback != written:
        fails.append(f"{label}: read back {readback} triples, {written} written")
    parts = {p for p, _ in lineage}
    if parts != want_parts:
        fails.append(f"{label}: lineage covers {len(parts & want_parts)} of "
                     f"{len(want_parts)} parts, {len(parts - want_parts)} unknown")
    if sum(c for _, c in lineage) != readback:
        fails.append(f"{label}: lineage counts {sum(c for _, c in lineage)} "
                     f"triples, sink holds {readback}")
    return fails


def exactly_once(label: str, micro_batches: int, files: int,
                 store: Counter, batch: Counter) -> list:
    """A drained backlog of ``files`` files must have run one micro-batch per
    file and left a store equal to one batch run over the same files."""
    fails = []
    if micro_batches != files:
        fails.append(f"{label}: {micro_batches} micro-batches for {files} files")
    return fails + same_multiset(label, store, batch)


def attribution_counts(label: str, keys: Counter, rows: list) -> list:
    """Speaker and tool triples follow from the input alone: one per turn
    with a role, one per tool turn with a tool."""
    pred = TRIPLE_COLS.index("pred")
    triples = Counter()
    for k, n in keys.items():
        triples[k[pred]] += n
    want = Counter()
    for r in rows:
        if r["role"] is not None:
            want["speaker-attribution"] += 1
        if r["tool"]:
            want["tool-invocation"] += 1
    return [f"{label}: {triples[p]} {p} triples, input implies {n}"
            for p, n in want.items() if triples[p] != n]
