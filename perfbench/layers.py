"""Per-layer measurements for the traced run.

Two instruments, both timing the program's public functions from outside:

* ``per_turn`` calls the per-turn Python functions (``text``, ``timex``,
  ``annotate``, ``score``, ``pair.turn_triples``) single-threaded in the
  driver on a fixed seeded sample of the workload's turns, after a warm
  pass over the same sample;
* ``sweep`` times each Spark-level layer on the workload's whole input
  with the noop sink, one labelled job group per call, and records the
  epoch window of each call so the event log can be split by layer.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from harness import dir_files, noop, remove


def per_turn(rows: list, bench, sample_n: int, seed: int) -> dict:
    from kgpipe.annotate import anchor_for, annotate_turn, full_anchor_for
    from kgpipe.pair import turn_triples
    from kgpipe.score import get_tlink_instance, tlink_label, tokens_for_mode
    from kgpipe.text import match_gazetteer, tokenize
    from kgpipe.timex import detect_timexes, normalize_timex

    gaz, bl, cfg = bench.gaz, bench.bl, bench.cfg
    sample = random.Random(seed).sample(rows, min(sample_n, len(rows)))
    pc = time.perf_counter

    def one_pass():
        acc = dict.fromkeys(
            ("tok", "gaz", "det", "norm", "ann", "tt", "inst", "lab"), 0.0)
        n = dict.fromkeys(("mentions", "kept", "timexes", "normed", "cand", "hits"), 0)
        max_pairs = 0
        for r in sample:
            text, ts = r["text"] or "", r["ts"]
            t0 = pc()
            toks, tmap, nl = tokenize(text)
            t1 = pc()
            matches = match_gazetteer(toks, tmap, nl, gaz, min_span=cfg.min_term_span,
                                      all_spans=cfg.all_spans)
            t2 = pc()
            found = detect_timexes(text)
            t3 = pc()
            anchor_full = full_anchor_for(ts, anchor_for(ts, text))
            t4 = pc()
            normed = [normalize_timex(t["surface"], t["kind"], anchor_full) for t in found]
            t5 = pc()
            anchor, (toks_raw, nl_raw), ments, tmx = annotate_turn(
                r["conv_id"], r["turn_idx"], r["text"], ts, gaz, bl, cfg,
                with_token_rows="raw")
            t6 = pc()
            turn_triples(r["conv_id"], r["turn_idx"], r["role"], r["tool"], ts,
                         r["text"], gaz, bl, cfg)
            t7 = pc()
            acc["tok"] += t1 - t0
            acc["gaz"] += t2 - t1
            acc["det"] += t3 - t2
            acc["norm"] += t5 - t4
            acc["ann"] += t6 - t5
            acc["tt"] += t7 - t6
            n["mentions"] += len(matches)
            n["timexes"] += len(found)
            n["normed"] += sum(v is not None for v in normed)
            # the fused path's F1/F2/F5 filters, then its ±window test
            pos = [m for m in ments if m["tui"] == cfg.keep_tui
                   and m["surface"].strip().lower() not in bl]
            rel = [t for t in tmx if t["normed"] is not None]
            n["kept"] += len(pos)
            n["cand"] += len(pos) * len(rel)
            max_pairs = max(max_pairs, len(pos) * len(rel))
            tokens = tokens_for_mode(toks_raw, nl_raw, "dtr")
            for m in pos:
                for t in rel:
                    if not (m["win_char_begin"] <= t["begin"] <= m["win_char_end"]
                            and m["win_char_begin"] <= t["end"] <= m["win_char_end"]):
                        continue
                    n["hits"] += 1
                    t8 = pc()
                    get_tlink_instance((m["tok_begin"], m["tok_end"] + 1),
                                       (t["tok_begin"], t["tok_end"] + 1), tokens)
                    t9 = pc()
                    tlink_label(t["normed"], anchor)
                    acc["inst"] += t9 - t8
                    acc["lab"] += pc() - t9
        return acc, n, max_pairs

    one_pass()  # warm: imports, regex compiles, memo tables
    acc, n, max_pairs = one_pass()
    turns = len(sample)
    us = 1e6
    parts = acc["tok"] + acc["gaz"] + acc["det"] + acc["norm"]
    return {
        "text.tokenize_us": acc["tok"] / turns * us,
        "text.match_gazetteer_us": acc["gaz"] / turns * us,
        "text.mentions_per_turn": n["mentions"] / turns,
        "timex.detect_us": acc["det"] / turns * us,
        "timex.normalize_us": acc["norm"] / max(1, n["timexes"]) * us,
        "timex.timexes_per_turn": n["timexes"] / turns,
        "timex.normed_ratio": n["normed"] / max(1, n["timexes"]),
        "annotate.self_us": (acc["ann"] - parts) / turns * us,
        "score.tlink_instance_us": acc["inst"] / max(1, n["hits"]) * us,
        "score.tlink_label_us": acc["lab"] / max(1, n["hits"]) * us,
        "pair.turn_triples_self_us": (acc["tt"] - acc["ann"]) / turns * us,
        "pair.turn_triples_us": acc["tt"] / turns * us,
        "pair.candidate_pairs": n["cand"] / turns,
        "pair.window_hit_ratio": n["hits"] / max(1, n["cand"]),
        "pair.max_pairs_per_turn": float(max_pairs),
        "extract.mentions_kept_ratio": n["kept"] / max(1, n["mentions"]),
    }


class Sweep:
    """Noop-sink timings of every Spark-level layer on one input."""

    def __init__(self, bench):
        self.bench = bench
        self.windows = {}   # layer -> (epoch start, epoch end)
        self.m = {}
        self.failures = []  # failed output checks of the sweep's own writes

    def timed(self, name: str, fn) -> float:
        self.bench.group(name)
        e0, t0 = time.time(), time.perf_counter()
        try:
            fn()
        finally:
            sec = time.perf_counter() - t0
            self.windows[name] = (e0, time.time())
            self.bench.group(None)
        return sec

    def warm(self, src) -> None:
        """Run the structured and graph layers once so the JVM has compiled
        their operators before they are timed."""
        from kgpipe.anafora import anafora_documents
        from kgpipe.canon import canonical_nodes
        from kgpipe.graph import cross_turn_event_edges
        from kgpipe.pipeline import build_annotations, build_triples

        b = self.bench
        b.group("warm")
        noop(build_triples(src, b.gaz, b.bl, b.cfg, fused=False))
        ann = build_annotations(src, b.gaz, b.bl, b.cfg, persist=False)
        noop(cross_turn_event_edges(ann["mentions_f"], b.cfg))
        noop(canonical_nodes(ann["mentions_f"]))
        noop(anafora_documents(ann["mentions"], ann["timexes"]))
        b.group(None)

    def fused(self, src) -> float:
        """Noop wall of the fused triples, timed on the second of two runs."""
        from kgpipe.pair import fused_triples

        b = self.bench
        for name in ("warm", "pair.fused_triples"):
            sec = self.timed(name, lambda: noop(fused_triples(src, b.gaz, b.bl, b.cfg)))
        self.m["pair.fused_triples_s"] = sec
        return sec

    def sink(self, src, out_dir: str) -> None:
        """run_with_resume into a fresh sink; sink cost is its wall minus
        the noop wall of the same triples."""
        from kgpipe.materialize import run_with_resume
        from kgpipe.pipeline import build_triples

        b = self.bench
        wall = self.timed("materialize.run_with_resume", lambda: run_with_resume(
            b.spark, src, out_dir,
            lambda df: build_triples(df, b.gaz, b.bl, b.cfg, fused=True),
            run_id="sweep", source_snapshot_id="sweep", n_buckets=16))
        self.sink_from(wall, out_dir)
        remove(out_dir)

    def sink_from(self, wall: float, out_dir: str) -> None:
        files, size = dir_files(os.path.join(out_dir, "triples"))
        self.m["materialize.sink_s"] = wall - self.m["pair.fused_triples_s"]
        self.m["materialize.files_written"] = float(files)
        self.m["materialize.bytes_written"] = float(size)

    def structured(self, src) -> None:
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from kgpipe.extract import annotate_union, assign_union_ids, filter_union
        from kgpipe.pair import pair_window, tlink_triples_from_pairs

        b = self.bench

        def ann():
            return annotate_union(src, b.gaz, b.bl, b.cfg)

        def filt():
            return filter_union(ann(), b.bl, b.cfg)

        t_a = self.timed("extract.annotate_union", lambda: noop(ann()))
        t_f = self.timed("extract.filter_union", lambda: noop(filt()))
        t_w = self.timed("extract.assign_union_ids",
                         lambda: noop(assign_union_ids(filt())))
        self.m["extract.annotate_union_s"] = t_a
        self.m["extract.filter_union_s"] = t_f - t_a
        self.m["extract.assign_union_ids_s"] = t_w - t_f
        union = assign_union_ids(filt()).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            self.timed("extract.cache", union.count)
            pairs = pair_window(union.where(F.col("kind_rank") == 0),
                                union.where(F.col("kind_rank") == 1))
            self.m["pair.pair_score_s"] = self.timed(
                "pair.pair_score", lambda: noop(tlink_triples_from_pairs(
                    pairs, union.where(F.col("kind_rank") == 2), b.cfg)))
        finally:
            union.unpersist()

    def graph(self, src) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from kgpipe.anafora import anafora_documents
        from kgpipe.canon import canonical_nodes
        from kgpipe.graph import cross_turn_event_edges
        from kgpipe.pipeline import build_annotations

        b = self.bench
        ann = build_annotations(src, b.gaz, b.bl, b.cfg)
        try:
            self.timed("extract.build_annotations",
                       lambda: (ann["mentions"].count(), ann["timexes"].count()))
            obs_e, obs_n = Observation("edges"), Observation("nodes")
            edges = cross_turn_event_edges(ann["mentions_f"], b.cfg).observe(
                obs_e, F.count(F.lit(1)).alias("n"))
            nodes = canonical_nodes(ann["mentions_f"]).observe(
                obs_n, F.count(F.lit(1)).alias("n"))
            self.m["graph.cross_turn_edges_s"] = self.timed(
                "graph.cross_turn_edges", lambda: noop(edges))
            self.m["canon.canonical_nodes_s"] = self.timed(
                "canon.canonical_nodes", lambda: noop(nodes))
            self.m["anafora.documents_s"] = self.timed(
                "anafora.documents",
                lambda: noop(anafora_documents(ann["mentions"], ann["timexes"])))
            self.m["graph.edges"] = float(obs_e.get["n"])
            self.m["canon.nodes"] = float(obs_n.get["n"])
        finally:
            for key in ("annotated", "mentions", "timexes"):
                ann[key].unpersist()


def drain_and_compact(bench, input_dir: str, out: str) -> dict:
    """``run_incremental_materialize`` over ``input_dir`` one file per
    micro-batch, then ``compact_snapshots``; both timed."""
    from kgpipe.materialize import TableSink, compact_snapshots
    from kgpipe.streaming import run_incremental_materialize

    store = os.path.join(out, "store")
    t0 = time.perf_counter()
    q = run_incremental_materialize(
        bench.spark, input_dir, store, os.path.join(out, "ckpt"), bench.gaz,
        bench.bl, bench.cfg, max_files_per_trigger=1, timeout_sec=150.0)
    drain = time.perf_counter() - t0
    before = dir_files(os.path.join(store, "triples"))[0]
    t1 = time.perf_counter()
    compact_snapshots(TableSink(bench.spark, out_dir=store))
    compact = time.perf_counter() - t1
    dur = [p.durationMs for p in q.recentProgress if p.numInputRows > 0]
    return {"out": out, "store": store, "durations": dur,
            "latencies": [d.get("triggerExecution", 0) / 1e3 for d in dur],
            "drain_s": drain, "compact_s": compact, "store_before": before,
            "store_after": dir_files(os.path.join(store, "triples"))[0]}


def stream_metrics(res: dict) -> dict:
    dur = res["durations"]
    return {
        "streaming.micro_batches": float(len(dur)),
        "streaming.add_batch_ms_p50": _median([d.get("addBatch", 0) for d in dur]),
        "streaming.query_planning_ms_p50": _median([d.get("queryPlanning", 0) for d in dur]),
        "streaming.wal_commit_ms_p50": _median([d.get("walCommit", 0) for d in dur]),
        "streaming.start_s": res["drain_s"] - sum(res["latencies"]),
        "materialize.compact_s": res["compact_s"],
        "materialize.store_files_before": float(res["store_before"]),
        "materialize.store_files_after": float(res["store_after"]),
    }


def _median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def spark_layer(log, windows: dict, t0: float, t1: float) -> dict:
    """spark.* over the traced operation's window, plus the per-layer
    event-log metrics of the sweep's windows."""
    op = log.window(t0, t1)
    tot = op.spark_totals()
    py_all = op.python()
    m = {
        "spark.executor_cpu_s": tot["executor_cpu_s"],
        "spark.gc_s": tot["gc_s"],
        "spark.spill_bytes": tot["spill_bytes"],
        "spark.py_worker_boot_s": py_all["boot_s"],
        "spark.task_skew": tot["task_skew"],
    }
    if "pair.fused_triples" in windows:
        py = log.window(*windows["pair.fused_triples"]).python("triples")
        m.update({"pair.py_worker_s": py["run_s"], "pair.arrow_bytes_in": py["bytes_in"],
                  "pair.arrow_bytes_out": py["bytes_out"]})
    if "extract.annotate_union" in windows:
        py = log.window(*windows["extract.annotate_union"]).python("annotate")
        m.update({"extract.py_worker_s": py["run_s"],
                  "extract.arrow_bytes_out": py["bytes_out"]})
    if "extract.assign_union_ids" in windows:
        m["extract.shuffle_bytes"] = log.window(
            *windows["extract.assign_union_ids"]).spark_totals()["shuffle_bytes"]
    if "canon.canonical_nodes" in windows:
        m["canon.shuffle_bytes"] = log.window(
            *windows["canon.canonical_nodes"]).spark_totals()["shuffle_bytes"]
    return m


def cli_layer(log, t0: float | None = None, t1: float | None = None) -> dict:
    """run.*: annotate MapInPandas nodes that ran, and jobs, in one run of
    the operation (the whole log of a CLI run)."""
    op = log.window(t0, t1)
    return {"run.annotate_nodes": float(op.python("annotate")["nodes"]),
            "run.jobs": float(len(op.job_ids))}


def boundary_us(m: dict, turns: int) -> float:
    """Python-worker time per turn beyond the per-turn functions themselves:
    Arrow/pandas conversion, row iteration and output frame assembly."""
    return m["pair.py_worker_s"] / turns * 1e6 - m["pair.turn_triples_us"]

