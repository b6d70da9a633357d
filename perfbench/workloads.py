"""The benchmark workloads.  Each one generates its input from the seed,
lands it as parquet before timing, runs one timed operation per iteration
through a public entry point of the program, and checks the result outside
the timed region.

All workloads are closed loops with one client: the next operation starts
only after the previous one has returned.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time

import gen
from checks import (attribution_counts, exactly_once, parquet_rows,
                    reference_keys, same_multiset, sink_complete, triple_keys)
from harness import CORES, MASTER, SHUFFLE_PARTITIONS, child_env, remove
from layers import drain_and_compact, stream_metrics
from proctree import TreeSampler

SIZES = {"fused-short": 8000, "cli-graph": 3000}
STREAM_FILES, STREAM_TURNS_PER_FILE = 3, 60
BUCKETS = 16


def land(rows: list, path: str, n_files: int) -> None:
    """Write ``rows`` as ``n_files`` parquet files in the transcript schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                        ("role", pa.string()), ("text", pa.string()),
                        ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC"))])
    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // n_files)
    for k in range(n_files):
        part = rows[k * per:(k + 1) * per]
        if part:
            pq.write_table(pa.Table.from_pylist(part, schema=schema),
                           os.path.join(path, f"part-{k:05d}.parquet"))


class Workload:
    name = ""
    own_process = False  # the operation runs (and samples) its own process

    def __init__(self, seed: int, factor: float, work: str):
        self.seed, self.factor, self.work = seed, factor, work
        self.sample_ref = self.first = None  # filled by the first check
        self.rows, planted = self.generate()
        self.stats = gen.describe(self.rows, planted)
        self.input_dir = os.path.join(work, "input")

    def generate(self):
        raise NotImplementedError

    def land(self) -> None:
        # one file per core: Spark's split packing then makes exactly one
        # partition per file whatever the file sizes, so the task count
        # does not depend on the seed
        land(self.rows, self.input_dir, CORES)

    def warm(self, bench) -> None:
        """Untimed pass that lets the JVM compile the workload's code paths."""

    def op(self, bench, i: int, event_dir: str | None = None) -> dict:
        raise NotImplementedError

    def check(self, bench, res: dict) -> list:
        raise NotImplementedError

    def sweep(self, bench, sw, res: dict) -> None:
        """Time every Spark-level layer on this workload's input, after an
        untimed pass of the same layers over a small slice of it."""
        warm_dir = os.path.join(self.work, "sweep-warm")
        land(self.rows[:400], warm_dir, 4)
        sw.warm(bench.spark.read.parquet(warm_dir))
        src = bench.spark.read.parquet(self.input_dir)
        sw.fused(src)
        self.sweep_sink(bench, sw, src, res)
        sw.structured(src)
        sw.graph(src)
        self.sweep_stream(bench, sw, res)

    def sweep_sink(self, bench, sw, src, res) -> None:
        sw.sink(src, os.path.join(self.work, "sweep-sink"))

    def sweep_stream(self, bench, sw, res) -> None:
        """A small backlog of this workload's first turns, drained one file
        per micro-batch and compacted, so the streaming layers are measured
        on every input; the store is checked like any other output."""
        d = os.path.join(self.work, "sweep-stream")
        input_dir = os.path.join(d, "in")
        land(self.rows[:STREAM_FILES * STREAM_TURNS_PER_FILE], input_dir, STREAM_FILES)
        drained = drain_and_compact(bench, input_dir, d)
        sw.m.update(stream_metrics(drained))
        sw.failures += check_stream(bench, drained, input_dir, STREAM_FILES)
        remove(d)

    def covered_s(self, m: dict, res: dict) -> float:
        """Seconds of the traced wall that layer metrics account for."""
        raise NotImplementedError

    @property
    def turns(self) -> int:
        return len(self.rows)


class FusedShort(Workload):
    """The production scale path: per-turn Python and the fused Arrow
    boundary carry the wall; one bulk write into a parquet sink."""

    name = "fused-short"

    def generate(self):
        return gen.short_turns(self.seed, max(64, int(SIZES[self.name] * self.factor)))

    def warm(self, bench) -> None:
        remove(self.op(bench, -1)["out"])

    def op(self, bench, i, event_dir=None):
        from kgpipe.materialize import run_with_resume
        from kgpipe.pipeline import build_triples

        out = os.path.join(self.work, f"sink-{i}")
        res = run_with_resume(
            bench.spark, bench.spark.read.parquet(self.input_dir), out,
            lambda df: build_triples(df, bench.gaz, bench.bl, bench.cfg, fused=True),
            run_id=f"run{i}", source_snapshot_id="snap0", n_buckets=BUCKETS)
        return {"out": out, "written": res["triples_written"]}

    def check(self, bench, res):
        rows = parquet_rows(os.path.join(res["out"], "triples"))
        keys = triple_keys(rows)
        fails = sink_complete(self.name, len(rows), res["written"],
                              _lineage(res["out"]), set(range(BUCKETS)))
        fails += attribution_counts(self.name, keys, self.rows)
        # a fixed seeded sample of turns against the per-turn function
        if self.sample_ref is None:
            sample = random.Random(self.seed).sample(self.rows, min(300, self.turns))
            self.sample_ids = {(r["conv_id"], r["turn_idx"]) for r in sample}
            self.sample_ref = reference_keys(sample, bench)
        got = triple_keys(r for r in rows
                          if (r["conv_id"], r["turn_idx"]) in self.sample_ids)
        fails += same_multiset(f"{self.name} sample vs turn_triples", got,
                               self.sample_ref)
        # every iteration commits the same triples
        self.first = self.first or keys
        fails += same_multiset(f"{self.name} vs first iteration", keys, self.first)
        return fails

    def sweep_sink(self, bench, sw, src, res):
        sw.sink_from(res["wall"], res["out"])

    def covered_s(self, m, res):
        # Python workers (per-turn functions + Arrow boundary) on 4 slots,
        # plus the sink
        return m["pair.py_worker_s"] / CORES + m["materialize.sink_s"]


class CliGraph(Workload):
    """The structured default path run as users run it: W1 exchange, band
    join, graph edges, canon, Anafora, the second annotate pass and the
    CLI's own JVM start."""

    name = "cli-graph"
    own_process = True

    def generate(self):
        return gen.short_turns(self.seed + 7919, max(64, int(SIZES[self.name] * self.factor)))

    def op(self, bench, i, event_dir=None):
        out = os.path.join(self.work, f"cli-{i}")
        cmd = [sys.executable, "-m", "kgpipe.run", "--input", self.input_dir,
               "--output", out, "--graph", "--anafora", "--tsv",
               "--master", MASTER, "--shuffle-partitions", str(SHUFFLE_PARTITIONS)]
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, cwd=self.work, env=child_env(self.work, event_dir),
                                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        sampler = TreeSampler(proc.pid)
        try:
            stdout, stderr = proc.communicate(timeout=150)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            raise
        finally:
            wall = time.perf_counter() - t0
            cpu = sampler.cpu_s()
            peak = sampler.take_peak_rss()
            sampler.stop()
            # the CLI's JVM may outlive its Python driver by a moment
            sampler.wait_gone(30)
        if proc.returncode != 0:
            raise RuntimeError(f"kgpipe.run exited {proc.returncode}: {stderr[-2000:]}")
        summary = json.loads(stdout.strip().splitlines()[-1])
        return {"out": out, "wall": wall, "cpu_s": cpu, "peak_rss": peak,
                "written": summary["triples"]}

    def check(self, bench, res):
        """The structured triples equal the fused path's (its per-turn
        function over the same input, computed once per run)."""
        import pyarrow.csv as pcsv
        import pyarrow.dataset as ds

        out = res["out"]
        keys = triple_keys(parquet_rows(os.path.join(out, "triples")))
        if self.sample_ref is None:
            self.sample_ref = reference_keys(self.rows, bench)
        ref = self.sample_ref
        fails = same_multiset(f"{self.name} structured vs fused", keys, ref)
        fails += sink_complete(self.name, sum(keys.values()), res["written"],
                               _lineage(out), set(range(BUCKETS)))
        tlinks = sum(n for k, n in ref.items() if k[1].startswith("tlink:"))
        tsv = ds.dataset(os.path.join(out, "tsv"), partitioning="hive",
                         format=ds.CsvFileFormat(
                             parse_options=pcsv.ParseOptions(delimiter="\t"))).count_rows()
        if tsv != tlinks:
            fails.append(f"{self.name}: tsv has {tsv} rows, {tlinks} tlink triples")
        for part in ("edges", "nodes", "anafora"):
            if ds.dataset(os.path.join(out, part), format="parquet").count_rows() == 0:
                fails.append(f"{self.name}: {part} output is empty")
        return fails

    def covered_s(self, m, res):
        # a CLI run pays JVM start, the structured prefixes, pairing and
        # the graph stages; sinks, TSV, the second annotate pass and
        # cold-JVM compilation are what stays unattributed
        return (m["session.get_spark_cold_s"] + m["extract.annotate_union_s"]
                + m["extract.filter_union_s"] + m["extract.assign_union_ids_s"]
                + m["pair.pair_score_s"] + m["graph.cross_turn_edges_s"]
                + m["canon.canonical_nodes_s"] + m["anafora.documents_s"])


WORKLOADS = {w.name: w for w in (FusedShort, CliGraph)}


def _lineage(out: str) -> list:
    return [(r["partition_hash"], r["triple_count"]) for r in parquet_rows(
        os.path.join(out, "lineage"), ("partition_hash", "triple_count"))]


def check_stream(bench, res: dict, input_dir: str, n_files: int) -> list:
    """The drained and compacted store must equal one batch fused run over
    the same files, exactly once, with lineage for every micro-batch and for
    the compaction."""
    from kgpipe.materialize import TableSink, read_triples
    from kgpipe.pipeline import build_triples

    label = "stream"
    spark = bench.spark
    sink = TableSink(spark, out_dir=res["store"])
    store = triple_keys(r.asDict() for r in read_triples(sink).collect())
    batch = triple_keys(r.asDict() for r in build_triples(
        spark.read.parquet(input_dir), bench.gaz, bench.bl, bench.cfg,
        fused=True).collect())
    fails = exactly_once(label, len(res["latencies"]), n_files, store, batch)
    lineage = [(r.source_snapshot_id, r.triple_count)
               for r in sink.read("lineage").collect()]
    held = sum(store.values())
    fails += sink_complete(label, held, held,
                           [(p, c) for p, c in lineage if p.startswith("stream-batch-")],
                           {f"stream-batch-{k}" for k in range(n_files)})
    folded = sum(c for p, c in lineage if p.startswith("compact-"))
    if folded != held:
        fails.append(f"{label}: compaction lineage counts {folded}, store holds {held}")
    return fails
