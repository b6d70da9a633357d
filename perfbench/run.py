"""Benchmark of the transcript -> triple pipeline on local[4].

    python3 perfbench/run.py --workload fused-short --seed 1 --seconds 6 --trace 0

Runs one workload (see ``perfbench/README.md`` for the workloads and the
metric catalogue) as a closed loop with one client for ``--seconds``
seconds, checks every output, prints one line per metric with its unit and
sample count, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import ROOT, remove  # noqa: E402

sys.path.insert(1, ROOT)

E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "turns_per_s": "turns/s",
    "core_s_per_kturn": "s/kturn", "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "text.tokenize_us": "us", "text.match_gazetteer_us": "us",
    "text.mentions_per_turn": "count", "timex.detect_us": "us",
    "timex.normalize_us": "us", "timex.timexes_per_turn": "count",
    "timex.normed_ratio": "ratio", "annotate.self_us": "us",
    "score.tlink_instance_us": "us", "score.tlink_label_us": "us",
    "pair.turn_triples_self_us": "us", "pair.candidate_pairs": "count",
    "pair.window_hit_ratio": "ratio", "pair.max_pairs_per_turn": "count",
    "pair.fused_triples_s": "s", "pair.py_worker_s": "s",
    "pair.arrow_bytes_in": "bytes", "pair.arrow_bytes_out": "bytes",
    "pair.boundary_us": "us", "pair.pair_score_s": "s",
    "extract.annotate_union_s": "s", "extract.filter_union_s": "s",
    "extract.assign_union_ids_s": "s", "extract.py_worker_s": "s",
    "extract.arrow_bytes_out": "bytes", "extract.shuffle_bytes": "bytes",
    "extract.mentions_kept_ratio": "ratio", "run.annotate_nodes": "count",
    "run.jobs": "count", "graph.cross_turn_edges_s": "s", "graph.edges": "count",
    "canon.canonical_nodes_s": "s", "canon.shuffle_bytes": "bytes",
    "canon.nodes": "count", "anafora.documents_s": "s",
    "materialize.sink_s": "s", "materialize.files_written": "count",
    "materialize.bytes_written": "bytes", "materialize.compact_s": "s",
    "materialize.store_files_before": "count",
    "materialize.store_files_after": "count", "streaming.micro_batches": "count",
    "streaming.add_batch_ms_p50": "ms", "streaming.query_planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms", "streaming.start_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.spill_bytes": "bytes",
    "spark.py_worker_boot_s": "s", "spark.task_skew": "ratio",
    "session.get_spark_s": "s", "session.worker_warmup_s": "s",
    "trace_overhead_s": "s", "unattributed_share": "ratio",
}
SAMPLE_TURNS = 300  # driver-side per-turn timing sample


def tail(values):
    """(label, value) of the highest percentile with at least ten samples
    beyond it, or None when there are fewer than eleven samples."""
    n = len(values)
    for p in (99, 95, 90, 75, 50):
        if n - int(n * p / 100) >= 10 and n * p / 100 >= 1:
            return f"p{p}", statistics.quantiles(values, n=100)[p - 1]
    return None


class Runner:
    def __init__(self, bench, wl):
        import gen

        self.bench, self.wl = bench, wl
        self.warm_rows = gen.short_turns(0, 64)[0]
        self.attempted = self.failed = 0
        self.failures = []

    def setups(self, n: int, event_dir_last: str | None = None) -> list:
        out = []
        for k in range(n):
            if k:
                self.bench.stop()
            out.append(self.bench.setup(
                self.warm_rows, event_dir_last if k == n - 1 else None))
        return out

    def timed(self, i: int, sampler=None, event_dir=None):
        """One timed operation; None if it raised."""
        self.attempted += 1
        cpu0 = sampler.cpu_s() if sampler else 0.0
        if sampler:
            sampler.take_peak_rss()
        t0 = time.perf_counter()
        try:
            res = self.wl.op(self.bench, i, event_dir)
        except Exception:  # noqa: BLE001 - a failed operation is a measurement
            self.failed += 1
            self.failures.append(traceback.format_exc(limit=3))
            return None
        res.setdefault("wall", time.perf_counter() - t0)
        if sampler:
            res["cpu_s"] = sampler.cpu_s() - cpu0
            res["peak_rss"] = sampler.take_peak_rss()
        return res

    def checked(self, res: dict) -> bool:
        """Run the output checks of one operation; False if any failed."""
        try:
            fails = self.wl.check(self.bench, res)
        except Exception:  # noqa: BLE001
            fails = [traceback.format_exc(limit=3)]
        if fails:
            self.failed += 1
            self.failures.extend(fails)
        return not fails

    def measured(self, seconds: float) -> dict:
        from proctree import TreeSampler

        own = self.wl.own_process
        t0 = time.perf_counter()
        if not own:
            setups = self.setups(3)
            self.wl.warm(self.bench)
        sampler = None if own else TreeSampler()
        done = []
        t1 = time.perf_counter()
        while not done or time.perf_counter() - t1 < seconds:
            done.append(self.timed(len(done), sampler))
        if sampler:
            sampler.stop()
        t2 = time.perf_counter()
        if own:
            # set up after an operation that runs in its own process, so
            # that it ran next to no idle session of ours
            setups = self.setups(3)
        results = []
        for res in filter(None, done):
            if self.checked(res):
                results.append(res)
            remove(res["out"])
        print(f"# phases: set-up+warm {t1 - t0:.1f}s, loop {t2 - t1:.1f}s, "
              f"set-up+checks {time.perf_counter() - t2:.1f}s")
        return self.e2e(setups, results)

    def e2e(self, setups, results) -> dict:
        turns = self.wl.turns
        series = {
            "setup_s": [a + b for a, b in setups],
            "wall_s": [r["wall"] for r in results],
            "turns_per_s": [turns / r["wall"] for r in results],
            "core_s_per_kturn": [r["cpu_s"] / turns * 1000 for r in results],
            "peak_rss_mb": [r["peak_rss"] / 2**20 for r in results],
        }
        out = {k: statistics.median(v) for k, v in series.items() if v}
        for k, v in series.items():
            t = tail(v) if v else None
            print(f"# {k}: median of n={len(v)}"
                  + (f", {t[0]}={t[1]:.4f}" if t else ", n<11: no tail percentile"))
        return out

    def traced(self, seed: int) -> dict:
        from eventlog import EventLog
        from layers import Sweep, boundary_us, cli_layer, per_turn, spark_layer

        bench, wl, work = self.bench, self.wl, self.bench.work
        setups = self.setups(2)
        # tracing overhead is measured on the fused noop over this input,
        # once per session: a CLI operation is too long to run twice
        untraced_fused = Sweep(bench).fused(bench.spark.read.parquet(wl.input_dir))
        bench.stop()
        ev = os.path.join(work, "events")
        setups += self.setups(1, ev)
        wl.warm(bench)
        cli_ev = os.path.join(work, "cli-events") if wl.own_process else None
        e0 = time.time()
        traced = self.timed(0, event_dir=cli_ev)
        e1 = time.time()
        if traced is None or not self.checked(traced):
            return {}
        sw = Sweep(bench)
        wl.sweep(bench, sw, traced)
        self.attempted += 1
        if sw.failures:
            self.failed += 1
            self.failures.extend(sw.failures)
        m = dict(sw.m)
        m.update(per_turn(wl.rows, bench, SAMPLE_TURNS, seed))
        bench.stop()
        remove(traced["out"])
        log = EventLog.from_dir(ev)
        m.update(spark_layer(log, sw.windows, e0, e1))
        if cli_ev:
            cli_log = EventLog.from_dir(cli_ev)
            m.update(cli_layer(cli_log))
            op_spark = spark_layer(cli_log, {}, None, None)
            m.update({k: v for k, v in op_spark.items() if k.startswith("spark.")})
        else:
            m.update(cli_layer(log, e0, e1))
        m["pair.boundary_us"] = boundary_us(m, wl.turns)
        m["session.get_spark_s"] = statistics.median(a for a, _ in setups)
        m["session.worker_warmup_s"] = statistics.median(b for _, b in setups)
        m["session.get_spark_cold_s"] = setups[0][0]
        m["trace_overhead_s"] = m["pair.fused_triples_s"] - untraced_fused
        m["unattributed_share"] = max(0.0, 1 - wl.covered_s(m, traced) / traced["wall"])
        print(f"# traced operation wall {traced['wall']:.3f}s")
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=float, default=1.0,
                    help="input size factor (the self-test runs tiny inputs)")
    args = ap.parse_args(argv)

    try:
        import pyspark  # noqa: F401

        import kgpipe  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from harness import Bench
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    remove(work)
    bench = Bench(work)
    try:
        wl = WORKLOADS[args.workload](args.seed, args.size, work)
        wl.land()
        print("# input " + json.dumps(wl.stats))
        runner = Runner(bench, wl)
        if args.trace:
            values, units = runner.traced(args.seed), LAYER_UNITS
        else:
            values, units = runner.measured(args.seconds), E2E_UNITS
    finally:
        bench.close()
        remove(work)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    for msg in runner.failures:
        print("# FAILED " + msg.replace("\n", "\n# "))
    metrics = {k: {"value": float(values[k]), "unit": u}
               for k, u in units.items() if k in values}
    for k, v in metrics.items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}")
    correct = runner.failed == 0 and len(metrics) == len(units)
    print(f"# error_rate = {runner.failed}/{runner.attempted}")
    print(json.dumps({"correct": correct, "attempted": max(1, runner.attempted),
                      "failed": runner.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
