"""Self-test of the benchmark at a tiny input size.

    python3 -m pytest perfbench/test_perfbench.py -q

Checks that every metric named in BENCHMARK.json is printed with its unit,
that each output check fails on a deliberately corrupted output (one
dropped triple, one duplicated micro-batch), that inputs are a function of
the seed, and that the benchmark refuses to run without the program.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from checks import (attribution_counts, exactly_once, same_multiset,  # noqa: E402
                    sink_complete, triple_keys)

TINY = "0.05"


def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int, cwd: str = ROOT):
    # the in-process session of this module puts the repository on
    # PYTHONPATH; the benchmark must find the program from its own checkout
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--size", TINY],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300)


def test_generators_are_seeded_and_carry_the_unusual_cases():
    a, pa = gen.short_turns(9, 2000)
    b, pb = gen.short_turns(9, 2000)
    assert a == b and pa == pb
    assert gen.short_turns(10, 2000)[0] != a
    stats = gen.describe(a, pa)
    assert stats["turns"] == 2000
    assert any(r["text"] is None for r in a)
    assert any(r["text"] == "" for r in a)
    assert any(r["text"] and "İ" in r["text"] for r in a)
    assert stats["detached_comma_turns"] > 0
    assert stats["non_ascii_turns"] > 0


def _triple(pred: str, subj: str) -> dict:
    return {"subj": subj, "pred": pred, "obj": "o", "anchor_date": None,
            "conv_id": "c", "turn_idx": 1, "subj_text": None, "obj_text": "",
            "instance": None}


def test_multiset_check_catches_one_dropped_triple():
    rows = [_triple("tlink:before", "a"), _triple("tlink:before", "a"),
            _triple("entity-mention", "b")]
    keys = triple_keys(rows)
    dropped = triple_keys(rows[1:])
    assert same_multiset("x", keys, keys) == []
    assert same_multiset("x", dropped, keys)
    assert sink_complete("x", 3, 3, [(0, 2), (1, 1)], {0, 1}) == []
    assert sink_complete("x", 2, 3, [(0, 2), (1, 1)], {0, 1})
    assert sink_complete("x", 3, 3, [(0, 3)], {0, 1})


def test_exactly_once_check_catches_a_duplicated_micro_batch():
    batch = triple_keys([_triple("entity-mention", "a"), _triple("entity-mention", "b")])
    twice = batch + triple_keys([_triple("entity-mention", "a")])
    assert exactly_once("s", 2, 2, batch, batch) == []
    assert exactly_once("s", 2, 2, twice, batch)
    assert exactly_once("s", 3, 2, batch, batch)


def test_attribution_check_counts_speaker_and_tool_triples():
    rows = [{"role": "tool", "tool": "sql"}, {"role": "user", "tool": None}]
    triples = [_triple("speaker-attribution", "x"), _triple("speaker-attribution", "y"),
               _triple("tool-invocation", "z")]
    assert attribution_counts("x", triple_keys(triples), rows) == []
    assert attribution_counts("x", triple_keys(triples[1:]), rows)


@pytest.fixture(scope="module")
def spark_bench():
    from harness import Bench

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    bench = Bench(work)
    bench.setup(gen.short_turns(0, 16)[0])
    yield bench
    bench.close()
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # a benchmark run's directory is still there


def _drop_one_row(parquet_dir: str) -> None:
    import pyarrow.parquet as pq

    for base, _, files in os.walk(parquet_dir):
        for f in sorted(files):
            path = os.path.join(base, f)
            if f.endswith(".parquet") and pq.read_metadata(path).num_rows > 1:
                table = pq.read_table(path)
                pq.write_table(table.slice(1), path)
                return
    raise AssertionError("no parquet file with more than one row")


def test_sink_check_fails_on_a_dropped_triple(spark_bench):
    from workloads import FusedShort

    wl = FusedShort(3, 0.02, spark_bench.work)
    wl.land()
    res = wl.op(spark_bench, 0)
    assert wl.check(spark_bench, res) == []
    _drop_one_row(os.path.join(res["out"], "triples"))
    wl.first = None
    assert wl.check(spark_bench, res)


def test_stream_check_fails_on_a_duplicated_micro_batch(spark_bench):
    from pyspark.sql import functions as F

    from kgpipe.materialize import TableSink, with_bucket
    from kgpipe.pair import fused_triples
    from layers import drain_and_compact
    from workloads import check_stream, land

    b = spark_bench
    rows = gen.short_turns(4, 120, turns_per_conv=40)[0]
    d = os.path.join(b.work, "stream-selftest")
    input_dir = os.path.join(d, "in")
    land(rows, input_dir, 3)
    res = drain_and_compact(b, input_dir, d)
    assert check_stream(b, res, input_dir, 3) == []
    # the first file's micro-batch committed a second time under a new id
    again = "stream-batch-0-again"
    dup = with_bucket(fused_triples(
        b.spark.read.parquet(os.path.join(input_dir, "part-00000.parquet")),
        b.gaz, b.bl, b.cfg), 8).withColumn("source_snapshot_id", F.lit(again))
    TableSink(b.spark, out_dir=res["store"]).replace_snapshot("triples", dup, again)
    assert check_stream(b, res, input_dir, 3)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["fused-short", "cli-graph"])
def test_every_metric_is_printed_with_its_unit(workload, trace):
    spec = _bench_json()
    assert workload in [w["name"] for w in spec["workloads"]]
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], float), name
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("fused-short", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()
