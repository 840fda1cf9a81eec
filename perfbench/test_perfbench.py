"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q

The smoke runs start Spark once per workload at a tiny input scale and
take a few minutes in all.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import time

import pytest

from perfbench import checks, gen
from perfbench.trace import Tracer
from perfbench.workloads import KEY_LAYER, WORKLOADS, Run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", list(gen.SIZES))
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    a, b, c = (tmp_path / n for n in "abc")
    info = gen.generate(workload, 7, str(a), scale=0.1)
    gen.generate(workload, 7, str(b), scale=0.1)
    gen.generate(workload, 8, str(c), scale=0.1)
    assert sorted(info["tables"]) == sorted(TABLES)
    files = [f"{t}.parquet" for t in TABLES]
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert sorted(match) == sorted(files) and not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert {"events.parquet", "documents.parquet", "lineitem.parquet"} <= set(differ)


def test_planted_clone_groups_are_byte_identical(tmp_path):
    import pyarrow.parquet as pq

    info = gen.generate("batch", 3, str(tmp_path), scale=0.2)
    text = pq.read_table(tmp_path / "documents.parquet").column("text").to_pylist()
    assert info["traffic"]["max_clone_multiplicity"] > 3
    for group in info["exact_groups"]:
        assert len({text[d] for d in group}) == 1


def test_digest_ignores_row_order_and_int_float_width():
    a = checks.digest(["x", "y"], [(1, 2.0), (3, 0.5)])
    b = checks.digest(["y", "x"], [(0.5, 3), (2, 1.0)])
    assert a == b
    assert a != checks.digest(["x", "y"], [(1, 2.0), (3, 0.25)])


def test_every_key_has_a_layer_and_every_workload_its_sizes():
    for spec in WORKLOADS.values():
        assert spec["headline"] in spec["keys"]
        assert {KEY_LAYER[k] for k in spec["keys"]} >= {spec["throughput"]}
    assert set(WORKLOADS) == set(gen.SIZES)


def test_self_times_partition_the_window():
    tracer = Tracer(True)
    with tracer.span("window", "bench"):
        with tracer.span("call", "bench"):
            with tracer.span("registry.build", "llm"):
                time.sleep(0.01)
            with tracer.span("exec", "llm"):
                pass
    own = tracer.self_times("window")
    window = next(s for s in tracer.spans if s["name"] == "window")
    assert sum(own.values()) == pytest.approx(window["end"] - window["start"])
    assert own["llm"] >= 0.01


def test_a_call_that_raises_counts_as_failed(tmp_path):
    run = Run("batch", 1, 0, False, str(tmp_path), str(tmp_path))

    def boom(key, n):
        raise RuntimeError("no such table\nstack")

    run._call = boom
    assert run._attempt("agg_grouped", 0) is None
    assert run.attempted == 1
    assert run.failures == ["agg_grouped: raised RuntimeError: no such table"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("workload,trace", [
    ("ingest", 1), ("batch", 0), ("batch", 1),
])
def test_smoke_run_checks_pass_and_prints_every_metric(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "0", "--trace", str(trace),
         "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    declared = _spec()["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
