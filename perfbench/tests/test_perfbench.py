"""Tests for the benchmark itself: seeded inputs, failure accounting, output
comparison, process-tree CPU accounting, the layer map against
BENCHMARK.json, and the exit code when the program is absent. The last
test runs the benchmark, untraced and traced (about three minutes).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, harness, run, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _env_without_pythonpath() -> dict[str, str]:
    return {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}


def test_same_seed_gives_byte_identical_csv(tmp_path):
    a, b, c = (str(tmp_path / n) for n in ("a.csv", "b.csv", "c.csv"))
    datagen.retail_csv(a, 2000, 7)
    datagen.retail_csv(b, 2000, 7)
    datagen.retail_csv(c, 2000, 8)
    with open(a, "rb") as fa, open(b, "rb") as fb, open(c, "rb") as fc:
        first, second, other = fa.read(), fb.read(), fc.read()
    assert first == second
    assert first != other


def test_same_seed_gives_byte_identical_tables(tmp_path):
    datagen.warehouse_tables(str(tmp_path / "a"), 0.001, 3)
    datagen.warehouse_tables(str(tmp_path / "b"), 0.001, 3)
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    for name in names:
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()


class _FakeDataFrame:
    columns = ["x"]

    def collect(self):
        return [(1,)]


class _FakeCatalog:
    def clearCache(self):  # noqa: N802 — the pyspark name
        return None


class _FakeSpark:
    catalog = _FakeCatalog()


def _boom(_spark, _sf_dir):
    raise RuntimeError("forced failure")


def test_forced_query_failure_counts_and_run_continues():
    wl = workloads.QueryWorkload("t", ["a", "boom", "b"])
    wl.data_dir = "unused"
    ok = lambda _spark, _dir: _FakeDataFrame()  # noqa: E731
    wl.start(_FakeSpark(), {"a": ok, "boom": _boom, "b": ok}, {})
    samples = harness.timed_loop(wl.run_pass, 0.0)
    assert len(samples.passes) == 1
    assert [r.name for r in samples.ops] == ["a", "boom", "b"]
    assert [r.ok for r in samples.ops] == [True, False, True]
    assert "forced failure" in samples.ops[1].error
    assert harness.count_failed(samples.ops, {}) == 1
    # a mismatched output fails every execution of that query
    assert harness.count_failed(samples.ops, {"a": "value mismatch"}) == 2
    metrics = run.end_to_end(samples, 2.0)
    assert metrics["setup_s"] == 2.0
    assert set(samples.op_medians()) == {"a", "b"}


def test_compare_tolerates_float_order_but_not_values():
    cols = ["k", "v"]
    assert workloads.compare((cols, [(1, 0.1 + 0.2), (2, 1.0)]), (["v", "k"], [(1.0, 2), (0.3, 1)])) == ""
    assert workloads.compare((cols, [(1, 0.3)]), (cols, [(1, 0.31)])) != ""
    assert workloads.compare((cols, [(1, 0.3)]), (cols, [(1, 0.3), (2, 0.3)])) != ""


def test_compare_top_k_accepts_either_tie():
    cols = ["p", "q"]
    full = (cols, [("a", 5), ("b", 5), ("c", 1)])
    assert workloads.compare_top_k((cols, [("a", 5)]), full, "q", 1) == ""
    assert workloads.compare_top_k((cols, [("b", 5)]), full, "q", 1) == ""
    assert workloads.compare_top_k((cols, [("c", 1)]), full, "q", 1) != ""
    assert workloads.compare_top_k((cols, [("z", 5)]), full, "q", 1) != ""


def test_last_pass_output_is_checked(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"x": [1, 2]}), tmp_path / "t.parquet")
    wl = workloads.QueryWorkload("t", ["q"])
    wl.data_dir, wl.oracles = str(tmp_path), {"q": "SELECT x FROM t"}
    wl.outputs = {"first": {"q": (["x"], [(1,), (2,)])}, "last": {"q": (["x"], [(1,), (2,)])}}
    assert wl.check(1) == {}
    wl.outputs["last"]["q"] = (["x"], [(1,)])
    assert wl.check(1)["q"].startswith("last pass:")


def test_tree_cpu_counts_child_processes():
    before = harness.tree_cpu_s()
    subprocess.run([sys.executable, "-c", "s = 0\nfor i in range(20_000_000): s += i"], check=True)
    assert harness.tree_cpu_s() - before >= 0.3


def test_layer_map_covers_benchmark_json():
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as f:
        mapped = {m for layer in json.load(f)["layers"] for m in layer["metrics"]}
    assert mapped == {m["name"] for m in BENCH["per_layer"]}
    assert {w["name"] for w in BENCH["workloads"]} <= set(workloads.WORKLOADS)


def test_bare_directory_exits_nonzero_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("work", "__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "retail_etl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=_env_without_pythonpath(), capture_output=True, text=True, timeout=170,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_benchmark_json_metric_is_printed(trace, section):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "llm_curation",
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for name in want:
        assert f"perfbench metric {name} = " in proc.stdout
