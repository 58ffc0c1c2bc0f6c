"""End-to-end runs of the benchmark on small inputs: tables at sf0.001
and a small pipeline_io record set. Each run starts its own Spark JVM
and takes a minute or two."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.layers import PER_LAYER
from perfbench.workloads import QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SMALL = """
import sys
sys.path.insert(0, {root!r})
from perfbench import pipeline, run
run.SF = {{"queries": 0.001}}
pipeline.N_ROWS = 2000
sys.exit(run.main(sys.argv[1:]))
"""


def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def small_run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "-c", SMALL.format(root=ROOT), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    info_line, result_line = proc.stdout.strip().splitlines()[-2:]
    return json.loads(info_line), json.loads(result_line)


@pytest.mark.parametrize("workload", ["queries", "pipeline_io"])
def test_untraced_run_reports_every_end_to_end_metric(workload):
    info, res = small_run(workload, 0)
    assert res["correct"] is True and res["failed"] == 0, info["failures"]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in bench_json()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert info["latency_samples"] == res["attempted"]
    assert 0 < info["op_p50_s"] <= info["op_tail_s"]


def test_traced_queries_count_build_jobs():
    info, res = small_run("queries", 1)
    assert res["correct"] is True, info["failures"]
    want = {m["name"]: m["unit"] for m in bench_json()["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["q.pagerank_supplier_graph.build_jobs"] > 0
    assert m["action.jobs"] >= len(QUERIES) and m["build.wall_s"] > m["build.driver_only_s"] > 0
    spans = json.load(open(os.path.join(ROOT, info["span_file"])))
    assert {"pass", "build", "action", "spark.job"} <= {s["name"] for s in spans}
    # every job hangs under a phase of a traced op, none under a pass
    name = {s["id"]: s["name"] for s in spans}
    assert {name[s["parent"]] for s in spans if s["name"] == "spark.job"} <= {"build", "action", *QUERIES}


def test_traced_pipeline_measures_the_pipeline_layers():
    info, res = small_run("pipeline_io", 1)
    assert res["correct"] is True, info["failures"]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["cache.hit_ratio"] == 0.5
    assert m["storage.files_written"] > 0 and m["storage.write_amplification"] > 0
    assert m["task_ext.write_partitioned_s"] > 0 and m["cache.hit_s"] > 0
    assert m["spark.output_mb"] > 0


def test_per_layer_list_matches_benchmark_json():
    assert [(m["name"], m["unit"], m["better"]) for m in bench_json()["per_layer"]] == PER_LAYER


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "queries", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
