"""Tests of the benchmark itself, on tiny inputs.

    python3 -m pytest perfbench/tests -q

Each end-to-end case starts its own Spark session in a subprocess (about a
minute each); the tamper case runs one in this process.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import workloads  # noqa: E402

TINY = "2000"


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_bench(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--turns", TINY],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_the_code():
    s = spec()
    assert [w["name"] for w in s["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == workloads.E2E
    assert {m["name"]: m["unit"] for m in s["per_layer"]} == workloads.PER_LAYER


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_tiny_run_prints_every_e2e_metric(workload):
    result = run_bench(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == workloads.E2E
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_traced_breakdown_is_present_and_non_negative(workload):
    result = run_bench(workload, 1)
    assert result["correct"] and result["failed"] == 0
    metrics = result["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == workloads.PER_LAYER
    # the overhead is a difference of two timings and may read below 0
    assert all(v["value"] >= 0 for k, v in metrics.items() if k != "trace.overhead")
    for layer in ("route.s", "aggregate.s", "pipeline.jobs", "catalog.write.calls",
                  "parse.pandas.s", "parse.sql.s", "enrich.s", "trace.coverage"):
        assert metrics[layer]["value"] > 0, layer
    assert metrics["trace.coverage"]["value"] <= 1
    if workload == "stream_drops":
        assert metrics["ingest.rejects"]["value"] > 0
        assert metrics["stream.add_batch_s"]["value"] > 0


@pytest.fixture
def bulk(tmp_path):
    import run

    work = str(tmp_path / "work")
    run.host_setup(work)
    spark = workloads.session(work, trace_on=False)
    try:
        w = workloads.BulkParquet(spark, work, seed=7, turns=int(TINY))
        w.setup()
        yield w
    finally:
        workloads.stop(spark)


def test_tampered_sink_is_a_failed_op(bulk, monkeypatch):
    import check

    original = check.batch_mismatches

    def tamper_then_check(out_dir, *args, **kwargs):
        # one part file of the run's parsed_turns sink disappears after it
        # returned and before its outputs are read back
        os.remove(sorted(glob.glob(f"{out_dir}/parsed_turns/**/*.parquet"))[0])
        return original(out_dir, *args, **kwargs)

    monkeypatch.setattr(check, "batch_mismatches", tamper_then_check)
    assert (bulk.attempted, bulk.failed) == (1, 0)  # set-up's cross-check
    bulk.timed_op(0)
    result, info = bulk.result(traced=False)
    assert (result["attempted"], result["failed"]) == (2, 1)
    assert not result["correct"]
    assert any("parsed_turns" in e for e in info["errors"])
