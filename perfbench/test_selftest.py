"""Self-test of the benchmark at a tiny input size.

    python -m pytest perfbench/test_selftest.py -q

Runs every workload once untraced and once traced, and checks that each
prints every metric BENCHMARK.json names, with its unit, that the traced
layer walls add up to the invocation walls, and that the output checks catch
one dropped row.
"""

import glob
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _bench(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        capture_output=True, text=True, timeout=600, cwd=ROOT, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_prints_every_metric_with_its_unit(workload, trace):
    result = _bench(workload, trace)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    if trace:
        assert result["metrics"]["trace.layer_gap_ratio"]["value"] <= run.LAYER_TOLERANCE
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_etl_check_catches_a_dropped_row():
    import pyarrow.parquet as pq

    _bench("etl_wavefront", 0)
    data_dir = os.path.join(run.WORK, "data", "etl_wavefront-tiny-s7")
    out_dir = os.path.join(run.WORK, "work-etl_wavefront", "out")
    ref_dir = os.path.join(data_dir, "ref")
    assert not any(workloads.check_etl(out_dir, ref_dir).values())
    part = max(glob.glob(os.path.join(out_dir, "returned.parquet", "*.parquet")), key=os.path.getsize)
    table = pq.read_table(part)
    pq.write_table(table.slice(1), part)
    problems = workloads.check_etl(out_dir, ref_dir)
    assert problems["returned.parquet"] and not problems["segment.parquet"]


def test_catalog_check_catches_a_dropped_row():
    import pandas as pd

    from tests.oracle_harness import compare

    data_dir = os.path.join(run.WORK, "data", "catalog_llm-tiny-s7")
    run.prepare("catalog_llm", "tiny", 7, data_dir)
    for q in workloads.CATALOG_QUERIES:
        ref = pd.read_parquet(os.path.join(data_dir, "ref", f"{q}.parquet"))

        class Output:
            def __init__(self, pdf):
                self.pdf = pdf

            def toPandas(self):
                return self.pdf

        assert compare(Output(ref), ref) == []
        assert compare(Output(ref.iloc[1:]), ref)
