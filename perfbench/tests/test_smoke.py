"""Tiny end-to-end runs of the benchmark command, in a scratch copy of the
repository so they never share a work dir with a real benchmark run."""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

import spans

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
E2E = {
    "setup_s", "op_s", "rows_per_s", "cpu_s_per_krow", "pairwise_f1",
    "bytes_written_per_input_byte", "peak_rss_mb", "success_rate",
}


def _checkout(dst: Path, with_engine: bool = True) -> Path:
    names = ["perfbench"] + (["codingchallenge_spark", "fixtures"] if with_engine else [])
    for name in names:
        shutil.copytree(
            ROOT / name, dst / name,
            ignore=shutil.ignore_patterns("__pycache__", ".perfbench_work"),
        )
    shutil.copy(ROOT / "BENCHMARK.json", dst / "BENCHMARK.json")
    return dst


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize(
    "workload,trace",
    [("batch_resolve", 0), ("delta_ingest", 0), ("delta_ingest", 1)],
)
def test_tiny_run(tmp_path, workload, trace):
    cwd = _checkout(tmp_path)
    proc = _run(cwd, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    group = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[group]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if trace:
        layer_keys = set(spans.STAGE_METRIC.values()) | {"pipeline.driver_s"}
        ops = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith('{"op"')]
        assert ops
        for op in ops:
            m = op["layers"]
            assert sum(m[k] for k in layer_keys) == pytest.approx(m["trace.op_s"])
    else:
        assert set(want) == E2E
        assert out["metrics"]["pairwise_f1"]["value"] >= 0.99
    assert not (cwd / ".perfbench_work" / "runs" / "op_0").exists()


def test_fails_without_engine_sources(tmp_path):
    cwd = _checkout(tmp_path, with_engine=False)
    proc = _run(cwd, "batch_resolve", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
