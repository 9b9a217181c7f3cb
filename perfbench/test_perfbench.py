"""Tests of the benchmark itself (not part of the logpipe test suite).

    python3 -m pytest perfbench/test_perfbench.py -q

Each case starts Spark; the whole file takes several minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parent.parent
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_tiny_run_prints_every_metric(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {k: v["unit"] for k, v in result["metrics"].items()}
    text = "\n".join(lines[:-1])
    assert "error_rate 0.000000" in text
    if not trace:
        for m in want + [{"name": "latency_p50_s", "unit": "s"}, {"name": "latency_p95_s", "unit": "s"}]:
            assert f"\n{m['name']} " in "\n" + text and f" {m['unit']} (samples: " in text
        assert all(v["value"] > 0 for v in result["metrics"].values())
    if workload == "stream_open_loop":
        for r in (1, 2, 3):
            assert f"latency_p50_s.r{r} " in text and f"latency_p95_s.r{r} " in text
        assert "sustainable_turns_per_s " in text
    if trace:
        plans = [line for line in lines if line.startswith("plan check")]
        assert plans and all(line.endswith(": ok") for line in plans)


def _in_process(workload: str, after_job, tmp_path: Path) -> dict:
    sys.path.insert(0, str(ROOT))
    from perfbench import run as cli

    work = tmp_path / "work"
    cli._isolate(work)
    from perfbench import bench

    return bench.run(workload, 7, 2, False, "tiny", work, after_job=after_job)


def test_corrupted_batch_output_fails_the_oracle(tmp_path):
    """One leaked, extra row in the first mixed job's output must fail that
    job's check and raise the error rate."""
    corrupted = []

    def corrupt(kind, out_dir):
        if kind == "mixed" and not corrupted:
            sink = next(p for p in Path(out_dir, "routed").iterdir() if p.name.startswith("sink="))
            one = pq.read_table(next(sink.glob("*.parquet"))).slice(0, 1)
            one = one.set_column(one.schema.get_field_index("message"), "message",
                                 pa.array(["mail ops@example.com"]))
            pq.write_table(one, sink / "part-corrupt.parquet")
            corrupted.append(kind)

    result = _in_process("batch_closed_loop", corrupt, tmp_path)
    assert corrupted
    assert not result["correct"]
    assert result["failed"] >= 1 and result["attempted"] > result["failed"]


def test_corrupted_stream_output_fails_the_oracle(tmp_path):
    """Dropping one micro-batch's output must fail the files it held."""

    def corrupt(kind, out_dir):
        batches = sorted(Path(out_dir, "routed").iterdir())
        shutil.rmtree(batches[-1])

    result = _in_process("stream_open_loop", corrupt, tmp_path)
    assert not result["correct"]
    assert result["failed"] >= 1


def test_refuses_to_run_without_logpipe(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/ the run
    exits non-zero and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_closed_loop", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
