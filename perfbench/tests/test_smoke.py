"""End-to-end runs of each workload on the benchmark's own small inputs.

Each run goes through run.py exactly as the benchmark command does and
must print every metric with its unit, run its output checks and end
with the contract line. The wrong-digest case runs in-process with a
private work dir. These start Spark; allow a few minutes.
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
RUN = os.path.join(ROOT, "perfbench", "run.py")

sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402
import workloads  # noqa: E402


def _bench(workload: str, trace: int) -> tuple[list[str], dict]:
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["warm_mix", "stream_ingest", "cold_heavy"])
def test_untraced_run_prints_every_end_to_end_metric(workload):
    report, result = _bench(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] > 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.E2E
    assert all(v["value"] > 0 for v in result["metrics"].values())
    text = "\n".join(report)
    for name, unit in run.E2E.items():
        assert f"{name} = " in text and f" {unit}" in text
    assert "op_p50_s = " in text and "op_tail_s = " in text
    assert "failed_ratio = 0.0000" in text
    if workload == "stream_ingest":
        assert "rows_per_s = " in text and "read_s = " in text


@pytest.mark.parametrize("workload", ["warm_mix", "stream_ingest"])
def test_traced_run_prints_every_per_layer_metric(workload):
    report, result = _bench(workload, 1)
    assert result["correct"] is True
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.LAYER
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["exec.jobs"] > 0 and m["exec.stages"] > 0 and m["exec.tasks"] > 0
    if workload == "warm_mix":
        assert m["plans.build_s"] > 0 and m["catalog.load_table_jobs"] > 0
        assert m["ml.fit_jobs"] > 0 and m["arrow.py_sent_mb"] > 0
        assert m["session_cache.gets"] > 0 and m["session_cache.puts"] == 0
        assert m["streaming.batches"] == 0
    else:
        assert m["streaming.batches"] == workloads.N_DROPS * len(workloads.STREAM_FLOWS)
        assert m["streaming.store_files"] > 0
        assert m["streaming.write_amp"] > 0 and m["streaming.compact_s"] > 0


def test_wrong_expected_digest_counts_as_failed(tmp_path, monkeypatch):
    run.prepare_env(str(tmp_path))
    import oracle

    real = oracle.expected_digests

    def one_wrong(*args, **kwargs):
        out = dict(real(*args, **kwargs))
        name = "q01_pricing_summary"
        out[name] = (out[name][0], "0" * 32)
        return out

    monkeypatch.setattr(oracle, "expected_digests", one_wrong)
    try:
        res, _ = workloads.warm_mix(seed=3, seconds=1, trace=False, work=str(tmp_path))
    finally:
        run.stop_spark()
    assert res["failed"] > 0
    assert res["failed"] / res["attempted"] > 0
