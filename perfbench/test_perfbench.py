"""The benchmark's own tests, at a tiny input size.

    python -m pytest perfbench -q        # from the repository root

The end-to-end cases start Spark in a subprocess each (about a minute
apiece); the output-check cases need no Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import reference
import run
import workloads

ROOT = run.ROOT

#: spans each workload's traced run must emit, one per layer it touches
LAYER_SPANS = {
    "daily_etl": {
        "session", "run", "sources.yahoo", "sources.io.write_bars", "sources.io.read",
        "operators.pipeline", "operators.timegrid", "operators.rolling",
        "operators.recursive", "sources.io.write_indicators",
    },
    "neardup_dedup": {
        "session", "run", "llmdata.dedup", "llmdata.dedup.candidates",
        "llmdata.dedup.verify", "llmdata.dedup.cc", "llmdata.dedup.survivors",
    },
}


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def test_benchmark_json_lists_what_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    setup_bound = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert all(m["bound"] <= setup_bound <= 0.25 for m in spec["end_to_end"])


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_every_metric(workload, trace):
    proc = _bench("--workload", workload, "--seed", "3", "--seconds", "1",
                  "--trace", str(trace), "--scale", "0.1")
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    # the cold run; with tracing also a warm untraced run and the traced run
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == (3 if trace else 1)
    assert set(result["metrics"]) == set(run.PER_LAYER if trace else run.END_TO_END)
    printed = {line.split()[0] for line in lines if not line.startswith("{")}
    assert {*run.END_TO_END, "cold_run_s", "peak_rss_mb", "fail_ratio"} <= printed
    if trace:
        assert {"run_s", "rows_per_s"} <= printed
    info = json.loads(next(line for line in lines if line.startswith('{"info"')))["info"]
    assert {"seed", "nproc", "master", "git_revision", "input_rows"} <= set(info)
    if trace:
        spans = [json.loads(line)["span"] for line in lines if line.startswith('{"span"')]
        assert LAYER_SPANS[workload] <= {s["name"] for s in spans}
        assert all(s["end"] >= s["start"] for s in spans)
        touched = [m for m in run.PER_LAYER if m.split(".")[0] in {"sources", "operators"}]
        if workload == "daily_etl":
            assert all(result["metrics"][m]["value"] > 0 for m in touched
                       if "spill" not in m and "shuffle" not in m)


def test_fails_without_the_program(tmp_path):
    shutil.copytree(run.HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _bench("--workload", "daily_etl", "--seed", "1", "--seconds", "1", "--trace", "0",
                  cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def _write(df, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(path, "part-0.parquet"))


def test_bar_check_accepts_the_reference_and_rejects_corruption(tmp_path):
    w = workloads.WORKLOADS["daily_etl"](5, 0.3)
    w.stage(str(tmp_path / "in"))
    _write(w.bars, w._day_partition(w.store))
    expected = reference.indicator_reference(w.bars, w.lo_ns, w.hi_ns)
    out = str(tmp_path / "out")
    _write(expected, w._day_partition(out))
    assert w.check(out) == []

    sampled = expected["ticker"].str.rsplit("-", n=1).str[0].isin(w.sampled)
    i = expected.index[sampled][len(expected.index[sampled]) // 2]
    bad = expected.copy()
    bad.loc[i, "rsi"] += 1e-6
    _write(bad, w._day_partition(out))
    assert any("rsi" in p for p in w.check(out))

    _write(expected.drop(index=i), w._day_partition(out))
    assert w.check(out)


def test_dedup_check_accepts_the_oracle_and_rejects_corruption(tmp_path):
    w = workloads.WORKLOADS["neardup_dedup"](5, 0.5)
    w.stage(str(tmp_path / "in"))
    oracle = reference.oracle_components(w.corpus)
    canon = oracle.loc[oracle["doc_id"] == oracle["component"], "doc_id"]
    survivors = w.corpus[w.corpus["doc_id"].isin(canon)]
    assert len(survivors) < len(w.corpus)  # the corpus has planted duplicates
    out = str(tmp_path / "out")
    _write(survivors, out)
    assert w.check(out) == []

    _write(survivors.iloc[1:], out)
    assert w.check(out)
    _write(w.corpus, out)
    assert w.check(out)
