"""The benchmark's own tests (``python3 -m pytest perfbench -q``).

* a tiny-scale smoke run per workload, traced and untraced, that every
  end-to-end and per-layer metric is printed by name with its unit;
* the oracle gate catches a final state with one row dropped or altered;
* two seeds give different inputs with the same shape;
* the tracer counts as unattributed only the gaps no measured span covers;
* without the program beside it the benchmark fails without a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb
import pytest

import gen_inputs
import oracle
from probes import Tracer

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    # Seeds 1 and 2: two seeds' inputs give the same metric names.
    res = _run("--workload", workload, "--seed", str(1 + int(trace)), "--seconds", "1",
               "--trace", trace, "--scale", "tiny")
    assert res.returncode == 0, res.stderr[-3000:]
    lines = res.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace == "1" else "end_to_end"
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC[kind]
    }
    for m in SPEC["end_to_end"] + (SPEC["per_layer"] if trace == "1" else []):
        kind = "end_to_end" if m in SPEC["end_to_end"] else "per_layer"
        assert any(
            line.startswith(f"{kind} {m['name']} = ") and line.endswith(f" {m['unit']}")
            for line in lines
        ), m["name"]
    assert any(line.startswith("error_rate = 0.0000") for line in lines)


def _state_copy(src: str, dst: Path, select: str = "*", tail: str = "") -> str:
    dst.mkdir()
    duckdb.sql(
        f"COPY (SELECT {select} FROM read_parquet('{src}') {tail}) "
        f"TO '{dst}/part-0.parquet' (FORMAT PARQUET)"
    )
    return str(dst)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_oracle_gate_catches_dropped_and_altered_rows(workload, tmp_path):
    manifest = gen_inputs.build(str(tmp_path), workload, 5, "tiny")
    expected = str(Path(gen_inputs.input_dir(str(tmp_path), workload, 5, "tiny")) / "expected.parquet")
    cols = oracle.STATE_COLUMNS[workload]
    same = oracle.compare(expected, _state_copy(expected, tmp_path / "same"), cols)
    assert same == {"match": True, "missing": 0, "extra": 0, "rows": manifest["expected_rows"]}

    dropped = _state_copy(expected, tmp_path / "dropped", tail="OFFSET 1")
    assert oracle.compare(expected, dropped, cols)["missing"] == 1

    # One row altered: its order_id changes, so one row is missing and one extra.
    first = duckdb.sql(f"SELECT min(order_id) FROM read_parquet('{expected}')").fetchone()[0]
    altered = _state_copy(
        expected, tmp_path / "altered",
        select=f"* REPLACE (CASE WHEN order_id = {first} THEN order_id + 1000000000 "
        "ELSE order_id END AS order_id)",
    )
    res = oracle.compare(expected, altered, cols)
    assert not res["match"] and res["missing"] == 1 and res["extra"] == 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_seeds_give_different_inputs_of_the_same_shape(workload, tmp_path):
    a = gen_inputs.build(str(tmp_path), workload, 1, "tiny")
    b = gen_inputs.build(str(tmp_path), workload, 2, "tiny")
    assert a["content_hash"] != b["content_hash"]
    for key in ("events", "orders_rows", "expected_rows", "input_files", "shape"):
        assert a[key] == b[key], key
    again = gen_inputs.build(str(tmp_path / "again"), workload, 1, "tiny")
    assert again["content_hash"] == a["content_hash"]


def test_unattributed_is_the_gaps_between_leaf_spans():
    t = Tracer()
    drain = t.add("drain", 0.0, 10.0)
    write = t.add("state.write", 1.0, 9.0, drain)
    t.add("stage", 2.0, 5.0, write)
    t.add("stage", 4.0, 6.0, write)  # overlaps the first
    t.add("state.reopen", 9.0, 9.5, drain)
    # drain: 1 s before the write, 0.5 s after the re-open; write: 1 s
    # before its first stage and 3 s after its last.
    assert t.unattributed(drain) == pytest.approx(1.5 + 4.0)
    assert t.unattributed(t.add("leaf", 0.0, 1.0)) == 0.0


def test_fails_without_a_result_when_the_program_is_absent(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    res = _run("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
               "--trace", "0", cwd=tmp_path)
    assert res.returncode != 0
    assert '"metrics"' not in res.stdout
