"""Tests of the benchmark's own gates, on tiny inputs.

Run from the root of a checkout: ``python3 -m pytest perfbench -q``.
Each test starts Spark in fresh processes, so the file takes minutes.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq
import pytest

import run

HERE = os.path.dirname(os.path.abspath(__file__))


def _units(kind: str) -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


@pytest.fixture(scope="module")
def traced_trickle(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("trickle"))
    spec, facts, child = run.execute(
        "trickle", 7, 1, True, run.PROGRAM_TIMEOUT_S, work)
    return spec, facts, child, work


def test_tiny_trickle_traced_passes_and_reports_every_layer(traced_trickle):
    spec, facts, child, work = traced_trickle
    attempted, failed, reasons = run.gate(spec, facts, child)
    assert failed == 0, reasons
    assert attempted > 0
    import spans

    log = spans.read_event_log(os.path.join(work, "eventlog"))
    metrics = spans.layer_metrics(
        child, log, facts, {"check": run.CHECK_REPS, "refresh": run.REFRESH_REPS})
    metrics["index.files"] = len(run.oracle.index_files(spec["index"]))
    assert {k: spans.layer_unit(k) for k in metrics} == _units("per_layer")
    assert metrics["pipeline.batches"] == facts["files"]
    assert metrics["bucketed.jobs"] > 0 and metrics["progress.jobs"] > 0


def test_index_with_one_row_dropped_is_failed(traced_trickle):
    spec, facts, child, _ = traced_trickle
    victim = max(glob.glob(os.path.join(spec["index"], "bucket=*", "*.parquet")),
                 key=lambda p: pq.ParquetFile(p).metadata.num_rows)
    table = pq.read_table(victim)
    pq.write_table(table.slice(1), victim)
    attempted, failed, reasons = run.gate(spec, facts, child)
    assert failed == 1, reasons
    assert any("index rows" in r for r in reasons)


def test_tiny_envelope_run_passes(tmp_path):
    res = run.run("envelope_backfill", 7, 1, False, work=str(tmp_path / "w"))
    assert res["correct"], res["reasons"]
    assert {k: m["unit"] for k, m in res["metrics"].items()} == _units("end_to_end")
    assert all(m["value"] > 0 for m in res["metrics"].values())
    assert not os.path.exists(tmp_path / "w")


def test_run_cut_short_by_its_timeout_is_failed(tmp_path):
    res = run.run("trickle", 7, 1, False, program_timeout=1.0, work=str(tmp_path / "w"))
    assert not res["correct"]
    assert res["failed"] > 0
    assert any("not committed" in r for r in res["reasons"]), res["reasons"]
