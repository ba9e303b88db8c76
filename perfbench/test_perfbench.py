"""Tests of the benchmark itself: seeded inputs are reproducible, the
correctness checks catch a perturbed result, and a run prints every
metric BENCHMARK.json names, with its unit.

    python3 -m pytest perfbench/ -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import gen, run, trace, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_same_landing_zone_and_oplog(tmp_path):
    a = gen.write_landing_zone(str(tmp_path / "a"), 7, 3, 5, 10)
    b = gen.write_landing_zone(str(tmp_path / "b"), 7, 3, 5, 10)
    c = gen.write_landing_zone(str(tmp_path / "c"), 8, 3, 5, 10)
    assert gen.file_digest(str(tmp_path / "a")) == gen.file_digest(str(tmp_path / "b"))
    assert gen.file_digest(str(tmp_path / "a")) != gen.file_digest(str(tmp_path / "c"))
    assert a[2] == b[2] and a[3] == b[3]
    assert gen.versioned_oplog(7, 100, 2, 20) == gen.versioned_oplog(7, 100, 2, 20)
    assert gen.versioned_oplog(7, 100, 2, 20) != gen.versioned_oplog(8, 100, 2, 20)


def test_same_seed_same_catalog(tmp_path):
    gen.write_catalog(str(tmp_path / "a"), 3, 0.001)
    gen.write_catalog(str(tmp_path / "b"), 3, 0.001)
    assert gen.file_digest(str(tmp_path / "a")) == gen.file_digest(str(tmp_path / "b"))


def test_oplog_states_follow_the_ops():
    log = gen.versioned_oplog(1, 200, 2, 40)
    assert [op["kind"] for op in log] == ["write", "append", "append", "merge", "delete"]
    assert len(log[0]["state"]) == 200 and len(log[2]["state"]) == 280
    assert len(log[3]["state"]) == 300  # half the merge rows update live ids
    assert len(log[4]["state"]) == 260 and not set(log[4]["ids"]) & log[4]["state"].keys()


def _funnel_workload(tmp_path) -> workloads.FunnelReport:
    wl = workloads.FunnelReport(None, str(tmp_path), 5, None, ROOT)
    wl.n_entities, wl.n_days, wl.uf_rows = 3, 4, 10
    wl.prepare(0)
    return wl


def _write_reports(wl, out: str) -> list[str]:
    """Reports as the CLI writes them (CSV twin + workbook), built from
    the generator's totals."""
    from funnel_report_etl_pipeline__spark.report import presentation_table, write_funnel_report

    os.makedirs(out, exist_ok=True)
    return [
        write_funnel_report(presentation_table(gen.funnel_metrics(t)), os.path.join(out, f"{e}-x.xlsx"))
        for e, t in wl.totals.items()
    ]


def test_funnel_check_accepts_correct_and_rejects_perturbed_report(tmp_path):
    wl = _funnel_workload(tmp_path)
    written = _write_reports(wl, str(tmp_path / "out"))
    assert wl.check(written) is None
    with open(written[1]) as f:
        rows = f.read().splitlines()
    cells = rows[19].split(",")
    cells[2] = str(int(cells[2]) + 1)  # approved-consent count off by one
    rows[19] = ",".join(cells)
    with open(written[1], "w") as f:
        f.write("\n".join(rows) + "\n")
    err = wl.check(written)
    assert err is not None and "(19,2)" in err
    assert wl.check(written[:-1]) is not None  # a missing entity


def test_funnel_check_reads_workbooks_when_no_csv_twin_is_returned(tmp_path):
    from funnel_report_etl_pipeline__spark.report import presentation_table, write_funnel_excel

    wl = _funnel_workload(tmp_path)
    xlsx = [os.path.splitext(p)[0] + ".xlsx" for p in _write_reports(wl, str(tmp_path / "out"))]
    assert wl.check(xlsx) is None
    entity = os.path.basename(xlsx[0]).split("-")[0]
    m = gen.funnel_metrics(wl.totals[entity])
    m["appr"] += 1  # approved-consent count off by one, in the workbook only
    write_funnel_excel(presentation_table(m), xlsx[0])
    err = wl.check(xlsx)
    assert err is not None and "(19,2)" in err


def test_frame_check_rejects_perturbed_query_result():
    ds = workloads.load_driver_sim(ROOT)
    good = pd.DataFrame({"k": [2, 1], "v": [0.5, 1.5]})
    oracle = ds.canon(good.copy())
    assert workloads.frame_mismatch(ds, good, oracle) is None
    bad = good.copy()
    bad.loc[0, "v"] = 0.25
    assert "col=v" in workloads.frame_mismatch(ds, bad, oracle)
    assert "shape" in workloads.frame_mismatch(ds, good.iloc[:1], oracle)


def test_versioned_checks_reject_perturbed_reads_and_feeds():
    log = gen.versioned_oplog(2, 50, 1, 10)
    state = log[-1]["state"]
    rows = [{"id": i, "name": n, "score": sc} for i, (n, sc) in state.items()]
    assert workloads.snapshot_mismatch(rows, state) is None
    bad = [dict(r) for r in rows]
    bad[0]["score"] += 1
    assert workloads.snapshot_mismatch(bad, state) is not None
    assert workloads.snapshot_mismatch(rows + rows[:1], state) is not None  # duplicate row
    want = gen.expected_changes(log[1]["state"], state)
    feed = [{"id": i, "_change_type": t} for i, t in want]
    assert want and workloads.changes_mismatch(feed, want) is None
    assert workloads.changes_mismatch(feed[1:], want) is not None


def test_expected_changes_is_the_membership_diff():
    before, after = {1: "a", 2: "b"}, {2: "c", 3: "d"}
    assert gen.expected_changes(before, after) == {(3, "insert"), (1, "delete")}


def test_self_time_and_job_attribution():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
    ]
    assert trace.self_time(spans[0], spans[1:]) == pytest.approx(5.0)
    tr = trace.Tracer(enabled=True)
    tr._pending = [dict(s, wall_ms=s["start"] * 1000, wall_end_ms=s["end"] * 1000) for s in spans]
    assert tr._owner(2000)["id"] == 1
    assert tr._owner(5000)["id"] == 2
    assert tr._owner(8000)["id"] == 0
    assert tr._owner(None)["id"] == 0


def test_layer_metrics_cover_benchmark_json():
    spec = _bench_spec()
    m = run.layer_metrics([], [], cores=4)
    m.update({"session.start_s": 1.0, "session.warmup_s": 1.0, "trace.overhead_s": 0.0})
    assert sorted(m) == sorted(x["name"] for x in spec["per_layer"])
    for layer in {n.split(".")[0] for n in m}:
        assert layer in run.SHOULD_MOVE, layer


@pytest.mark.parametrize("trace_flag", [0, 1])
def test_run_prints_every_metric_with_its_unit(trace_flag):
    spec = _bench_spec()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "funnel_report", "--seed", "3",
         "--seconds", "1", "--trace", str(trace_flag)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = spec["per_layer"] if trace_flag else spec["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {x["name"]: x["unit"] for x in want}
    summary = json.loads(proc.stdout.strip().splitlines()[-2].split(": ", 1)[1])
    if trace_flag:
        # the reader figures are the engine's own: the CSVs of the window
        # that read_funnel_csv resolved, and what the scans of them read
        assert result["metrics"]["readers.files"]["value"] == 4 * workloads.FunnelReport.n_days
        assert result["metrics"]["readers.rows"]["value"] > 0
        assert result["metrics"]["readers.input_mb"]["value"] > 0
    else:
        assert summary["workload_only"]["error_rate"] == {"value": 0.0, "unit": "ratio"}
