"""End-to-end pipeline tests: demo + production CSV landing zone → reports
(reference run_reports.py user journey)."""

from __future__ import annotations

import csv
import json

import pytest

from funnel_report_etl_pipeline__spark import schemas
from funnel_report_etl_pipeline__spark.cli import run
from funnel_report_etl_pipeline__spark.config import EngineConfig
from funnel_report_etl_pipeline__spark.report import (
    html_to_plain,
    presentation_table,
    safe_filename,
    send_report_mail,
)

STEMS = {
    "uf_stages": "uf-stages-user-funnel",
    "otp_summary": "otp-summary-user-funnel",
    "discovery_summary": "discovery-summary-user-funnel",
    "user_funnel": "user-funnel",
}


def test_demo_writes_golden_presentation(spark, tmp_path):
    cfg = EngineConfig(output_dir=str(tmp_path))
    written = run(spark, demo=True, date_spec="15_02_2026", cfg=cfg)
    assert len(written) == 1
    with open(written[0]) as f:
        rows = list(csv.reader(f))
    assert len(rows) == 25  # U2 spacer + 24 layout rows
    assert rows[2][1] == "16.2"  # approved pct
    assert rows[3][1] == "10.6"  # shared pct
    assert rows[7][2] == "7700" and rows[7][5] == "0"
    assert rows[12][5] == "-150"  # negative otp_ok_drop passthrough
    assert rows[21][5] == "" and rows[21][6] == ""  # 'no action' blanks


@pytest.fixture()
def landing(tmp_path):
    base = tmp_path / "landing"
    for d in ("14_02_2026", "15_02_2026"):
        day = base / d
        day.mkdir(parents=True)
        with open(day / f"{STEMS['uf_stages']}-{d}.csv", "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["Entity_ID", "Date"] + schemas.STAGE_COLUMNS)
            w.writerow(["FIU_001", d.replace("_", "-"), *["100"] * 11])
        with open(day / f"{STEMS['otp_summary']}-{d}.csv", "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["entity_id"] + schemas.OTP_COLUMNS)
            w.writerow(["FIU_001", "10", "20", "30"])
        with open(day / f"{STEMS['discovery_summary']}-{d}.csv", "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["entity_id"] + schemas.DISCOVERY_COLUMNS)
            w.writerow(["FIU_001", "10", "20", "", "5", "5"])
        with open(day / f"{STEMS['user_funnel']}-{d}.csv", "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["entity_id", "fetch_status"])
            for _ in range(30):
                w.writerow(["FIU_001", "Success"])
    rec = tmp_path / "recipients.json"
    rec.write_text(
        json.dumps(
            {
                "to": {"FIU_001": ["a@x.com"], "FIU_MISSING": ["c@x.com"]},
                "cc": {"default": ["cc@x.com"]},
            }
        )
    )
    return base, rec


def test_production_range_run(spark, tmp_path, landing):
    base, rec = landing
    cfg = EngineConfig(data_base_path=str(base), output_dir=str(tmp_path / "out"))
    written = run(
        spark,
        demo=False,
        date_spec="14_02_2026 -> 15_02_2026",
        cfg=cfg,
        recipients_path=str(rec),
    )
    assert len(written) == 1  # FIU_MISSING has no data → skipped, no crash
    with open(written[0]) as f:
        rows = list(csv.reader(f))
    # 11 stage cols × 100 × 2 days; total_users = 7 cols × 200 = 1400
    assert rows[7][2] == "1400"
    # grouped counts flowed through: fi_req_ok = 60 Success + 0 Failed
    assert rows[23][2] == "60"


def test_single_day_equals_degenerate_range(spark, tmp_path, landing):
    base, rec = landing
    cfg = EngineConfig(data_base_path=str(base), output_dir=str(tmp_path / "o1"))
    w1 = run(spark, date_spec="14_02_2026", cfg=cfg, recipients_path=str(rec))
    cfg2 = EngineConfig(data_base_path=str(base), output_dir=str(tmp_path / "o2"))
    w2 = run(
        spark, date_spec="14_02_2026 -> 14_02_2026", cfg=cfg2, recipients_path=str(rec)
    )
    assert open(w1[0]).read() == open(w2[0]).read()


def _append_rows(base, dataset: str, rows: list[list[str]]) -> None:
    """Append ``rows`` to the ``dataset`` CSV of every day in the zone."""
    for day in base.iterdir():
        with open(day / f"{STEMS[dataset]}-{day.name}.csv", "a", newline="") as f:
            csv.writer(f).writerows(rows)


@pytest.fixture()
def metrics_frames(monkeypatch):
    """The metrics frames ``cli.run`` builds, each with its physical plan
    taken before execution (after it, AQE also prints the final plan)."""
    from funnel_report_etl_pipeline__spark import cli

    seen: list[tuple] = []
    build = cli.entity_funnel_metrics

    def record(*frames):
        df = build(*frames)
        seen.append((df, df._jdf.queryExecution().executedPlan().toString()))
        return df

    monkeypatch.setattr(cli, "entity_funnel_metrics", record)
    return seen


def test_metrics_plan_scans_each_csv_once(spark, tmp_path, landing, metrics_frames):
    """One scan per dataset and one shuffle: the four datasets are unioned
    and aggregated once, with no entity spine and no joins."""
    base, rec = landing
    cfg = EngineConfig(data_base_path=str(base), output_dir=str(tmp_path / "out"))
    run(spark, date_spec="14_02_2026 -> 15_02_2026", cfg=cfg, recipients_path=str(rec))
    [(_, plan)] = metrics_frames
    assert plan.count("FileScan csv") == 4, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange hashpartitioning(entity_id") == 1, plan
    assert "Join" not in plan, plan


def test_null_entity_rows_are_dropped(spark, tmp_path, landing, metrics_frames):
    """Rows with an empty entity key belong to no report: they change no
    real entity's report and produce no NULL-key metrics row."""
    base, rec = landing
    spec = "14_02_2026 -> 15_02_2026"
    cfg = EngineConfig(data_base_path=str(base), output_dir=str(tmp_path / "before"))
    [before] = run(spark, date_spec=spec, cfg=cfg, recipients_path=str(rec))
    _append_rows(base, "uf_stages", [["", "14-02-2026", *["7"] * 11]])
    _append_rows(base, "otp_summary", [["", "7", "7", "7"]])
    _append_rows(base, "discovery_summary", [["", "7", "7", "7", "7", "7"]])
    _append_rows(base, "user_funnel", [["", "Success"], ["", "Failed"]])
    cfg = EngineConfig(data_base_path=str(base), output_dir=str(tmp_path / "after"))
    [after] = run(spark, date_spec=spec, cfg=cfg, recipients_path=str(rec))
    assert open(after).read() == open(before).read()
    df, _ = metrics_frames[-1]
    assert [r.entity_id for r in df.collect()] == ["FIU_001"]


def test_main_exits_nonzero_when_an_entity_fails(spark, tmp_path, landing, monkeypatch):
    """One entity's report write raises: the other entity's report is still
    written, and the exit code says the run was not clean."""
    from funnel_report_etl_pipeline__spark import cli, session

    base, _ = landing
    _append_rows(base, "uf_stages", [["FIU_002", "14-02-2026", *["50"] * 11]])
    _append_rows(base, "otp_summary", [["FIU_002", "1", "2", "3"]])
    _append_rows(base, "discovery_summary", [["FIU_002", "1", "2", "3", "4", "5"]])
    _append_rows(base, "user_funnel", [["FIU_002", "Success"]])
    (tmp_path / "recipients.json").write_text(
        json.dumps({"to": {"FIU_001": ["a@x.com"], "FIU_002": ["b@x.com"]}})
    )
    out = tmp_path / "out"
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("DATA_BASE_PATH", str(base))
    monkeypatch.setenv("OUTPUT_DIR", str(out))
    monkeypatch.setattr(session, "get_spark", lambda: spark)
    write = cli.write_funnel_report

    def failing_write(table, path):
        if "FIU_001" in path:
            raise OSError("disk full")
        return write(table, path)

    monkeypatch.setattr(cli, "write_funnel_report", failing_write)
    assert cli.main(["--date", "14_02_2026 -> 15_02_2026"]) == 1
    names = [p.name for p in out.iterdir()]
    assert names and all(n.startswith("FIU_002") for n in names), names
    monkeypatch.setattr(cli, "write_funnel_report", write)
    assert cli.main(["--date", "14_02_2026 -> 15_02_2026"]) == 0


def test_safe_filename():
    assert (
        safe_filename("fiu@bank", "01_01_2026 -> 05_01_2026")
        == "fiu-bank-01_01_2026-05_01_2026.xlsx"
    )


def test_html_to_plain():
    assert html_to_plain("a<br><b>hey</b>") == "a\nhey"


def test_mail_skips_unconfigured():
    assert send_report_mail(["a@x.com"], "s", "b") is False


def test_presentation_matches_reference_layout_shape():
    m = dict.fromkeys(
        "total_users d1 auth_drop otp_wrong otp_miss otp_ok_drop d3 no_rec fip_fail "
        "some_fail found_not_linked d4 rej appr fip_rej fip_ok fi_req_ok not_attempted "
        "fetch_ok fi_fetch_drop n_consent n_after_init n_after_auth n_after_disc "
        "n_after_link".split(),
        0,
    )
    t = presentation_table(m)
    assert len(t) == 24 and all(len(r) == 7 for r in t)
    assert t[5][0] == "Stage"
    # zero total → all pcts 0 (zero-guard), no ZeroDivisionError
    assert t[6][3] == 0
