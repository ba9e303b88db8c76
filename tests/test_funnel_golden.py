"""Golden funnel test — the reference's demo workbook values.

Reference demo (report_engine.py:326-367 + the committed
output/demo_funnel_report-15_02_2026.xlsx, SURVEY.md §5): mock inputs are
constants, so the full pipeline must land exactly on the golden numbers,
including the NEGATIVE otp_ok_drop.
"""

from __future__ import annotations

from funnel_report_etl_pipeline__spark.operators.funnel import (
    build_funnel_report,
    discovery_totals,
    fi_status_counts,
    funnel_metrics,
    funnel_summary,
    otp_totals,
    stage_totals,
)
from funnel_report_etl_pipeline__spark.sources.mock import MOCK_ENTITY, mock_funnel_frames

GOLDEN = {
    "total_users": 7700,
    "n_consent": 7700,
    "n_after_init": 6900,
    "n_after_auth": 5400,
    "n_after_disc": 3700,
    "n_after_link": 2100,
    "d1": 800,
    "auth_drop": 1500,
    "otp_wrong": 450,
    "otp_miss": 1200,
    "otp_ok_drop": -150,  # negative passthrough (reference M2)
    "d3": 1700,
    "no_rec": 600,
    "fip_fail": 200,
    "some_fail": 150,
    "found_not_linked": 750,
    "d4": 1600,
    "rej": 1950,
    "appr": 1250,
    "fip_rej": 150,
    "fip_ok": 1100,
    "fi_req_ok": 1050,
    "not_attempted": 50,
    "fetch_ok": 820,
    "fi_fetch_drop": 230,
}


def _metrics(spark):
    st, ot, dc, fi = mock_funnel_frames(spark)
    return funnel_metrics(
        stage_totals(st, MOCK_ENTITY),
        otp_totals(ot, MOCK_ENTITY),
        discovery_totals(dc, MOCK_ENTITY),
        fi_status_counts(fi, MOCK_ENTITY),
    )


def test_golden_metrics(spark):
    row = _metrics(spark).collect()[0].asDict()
    for k, v in GOLDEN.items():
        assert row[k] == v, f"{k}: got {row[k]}, want {v}"


def test_golden_summary_pcts(spark):
    row = funnel_summary(_metrics(spark)).collect()[0]
    assert row.pct_approved_consent == 16.2
    assert row.pct_shared_data == 10.6


def test_report_shape_and_rows(spark):
    rows = build_funnel_report(_metrics(spark)).collect()
    assert len(rows) == 18
    by_id = {r.row_id: r for r in rows}
    # row 1: success = total, dropoff literal 0
    assert by_id[1].success_count == 7700 and by_id[1].dropoff_count == 0
    # survivors waterfall on the non-subcause rows
    assert by_id[2].success_count == 6900 and by_id[2].dropoff_count == 800
    assert by_id[3].success_count == 5400 and by_id[3].dropoff_count == 1500
    assert by_id[7].success_count == 3700 and by_id[7].dropoff_count == 1700
    assert by_id[12].success_count == 2100 and by_id[12].dropoff_count == 1600
    # negative subcause passes through untouched
    assert by_id[6].dropoff_count == -150
    # consent review: approved/rejected + blank "no action" subcause
    assert by_id[13].success_count == 1250 and by_id[13].dropoff_count == 1950
    assert by_id[15].dropoff_count is None
    # percentages: HALF_EVEN, of total_users
    assert by_id[13].success_pct == 16.2
    assert by_id[18].success_pct == 10.6
    # subcause flags
    assert [r.row_id for r in rows if r.is_subcause] == [4, 5, 6, 8, 9, 10, 11, 14, 15]


def test_empty_inputs_degrade_to_zero(spark):
    """Reference guards: empty frames → zeros, never a crash
    (report_engine.py:257, 278, 284-285)."""
    st, ot, dc, fi = mock_funnel_frames(spark)
    empty_entity = "NO_SUCH_ENTITY"
    m = funnel_metrics(
        stage_totals(st, empty_entity),
        otp_totals(ot, empty_entity),
        discovery_totals(dc, empty_entity),
        fi_status_counts(fi, empty_entity),
    )
    row = m.collect()[0].asDict()
    assert all(v == 0 for v in row.values()), row


def test_entity_grouped_matches_single(spark):
    """entity_funnel_metrics (one grouped job) must agree with the
    per-entity path for the mock entity."""
    from funnel_report_etl_pipeline__spark.operators.funnel import entity_funnel_metrics

    st, ot, dc, fi = mock_funnel_frames(spark)
    all_rows = entity_funnel_metrics(st, ot, dc, fi).collect()
    ours = next(r for r in all_rows if r.entity_id == MOCK_ENTITY).asDict()
    for k, v in GOLDEN.items():
        assert ours[k] == v, f"{k}: got {ours[k]}, want {v}"

def test_entity_only_in_otp_data_still_reported(spark):
    """An entity with rows in ONLY one of the four datasets must still get
    a metrics row (zeros elsewhere) — the reference queries each dataset
    independently per entity, so it reports such entities too. Checked for
    each dataset in turn, OTP first."""
    from funnel_report_etl_pipeline__spark.operators.funnel import entity_funnel_metrics

    frames = mock_funnel_frames(spark)
    keys = ("Entity_ID", "entity_id", "entity_id", "entity_id")
    # FIU_OTHER appears in every mock frame with cells 9999 (stages),
    # 777 (OTP, discovery) and one Success fetch; keep it in one frame only
    expected = {
        1: {"otp_wrong": 777, "otp_miss": 777, "total_users": 0, "d3": 0, "fi_req_ok": 0},
        0: {"total_users": 7 * 9999, "d1": 9999, "fetch_ok": 9999, "otp_wrong": 0, "d3": 0,
            "fi_req_ok": 0},
        2: {"d3": 5 * 777, "no_rec": 777, "total_users": 0, "otp_wrong": 0, "fi_req_ok": 0},
        3: {"fi_req_ok": 1, "total_users": 0, "otp_wrong": 0, "d3": 0},
    }
    for keep, want in expected.items():
        only = [
            df if i == keep else df.filter(df[key] != "FIU_OTHER")
            for i, (df, key) in enumerate(zip(frames, keys))
        ]
        rows = {r.entity_id: r.asDict() for r in entity_funnel_metrics(*only).collect()}
        assert "FIU_OTHER" in rows, f"entity present only in frame {keep} was dropped"
        got = {k: rows["FIU_OTHER"][k] for k in want}
        assert got == want, f"frame {keep}: {got}"
        # the mock entity, present everywhere, is unaffected
        assert rows[MOCK_ENTITY]["total_users"] == GOLDEN["total_users"]
