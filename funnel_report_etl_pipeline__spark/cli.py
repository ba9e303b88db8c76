"""Pipeline orchestration + CLI (reference run_reports.py:172-257).

``python -m funnel_report_etl_pipeline__spark.cli [--demo] [--date d]``

Same user journey as the reference — per-entity funnel report → xlsx →
optional email, yesterday by default, fault-isolated per entity — but the
extract/transform runs as ONE grouped Spark job for all entities
(``entity_funnel_metrics``) instead of the reference's sequential
per-entity loop of 4 Drill queries each. Presentation then fans out from
the collected one-row-per-entity result, which is driver-sized no matter
how large the raw data was. A failed entity makes ``main`` exit 1.
"""

from __future__ import annotations

import argparse
import logging
import os
from datetime import date, timedelta

from pyspark.sql import SparkSession

from funnel_report_etl_pipeline__spark import schemas
from funnel_report_etl_pipeline__spark.config import EngineConfig, load_config, load_recipients
from funnel_report_etl_pipeline__spark.operators.funnel import (
    discovery_totals,
    entity_funnel_metrics,
    fi_status_counts,
    funnel_metrics,
    otp_totals,
    stage_totals,
)
from funnel_report_etl_pipeline__spark.report import (
    presentation_table,
    safe_filename,
    send_report_mail,
    write_funnel_report,
)
from funnel_report_etl_pipeline__spark.sources.datespec import parse_date_spec
from funnel_report_etl_pipeline__spark.sources.mock import mock_funnel_frames, MOCK_ENTITY
from funnel_report_etl_pipeline__spark.sources.readers import read_funnel_csv

log = logging.getLogger(__name__)


def demo_metrics_row(spark: SparkSession) -> dict:
    """Mock fixtures through the full aggregate pipeline → one metrics row
    (the reference --demo path, run_reports.py:195-205)."""
    st, ot, dc, fi = mock_funnel_frames(spark)
    m = funnel_metrics(
        stage_totals(st, MOCK_ENTITY),
        otp_totals(ot, MOCK_ENTITY),
        discovery_totals(dc, MOCK_ENTITY),
        fi_status_counts(fi, MOCK_ENTITY),
    )
    return m.collect()[0].asDict()


def run(
    spark: SparkSession,
    demo: bool = False,
    date_spec: str | None = None,
    cfg: EngineConfig | None = None,
    recipients_path: str = "recipients.json",
    failed: list[str] | None = None,
) -> list[str]:
    """Run the pipeline; returns the list of report files written. The id
    of every entity whose report raised is appended to ``failed``."""
    cfg = cfg or load_config()
    if date_spec is None:
        date_spec = (date.today() - timedelta(days=1)).strftime("%d_%m_%Y")
    os.makedirs(cfg.output_dir, exist_ok=True)
    written: list[str] = []

    if demo:
        table = presentation_table(demo_metrics_row(spark))
        out = os.path.join(cfg.output_dir, f"demo_funnel_report-{date_spec}.xlsx")
        written.append(write_funnel_report(table, out))
        log.info("Demo report written: %s (email skipped in demo mode)", written[-1])
        return written

    to_map, cc_map, default_cc = load_recipients(recipients_path)
    window = parse_date_spec(date_spec)
    base = cfg.data_base_path

    # ONE grouped job over all entities; the reference issued
    # 4 queries × N entities sequentially (run_reports.py:212-243)
    frames = {
        name: read_funnel_csv(spark, base, name, window, schema)
        for name, schema in (
            ("uf_stages", schemas.UF_STAGES_SCHEMA),
            ("otp_summary", schemas.OTP_SUMMARY_SCHEMA),
            ("discovery_summary", schemas.DISCOVERY_SUMMARY_SCHEMA),
            ("user_funnel", schemas.USER_FUNNEL_SCHEMA),
        )
    }
    metrics = entity_funnel_metrics(
        frames["uf_stages"],
        frames["otp_summary"],
        frames["discovery_summary"],
        frames["user_funnel"],
    )
    rows = {r["entity_id"]: r.asDict() for r in metrics.collect()}

    for entity_id, to_list in to_map.items():
        try:
            m = rows.get(entity_id)
            if m is None:
                log.info("%s: no data; skipping.", entity_id)
                continue
            out = os.path.join(cfg.output_dir, safe_filename(entity_id, date_spec))
            path = write_funnel_report(presentation_table(m), out)
            written.append(path)
            subj = f"{entity_id}_user_funnel_{date_spec}"
            body = (
                f"Dear team,<br>Please find the user funnel for {entity_id} "
                f"{date_spec}.<br><br>Thanks &amp; Regards,<br>Your Team"
            )
            sent = send_report_mail(
                to_list, subj, body, [path], cc_map.get(entity_id, default_cc), cfg.smtp
            )
            log.info("%s: written %s; email %s", entity_id, path, "sent" if sent else "skipped")
        except Exception as e:  # noqa: BLE001 — per-entity fault isolation (reference :216-243)
            log.error("%s: error: %s", entity_id, e)
            if failed is not None:
                failed.append(entity_id)
    return written


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        description="Funnel Report ETL Pipeline — PySpark-native engine."
    )
    p.add_argument("--demo", action="store_true", help="mock data; no landing zone needed")
    p.add_argument("--date", default=None, help="dd_mm_yyyy | 'a -> b' | *mm_yyyy; default yesterday")
    args = p.parse_args(argv)
    logging.basicConfig(level=logging.INFO, format="%(message)s")

    from funnel_report_etl_pipeline__spark.session import get_spark

    failed: list[str] = []
    written = run(get_spark(), demo=args.demo, date_spec=args.date, failed=failed)
    if failed:
        log.error("%d entities failed: %s", len(failed), ", ".join(failed))
        return 1
    if not written and not args.demo:
        log.warning(
            "No reports generated (no data in the landing zone). "
            "Run with --demo for a sample report."
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
