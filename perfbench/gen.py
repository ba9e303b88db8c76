"""Seeded input generators for the benchmark workloads.

Everything here is plain Python, NumPy and pyarrow: no Spark, so the
inputs (and the expected answers derived from them) do not depend on the
code under test. The same seed gives byte-identical files.

* ``write_catalog`` — the TPC-H-shaped parquet catalog the registry
  queries read (same tables, column names, types and value domains as the
  test tables described in TESTDATA.md / FIXTURES.md §6).
* ``write_landing_zone`` — the reference's CSV landing zone (one
  directory per day, four CSVs each, FIXTURES.md §1-4), plus the funnel
  totals per entity computed while writing it.
* ``versioned_oplog`` — one versioned-table history (snapshot, appends,
  merge, delete) and the expected table state after every commit.
"""

from __future__ import annotations

import csv
import json
import os
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# TPC-H-shaped catalog
# --------------------------------------------------------------------------

CATALOG_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()


def _days(rng: np.random.Generator, lo: date, hi: date, n: int) -> np.ndarray:
    span = (hi - lo).days
    off = rng.integers(0, span + 1, n)
    return np.datetime64(lo.isoformat(), "us") + off.astype("timedelta64[D]")


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale ``sf`` (sf=0.01: 60k lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = max(int(20_000 * sf), 500)
    n_ev = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 50)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(_REGIONS, s)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), s),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array(rng.choice(names, n_part), s),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
            "p_type": pa.array(rng.choice(_PART_TYPES, n_part), s),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1), f64
            ),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
            "o_totalprice": pa.array(money(1000.0, 500_000.0, n_ord), f64),
            "o_orderdate": pa.array(
                _days(rng, date(1995, 1, 1), date(2001, 8, 1), n_ord), pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord), s),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
            "l_extendedprice": pa.array(money(900.0, 105_000.0, n_li), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
            "l_shipdate": pa.array(
                _days(rng, date(1995, 1, 2), date(2001, 11, 4), n_li), pa.timestamp("us")
            ),
        }
    )
    gaps = rng.exponential(259.0, n_ev)  # ~30 days of events at sf=0.01
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps * 1e6).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev), s),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01), f64),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": pa.array(texts, s),
            "lang": pa.array(rng.choice(_LANGS, n_doc, p=_LANG_P), s),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_doc)], s),
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return t


def write_catalog(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every catalog table; returns
    the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in catalog_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# --------------------------------------------------------------------------
# Funnel landing zone
# --------------------------------------------------------------------------

STAGE_COLUMNS = [
    "AA_client_Initialization", "OTP_Based_Sign_in_Sign_up", "View_Consent_Details",
    "Discovery", "Linking", "Rejected_Consent_Requests", "Approved_Consent_Requests",
    "FIP_Rejected_Consent_Artefacts", "FIP_Accepted_Consent_Artefacts",
    "Data_Fetch_Success", "Data_Fetch_Not_Attempted",
]
OTP_COLUMNS = ["Correct_OTP_Entered", "Incorrect_OTP_Entered", "OTP_Not_Entered"]
DISCOVERY_COLUMNS = ["Account_Discovered", "Account_not_Found", "FIP_Not_Selected", "Failure", "NO_STATUS"]
_STEMS = {
    "uf_stages": "uf-stages-user-funnel",
    "otp_summary": "otp-summary-user-funnel",
    "discovery_summary": "discovery-summary-user-funnel",
    "user_funnel": "user-funnel",
}
# fetch_status cells: the three counted statuses plus the empty and
# out-of-vocabulary values the reference filters out (FIXTURES.md §4)
_STATUSES = ["Success", "Failed", "Not Attempted", "", "Pending"]
_STATUS_P = [0.55, 0.2, 0.15, 0.05, 0.05]
LANDING_START = date(2026, 1, 1)


def write_landing_zone(
    base: str, seed: int, n_entities: int, n_days: int, uf_rows: int
) -> tuple[str, str, dict[str, dict[str, int]], int]:
    """Write the landing zone and ``recipients.json`` under ``base``.

    Returns ``(date_spec, recipients_path, totals, csv_rows)``: ``totals``
    maps each entity to the raw sums the report is derived from
    (``stage:<col>``, ``otp:<col>``, ``disc:<col>`` — truncated toward
    zero as the reference does — and ``fi_success`` / ``fi_failed``)."""
    rng = np.random.default_rng(seed)
    entities = [f"FIU_{i:03d}" for i in range(n_entities)]
    totals = {e: {} for e in entities}
    csv_rows = 0

    def add(e: str, key: str, v: float) -> None:
        totals[e][key] = totals[e].get(key, 0.0) + v

    for k in range(n_days):
        d = LANDING_START + timedelta(days=k)
        tag = d.strftime("%d_%m_%Y")
        day_dir = os.path.join(base, tag)
        os.makedirs(day_dir, exist_ok=True)

        def open_csv(ds: str):
            return open(os.path.join(day_dir, f"{_STEMS[ds]}-{tag}.csv"), "w", newline="")

        with open_csv("uf_stages") as f:
            w = csv.writer(f)
            w.writerow(["Entity_ID", "Date"] + STAGE_COLUMNS)
            for e in entities:
                cells = []
                for c in STAGE_COLUMNS:
                    v = int(rng.integers(0, 400))
                    if rng.random() < 0.05:  # fractional cell: truncated per cell
                        cells.append(f"{v}.7")
                    else:
                        cells.append(str(v))
                    add(e, f"stage:{c}", v)
                w.writerow([e, d.strftime("%d-%m-%Y"), *cells])
        with open_csv("otp_summary") as f:
            w = csv.writer(f)
            w.writerow(["entity_id"] + OTP_COLUMNS)
            for e in entities:
                vals = [int(x) for x in rng.integers(0, 300, len(OTP_COLUMNS))]
                for c, v in zip(OTP_COLUMNS, vals):
                    add(e, f"otp:{c}", v)
                w.writerow([e, *map(str, vals)])
        with open_csv("discovery_summary") as f:
            w = csv.writer(f)
            w.writerow(["entity_id"] + DISCOVERY_COLUMNS)
            for e in entities:
                cells = []
                for c in DISCOVERY_COLUMNS:
                    if rng.random() < 0.1:  # empty cell → NULL → ignored by SUM
                        cells.append("")
                        add(e, f"disc:{c}", 0)
                    else:
                        v = int(rng.integers(0, 200))
                        cells.append(str(v))
                        add(e, f"disc:{c}", v)
                w.writerow([e, *cells])
        with open_csv("user_funnel") as f:
            w = csv.writer(f)
            w.writerow(["entity_id", "fetch_status"])
            for e in entities:
                n = int(rng.integers(uf_rows // 2, uf_rows * 3 // 2 + 1))
                statuses = rng.choice(_STATUSES, n, p=_STATUS_P)
                add(e, "fi_success", int((statuses == "Success").sum()))
                add(e, "fi_failed", int((statuses == "Failed").sum()))
                w.writerows([e, s] for s in statuses)
                csv_rows += n
        csv_rows += 3 * n_entities
    spec = f"{LANDING_START.strftime('%d_%m_%Y')} -> {d.strftime('%d_%m_%Y')}"
    rec = os.path.join(base, "recipients.json")
    with open(rec, "w") as f:
        json.dump({"to": {e: [f"{e}@example.com"] for e in entities}, "cc": {}}, f)
    return spec, rec, {e: {k: int(v) for k, v in t.items()} for e, t in totals.items()}, csv_rows


def funnel_metrics(t: dict[str, int]) -> dict[str, int]:
    """The reference waterfall (FIXTURES.md §5) over one entity's totals."""
    st = lambda c: t[f"stage:{c}"]  # noqa: E731
    d1, d2, view_drop = st("AA_client_Initialization"), st("OTP_Based_Sign_in_Sign_up"), st("View_Consent_Details")
    d3 = sum(t[f"disc:{c}"] for c in DISCOVERY_COLUMNS)
    d4, rej, appr = st("Linking"), st("Rejected_Consent_Requests"), st("Approved_Consent_Requests")
    total = d1 + d2 + view_drop + st("Discovery") + d4 + rej + appr
    auth_drop = d2 + view_drop
    otp_wrong, otp_miss = t["otp:Incorrect_OTP_Entered"], t["otp:OTP_Not_Entered"]
    fi_req_ok = t["fi_success"] + t["fi_failed"]
    fetch_ok = st("Data_Fetch_Success")
    return {
        "total_users": total,
        "n_consent": total,
        "n_after_init": total - d1,
        "n_after_auth": total - d1 - auth_drop,
        "n_after_disc": total - d1 - auth_drop - d3,
        "n_after_link": total - d1 - auth_drop - d3 - d4,
        "d1": d1,
        "auth_drop": auth_drop,
        "otp_wrong": otp_wrong,
        "otp_miss": otp_miss,
        "otp_ok_drop": d2 - (otp_wrong + otp_miss) + view_drop,
        "d3": d3,
        "no_rec": t["disc:Account_not_Found"],
        "fip_fail": t["disc:NO_STATUS"],
        "some_fail": t["disc:Failure"],
        "found_not_linked": t["disc:Account_Discovered"] + t["disc:FIP_Not_Selected"],
        "d4": d4,
        "appr": appr,
        "rej": rej,
        "fip_ok": st("FIP_Accepted_Consent_Artefacts"),
        "fip_rej": st("FIP_Rejected_Consent_Artefacts"),
        "fi_req_ok": fi_req_ok,
        "not_attempted": st("Data_Fetch_Not_Attempted"),
        "fetch_ok": fetch_ok,
        "fi_fetch_drop": fi_req_ok - fetch_ok,
    }


# Report rows that carry numbers (index into the CSV twin, spacer row 0
# included): row → (metric in the "Count" column, metric in the dropoff
# "Count" column). The percentage cell right of each count is
# round(value / total_users * 100, 1). Rows 2 and 3 carry only a
# percentage, in column 1.
REPORT_NUMERIC_ROWS = {
    7: ("n_consent", None), 8: ("n_after_init", "d1"), 9: ("n_after_auth", "auth_drop"),
    10: (None, "otp_wrong"), 11: (None, "otp_miss"), 12: (None, "otp_ok_drop"),
    13: ("n_after_disc", "d3"), 14: (None, "no_rec"), 15: (None, "fip_fail"),
    16: (None, "some_fail"), 17: (None, "found_not_linked"), 18: ("n_after_link", "d4"),
    19: ("appr", "rej"), 20: (None, "rej"), 22: ("fip_ok", "fip_rej"),
    23: ("fi_req_ok", "not_attempted"), 24: ("fetch_ok", "fi_fetch_drop"),
}
REPORT_PCT_ONLY_ROWS = {2: "appr", 3: "fetch_ok"}


def pct(v: int, total: int) -> float:
    return round(v / total * 100, 1) if total > 0 else 0


def expected_report_cells(m: dict[str, int]) -> dict[tuple[int, int], float]:
    """(row, col) → expected number for every numeric cell of one report."""
    total = m["total_users"]
    cells: dict[tuple[int, int], float] = {}
    for r, key in REPORT_PCT_ONLY_ROWS.items():
        cells[(r, 1)] = pct(m[key], total)
    for r, (count_key, drop_key) in REPORT_NUMERIC_ROWS.items():
        if count_key is not None:
            cells[(r, 2)] = m[count_key]
            cells[(r, 3)] = pct(m[count_key], total)
        if drop_key is not None:
            cells[(r, 5)] = m[drop_key]
            cells[(r, 6)] = pct(m[drop_key], total)
    cells[(7, 5)] = 0  # the reference's literal zero dropoff at consent
    cells[(7, 6)] = 0
    return cells


# --------------------------------------------------------------------------
# Versioned-table history
# --------------------------------------------------------------------------

def versioned_oplog(seed: int, n_base: int, n_appends: int, append_rows: int) -> list[dict]:
    """One table history as a list of commit ops, each with the expected
    table state (``id → (name, score)``) after it commits.

    Ops: ``write`` (full snapshot), ``append`` × n_appends (new ids only),
    ``merge`` (half updates of live ids, half new ids), ``delete``
    (live ids only, so every requested id is removed)."""
    rng = np.random.default_rng(seed)
    next_id = 0
    state: dict[int, tuple[str, int]] = {}
    ops: list[dict] = []

    def fresh(n: int) -> list[tuple[int, str, int]]:
        nonlocal next_id
        ids = range(next_id, next_id + n)
        next_id += n
        return [(i, f"n{int(rng.integers(0, 10**6))}", int(rng.integers(0, 10**6))) for i in ids]

    def commit(kind: str, rows: list[tuple[int, str, int]], ids: list[int] | None = None) -> None:
        if kind == "write":
            state.clear()
        if kind == "delete":
            for i in ids:
                del state[i]
        for i, name, score in rows:
            state[i] = (name, score)
        ops.append({"kind": kind, "rows": rows, "ids": ids, "state": dict(state)})

    commit("write", fresh(n_base))
    for _ in range(n_appends):
        commit("append", fresh(append_rows))
    live = sorted(state)
    upd = rng.choice(live, append_rows // 2, replace=False)
    merge_rows = [
        (int(i), f"u{int(rng.integers(0, 10**6))}", int(rng.integers(0, 10**6))) for i in upd
    ] + fresh(append_rows - len(upd))
    commit("merge", merge_rows)
    live = sorted(state)
    commit("delete", [], sorted(int(i) for i in rng.choice(live, append_rows, replace=False)))
    return ops


def expected_changes(before: dict, after: dict) -> set[tuple[int, str]]:
    """Net id-grain change feed between two states (no update detection):
    ids only in ``after`` are inserts, ids only in ``before`` deletes."""
    return {(i, "insert") for i in after.keys() - before.keys()} | {
        (i, "delete") for i in before.keys() - after.keys()
    }


def file_digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes)."""
    import hashlib

    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()

