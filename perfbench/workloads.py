"""The benchmark workloads.

Each workload generates its inputs from the seed (``prepare``), computes
the expected answers without Spark, and lists the operations of one pass
(``pass_ops``). An operation is a ``run`` callable (the timed part) and a
``check`` callable (untimed) that returns ``None`` when the result is
correct and a short reason when it is not.

Two workloads are run (``WORKLOADS``):

* ``funnel_report`` — the paper's daily funnel ETL: one ``cli.run`` over
  a CSV landing zone, one report per entity.
* ``pipeline_versioned`` — a registry data-pipeline query (driver-side
  plan construction, its eager jobs and the dedup operators; checked
  against its DuckDB oracle) run between the commits and reads of a
  versioned-table history on ``sources.sinks`` (checked against the
  generated operation log). The two parts share one process because
  every benchmark process pays 40-60 s of Spark start and warm-up, and
  the run budget does not allow a third workload.
"""

from __future__ import annotations

import csv
import importlib.util
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from datetime import timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen


@dataclass
class Op:
    name: str
    kind: str  # "query" | "report" | "commit" | "read" | "changes" | "maintenance"
    run: Callable[[], object]
    check: Callable[[object], str | None]
    before: Callable[[], None] = lambda: None  # untimed, right before ``run``
    after: Callable[[], dict] = lambda: {}  # untimed counters, after ``check``


def dir_usage(root: str) -> tuple[int, int]:
    """(bytes, files) under ``root``."""
    n_bytes = n_files = 0
    for dirpath, _, filenames in os.walk(root):
        for name in filenames:
            n_bytes += os.path.getsize(os.path.join(dirpath, name))
            n_files += 1
    return n_bytes, n_files


# --------------------------------------------------------------------------
# funnel_report
# --------------------------------------------------------------------------


class FunnelReport:
    """One op = ``cli.run`` over the whole landing zone with SMTP unset.
    The zone has the reference's production shape (500 user_funnel rows
    per entity per day, as ``tools/e2e_funnel_probe.py``) over a 30-day
    window: about 300k CSV rows."""

    name = "funnel_report"
    n_entities, n_days, uf_rows = 20, 30, 500
    # JIT warm-up: the first cli.run in a process takes 3-5x a warm one,
    # and the next few keep getting faster, so set-up runs several untimed
    # cli.runs over the first days of the zone, then one over all of it
    warmup_runs, warmup_days = 4, 3

    def __init__(self, spark, work: str, seed: int, tracer, root: str):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self._outs = 0

    def prepare(self, k: int) -> None:
        zone = os.path.join(self.work, f"landing-{k}")
        shutil.rmtree(zone, ignore_errors=True)
        self.spec, self.recipients, totals, self.input_rows = gen.write_landing_zone(
            zone, self.seed, self.n_entities, self.n_days, self.uf_rows
        )
        self.zone = zone
        self.expected = {
            e: gen.expected_report_cells(gen.funnel_metrics(t)) for e, t in totals.items()
        }
        self.totals = totals

    def pass_ops(self, rng: np.random.Generator):
        yield self._cli_op(self.spec, self.check)

    def warmup_ops(self, rng: np.random.Generator):
        start = gen.LANDING_START.strftime("%d_%m_%Y")
        end = (gen.LANDING_START + timedelta(days=self.warmup_days - 1)).strftime("%d_%m_%Y")
        for _ in range(self.warmup_runs):
            yield self._cli_op(
                f"{start} -> {end}",
                lambda written: None if len(written) == self.n_entities else f"{len(written)} reports",
            )
        yield from self.pass_ops(rng)

    def _cli_op(self, date_spec: str, check: Callable[[list[str]], str | None]) -> Op:
        from funnel_report_etl_pipeline__spark.cli import run
        from funnel_report_etl_pipeline__spark.config import EngineConfig

        out = os.path.join(self.work, f"out-{self._outs}")
        self._outs += 1
        os.makedirs(out)
        cfg = EngineConfig(data_base_path=self.zone, output_dir=out)

        def after() -> dict:
            n_bytes, n_files = dir_usage(out)
            shutil.rmtree(out)
            return {"report_files": n_files, "report_bytes": n_bytes}

        return Op(
            "cli.run",
            "report",
            lambda: run(self.spark, demo=False, date_spec=date_spec, cfg=cfg,
                        recipients_path=self.recipients),
            check,
            after=after,
        )

    def check(self, written: list[str]) -> str | None:
        """Every numeric cell of every entity's workbook, and of its CSV
        twin when ``cli.run`` returned one (it does when xlsxwriter is not
        installed), against the generator's totals."""
        if len(written) != len(self.expected):
            return f"{len(written)} reports for {len(self.expected)} entities"
        for path in written:
            entity = os.path.basename(path).split("-")[0]
            if entity not in self.expected:
                return f"unexpected report {os.path.basename(path)}"
            stem = os.path.splitext(path)[0]
            if not os.path.exists(stem + ".xlsx"):
                return f"{entity}: no xlsx workbook"
            sources = [stem + ".xlsx"] + ([path] if path.endswith(".csv") else [])
            for source in sources:
                cells = workbook_cells(source) if source.endswith(".xlsx") else csv_cells(source)
                if max(r for r, _ in cells) != 24:
                    return f"{os.path.basename(source)}: last row {max(r for r, _ in cells)}, expected 24"
                for (r, c), want in self.expected[entity].items():
                    got = cells.get((r, c), "")
                    try:
                        ok = float(got) == want
                    except ValueError:
                        return f"{os.path.basename(source)}: cell ({r},{c}) {got!r} is not a number"
                    if not ok:
                        return f"{os.path.basename(source)}: cell ({r},{c}) = {got}, expected {want}"
        return None


def csv_cells(path: str) -> dict[tuple[int, int], str]:
    """(row, col) → text of every cell of a CSV report."""
    with open(path, newline="") as f:
        return {(r, c): v for r, row in enumerate(csv.reader(f)) for c, v in enumerate(row)}


_SHEET_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def workbook_cells(path: str) -> dict[tuple[int, int], str]:
    """(row, col) → text of every cell of the first sheet of an xlsx
    workbook: shared-string, inline-string and number cells."""
    import re
    import xml.etree.ElementTree as ET
    import zipfile

    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        shared = []
        if "xl/sharedStrings.xml" in names:
            for si in ET.fromstring(z.read("xl/sharedStrings.xml")).iter(f"{_SHEET_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_SHEET_NS}t")))
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    cells = {}
    for c in sheet.iter(f"{_SHEET_NS}c"):
        letters, row = re.fullmatch(r"([A-Z]+)(\d+)", c.get("r")).groups()
        col = 0
        for ch in letters:
            col = col * 26 + ord(ch) - ord("A") + 1
        v = c.find(f"{_SHEET_NS}v")
        if c.get("t") == "s":
            text = shared[int(v.text)]
        elif c.get("t") == "inlineStr":
            text = "".join(t.text or "" for t in c.iter(f"{_SHEET_NS}t"))
        else:
            text = v.text if v is not None else ""
        cells[(int(row) - 1, col - 1)] = text
    return cells


# --------------------------------------------------------------------------
# query_pipeline
# --------------------------------------------------------------------------


def load_driver_sim(root: str):
    """``tools/driver_sim.py``: the oracle canonicalization the external
    correctness gate uses."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_driver_sim", os.path.join(root, "tools", "driver_sim.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def frame_mismatch(ds, sdf, odf_canon) -> str | None:
    """driver_sim's comparison: the Spark frame must survive the driver's
    canonicalization, then match the canonical oracle cell for cell."""
    try:
        ds.driver_canon(sdf)
    except TypeError as e:
        return f"canonicalization failed: {e}"
    if len(sdf) != len(odf_canon) or sorted(sdf.columns) != list(odf_canon.columns):
        return (f"shape spark=({len(sdf)},{sorted(sdf.columns)}) "
                f"oracle=({len(odf_canon)},{list(odf_canon.columns)})")
    s = ds.canon(sdf)
    for c in s.columns:
        for i in range(len(s)):
            if not ds.cell_equal(s[c].iloc[i], odf_canon[c].iloc[i]):
                return f"col={c} row={i} spark={s[c].iloc[i]!r} oracle={odf_canon[c].iloc[i]!r}"
    return None


class QueryPipeline:
    """One op = one registry query: plan construction (``spec.fn``) then
    ``toPandas``. One ``bench=True`` data-pipeline entry: MinHash-LSH
    dedup (the dedup operators, persisted-slot reuse)."""

    sf = 0.01
    queries = ("dedup_minhash_lsh",)

    def __init__(self, spark, work: str, seed: int, tracer, root: str):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.ds = load_driver_sim(root)

    def prepare(self, k: int) -> None:
        import duckdb

        from funnel_report_etl_pipeline__spark.plans.registry import load_all

        # the basename keys the engine's index/refresh directories, so it is
        # the same for every set-up repetition
        sf_dir = os.path.join(self.work, f"catalog-{k}", "sf0.01")
        shutil.rmtree(sf_dir, ignore_errors=True)
        rows = gen.write_catalog(sf_dir, self.seed, self.sf)
        self.input_rows = sum(rows.values())
        self.specs = {n: load_all()[n] for n in self.queries}
        con = duckdb.connect()
        try:
            for t in gen.CATALOG_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            self.oracle = {n: self.ds.canon(con.execute(s.oracle).df()) for n, s in self.specs.items()}
        finally:
            con.close()
        self.sf_dir = sf_dir

    def pass_ops(self, rng: np.random.Generator):
        for i in rng.permutation(len(self.queries)):
            yield self._op(self.queries[i])

    def _op(self, name: str) -> Op:
        spec, tr = self.specs[name], self.tracer

        def run():
            with tr.span("plans", f"plans.{name}"):
                df = spec.fn(self.spark, self.sf_dir)
            with tr.span("spark", "spark.toPandas"):
                return df.toPandas()

        return Op(name, "query", run, lambda sdf: frame_mismatch(self.ds, sdf, self.oracle[name]))


# --------------------------------------------------------------------------
# versioned_table
# --------------------------------------------------------------------------


class VersionedTable:
    """One pass = one table history in a fresh directory: snapshot write,
    append, merge, delete; then, in seeded order, reads at the head and at
    the version before the merge and a change feed across the merge and
    the delete; then compaction and vacuum."""

    n_base, n_appends, append_rows = 4000, 1, 400

    def __init__(self, spark, work: str, seed: int, tracer, root: str):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self._tables = 0

    def prepare(self, k: int) -> None:
        self.log = gen.versioned_oplog(self.seed, self.n_base, self.n_appends, self.append_rows)
        self.input_rows = sum(len(op["rows"]) + len(op["ids"] or ()) for op in self.log)
        # each commit's input is a parquet file the engine reads, so no
        # Python-side row conversion lands inside a timed commit
        inputs = os.path.join(self.work, f"oplog-{k}")
        shutil.rmtree(inputs, ignore_errors=True)
        os.makedirs(inputs)
        self.inputs = []
        for j, op in enumerate(self.log):
            path = os.path.join(inputs, f"{j}-{op['kind']}.parquet")
            if op["kind"] == "delete":
                pq.write_table(pa.table({"id": pa.array(op["ids"], pa.int64())}), path)
            else:
                pq.write_table(_rows_table(op["rows"]), path)
            self.inputs.append(path)
        # space amplification is measured against the final snapshot
        # written once as one plain parquet file
        final = os.path.join(inputs, "final.parquet")
        pq.write_table(_rows_table([(i, n, s) for i, (n, s) in sorted(self.log[-1]["state"].items())]), final)
        self.plain_bytes = os.path.getsize(final)

    def pass_ops(self, rng: np.random.Generator):
        from funnel_report_etl_pipeline__spark.sources import sinks

        tr, spark = self.tracer, self.spark
        table = os.path.join(self.work, f"table-{self._tables}")
        self._tables += 1
        frames = [spark.read.parquet(path) for path in self.inputs]
        versions: list[int] = []

        def growth() -> tuple[Callable[[], None], Callable[[], dict]]:
            """Untimed before/after hooks counting what an op adds on disk."""
            start: list[tuple[int, int]] = []

            def after() -> dict:
                b, f = dir_usage(table)
                return {"bytes_written": b - start[0][0], "files_written": f - start[0][1]}

            return (lambda: start.append(dir_usage(table))), after

        def new_version(v) -> str | None:
            if not isinstance(v, int) or (versions and v <= versions[-1]):
                return f"commit returned version {v!r} after {versions[-1:]}"
            versions.append(v)
            return None

        def commit_op(k: int) -> Op:
            kind, df = self.log[k]["kind"], frames[k]
            fn = getattr(sinks, f"{kind}_versioned")

            def run():
                with tr.span("sinks", f"sinks.{kind}_versioned"):
                    if kind in ("write", "append"):
                        return fn(df, table, "id")
                    return fn(spark, table, df, "id")

            return Op(f"{kind}_versioned", "commit", run, new_version, *growth())

        def read_op(label: str, k: int | None) -> Op:
            state = self.log[-1 if k is None else k]["state"]

            def run():
                with tr.span("sinks", "sinks.read_versioned"):
                    df = sinks.read_versioned(spark, table, None if k is None else versions[k])
                with tr.span("spark", "spark.collect"):
                    return df.collect()

            return Op(label, "read", run, lambda rows: snapshot_mismatch(rows, state))

        def changes_op(lo: int, hi: int) -> Op:
            before, after = self.log[lo]["state"], self.log[hi]["state"]
            want = gen.expected_changes(before, after)

            def run():
                with tr.span("sinks", "sinks.version_changes"):
                    df = sinks.version_changes(spark, table, versions[lo], versions[hi], "id")
                with tr.span("spark", "spark.collect"):
                    return df.collect()

            return Op(f"version_changes_{lo}_{hi}", "changes", run,
                      lambda rows: changes_mismatch(rows, want))

        def compact():
            with tr.span("sinks", "sinks.compact_versioned"):
                return sinks.compact_versioned(spark, table, "id")

        def vacuum():
            with tr.span("sinks", "sinks.vacuum_versioned"):
                return sinks.vacuum_versioned(spark, table, retention_seconds=0)

        def space() -> dict:
            b, _ = dir_usage(table)
            shutil.rmtree(table)
            return {"space_amp": b / self.plain_bytes}

        n = len(self.log)
        merge_k = next(k for k, op in enumerate(self.log) if op["kind"] == "merge")
        for k in range(n):
            yield commit_op(k)
        reads = [read_op("read_head", None), read_op("read_middle", merge_k - 1),
                 changes_op(merge_k - 1, n - 1)]
        for i in rng.permutation(len(reads)):
            yield reads[i]
        yield Op("compact_versioned", "maintenance", compact, new_version, *growth())
        yield Op("vacuum_versioned", "maintenance", vacuum,
                 lambda removed: None if isinstance(removed, list) else f"vacuum returned {removed!r}",
                 after=space)


def snapshot_mismatch(rows, state: dict[int, tuple[str, int]]) -> str | None:
    """A versioned read against the expected table state."""
    got = {r["id"]: (r["name"], r["score"]) for r in rows}
    if len(rows) != len(got) or got != state:
        return f"{len(rows)} rows read, {len(state)} expected, contents differ"
    return None


def changes_mismatch(rows, want: set[tuple[int, str]]) -> str | None:
    """A change feed against the expected (id, change type) set."""
    got = {(r["id"], r["_change_type"]) for r in rows}
    if len(got) != len(rows) or got != want:
        return f"{len(rows)} change rows, {len(want)} expected, contents differ"
    return None


def _rows_table(rows: list[tuple[int, str, int]]) -> pa.Table:
    return pa.table({
        "id": pa.array([r[0] for r in rows], pa.int64()),
        "name": pa.array([r[1] for r in rows], pa.string()),
        "score": pa.array([r[2] for r in rows], pa.int64()),
    })


class PipelineVersioned:
    """One pass = the versioned-table history, with each pipeline query
    run at a seeded position between its operations."""

    name = "pipeline_versioned"

    def __init__(self, spark, work: str, seed: int, tracer, root: str):
        self.parts = (QueryPipeline(spark, work, seed, tracer, root),
                      VersionedTable(spark, work, seed, tracer, root))

    def prepare(self, k: int) -> None:
        for part in self.parts:
            part.prepare(k)
        self.input_rows = sum(part.input_rows for part in self.parts)

    def warmup_ops(self, rng: np.random.Generator):
        return self.pass_ops(rng)

    def pass_ops(self, rng: np.random.Generator):
        queries, table = (list(part.pass_ops(rng)) for part in self.parts)
        slots = sorted(rng.choice(len(table) + 1, len(queries), replace=True))
        ops = []
        for i, op in enumerate(table + [None]):
            ops += [q for q, slot in zip(queries, slots) if slot == i]
            if op is not None:
                ops.append(op)
        return ops


WORKLOADS = {w.name: w for w in (FunnelReport, PipelineVersioned)}
