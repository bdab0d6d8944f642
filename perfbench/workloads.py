"""The two workloads, each a closed loop with one client.

A pass runs every op of a workload once, one after another; each op
starts when the previous one finished. An op is a registered query key
(``query_keys``: a pass runs every key) or one task of the zone DAG
(``zone_etl``: a pass is one DAG run). Timings cover only calls into the
engine; result checks, cache resets and zone resets are not timed.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.trace import NullTracer

TPCH_KEYS = [
    "q1_pricing", "q2_argmin", "q3_shipping", "q4_late_orders", "q5_local_supplier",
    "q6_forecast", "q7_volume", "q8_mktshare", "q9_profit", "q10_returns",
    "q11_part_value", "q12_priority", "q13_custdist", "q14_promo", "q15_top_supplier",
    "q16_supplier_cnt", "q17_small_quantity", "q18_large_orders", "q19_disjunctive",
    "q20_excess_suppliers", "q21_sole_fault", "q22_idle_rich",
]
# Keys whose wall time is mostly eager driver work before the result
# action: the connected-component label loop under its scoped confs
# (semdedup_canonical), a persisted shingle table (ngram_jaccard) and a
# drained stream (stream_user_stats).
ITERATIVE_KEYS = ["semdedup_canonical", "ngram_jaccard", "stream_user_stats"]
QUERY_KEYS = TPCH_KEYS + ITERATIVE_KEYS


@dataclass
class Op:
    name: str
    seconds: float
    error: str = ""


@dataclass
class Pass:
    """One pass: its ops and its wall time."""

    ops: list[Op] = field(default_factory=list)
    wall: float = 0.0


def _fmt_error(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"[:300]


class QueryWorkload:
    """Runs registered query keys and checks each result against its
    DuckDB oracle twin."""

    op_span = "key"
    warm_table = "lineitem"

    def __init__(self, data_dir: str, keys: list[str], rows: dict[str, int]) -> None:
        import __spark_entry__ as entry

        self.spark = None  # the runner sets it once the session is up
        self.data_dir = data_dir
        self.keys = keys
        # input records per traversal: the keys read all the tables
        self.records = sum(rows.values())
        self.fns = entry.queries()
        self.oracles = entry.oracle_sql()
        self.results: dict[str, list[tuple[list[str], list[tuple]]]] = {k: [] for k in keys}

    def run_pass(self, tracer=NullTracer()) -> Pass:
        p = Pass()
        for key in self.keys:
            tracer.probe_before()
            df, err = None, ""
            t0 = time.perf_counter()
            try:
                with tracer.span(self.op_span, key=key):
                    with tracer.span("build", group="build"):
                        df = self.fns[key](self.spark, self.data_dir)
                    with tracer.span("exec", group="exec"):
                        rows = df.collect()
            except Exception as exc:  # noqa: BLE001 — a failing key is counted, the loop goes on
                err = _fmt_error(exc)
            dt = time.perf_counter() - t0
            if not err:
                self.results[key].append((df.columns, [tuple(r) for r in rows]))
            p.ops.append(Op(key, dt, err))
            p.wall += dt
            tracer.probe_after(key, df if not err else None)
            self.spark.catalog.clearCache()
        return p

    def verify(self) -> dict[str, str]:
        """Compare every collected result with the key's oracle; return
        ``{key: reason}`` for the mismatches."""
        import duckdb

        from perfbench.datagen import TABLES

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            return self._compare(con)
        finally:
            con.close()

    def _compare(self, con) -> dict[str, str]:
        import duckdb
        from drivercheck import _norm, normalize, values_equal

        bad: dict[str, str] = {}
        for key, outs in self.results.items():
            if not outs:
                continue
            try:
                table = con.sql(self.oracles[key]).arrow()
            except duckdb.Error as exc:
                bad[key] = f"oracle failed: {_fmt_error(exc)}"
                continue
            want_cols = table.schema.names
            want = normalize(
                [tuple(_norm(v) for v in row) for row in zip(*(c.to_pylist() for c in table.columns))],
                list(want_cols),
            )
            for cols, rows in outs:
                if sorted(cols) != sorted(want_cols):
                    bad[key] = f"columns {sorted(cols)} vs oracle {sorted(want_cols)}"
                    break
                got = normalize(rows, cols)
                if len(got) != len(want) or not all(
                    values_equal(a, b) for ra, rb in zip(got, want) for a, b in zip(ra, rb)
                ):
                    bad[key] = f"{len(got)} rows differ from the oracle's {len(want)}"
                    break
        return bad


# -- zone_etl ----------------------------------------------------------------
DATASET, TABLE = "open_data", "random_records"
DB_NAME = "perfbench_zone"
SNAPSHOT = "2026-01-04"
VERSION = "v1.0.0"
ZONE_TASKS = ["extract", "validate", "promote", "curate", "deploy", "readback"]


def _specs():
    from etl_pipeline_example_spark.metadata import TableSpec

    flat_cols = [
        ("index", "long"), ("name", "character"), ("region", "character"),
        ("codes_a", "character"), ("codes_b", "character"), ("address_city", "character"),
        ("address_geo_lat", "double"), ("address_geo_lon", "double"),
    ]
    raw = TableSpec.from_dict({
        "name": TABLE, "data_format": "json",
        "columns": [{"name": n, "type": t} for n, t in flat_cols],
    })
    records = TableSpec.from_dict({
        "name": "records", "data_format": "parquet", "location": "records",
        "partitions": ["dea_snapshot_date"],
        "columns": [{"name": n, "type": t} for n, t in flat_cols]
        + [{"name": "dea_version", "type": "character"}, {"name": "dea_snapshot_date", "type": "date"}],
    })
    counts = TableSpec.from_dict({
        "name": "calculated_counts", "data_format": "parquet", "location": "calculated_counts",
        "partitions": ["dea_snapshot_date"],
        "columns": [
            {"name": "region", "type": "character"}, {"name": "n", "type": "long"},
            {"name": "dea_version", "type": "character"}, {"name": "dea_snapshot_date", "type": "date"},
        ],
    })
    return raw, records, counts


class ZoneWorkload:
    """The paper's DAG through ``pipeline.Pipeline``: extract → validate →
    promote → curate → deploy → catalog read-back, checked against four
    invariants after every run. A pass is one DAG run."""

    op_span = "dag"
    warm_table = None

    def __init__(self, root: str, zone_input) -> None:
        self.spark = None  # the runner sets it once the session is up
        self.root = root
        self.zin = zone_input
        self.records = zone_input.n_records
        self.raw_spec, self.records_spec, self.counts_spec = _specs()
        self.task_attempts = 0

    def _tasks(self, zones, tracer, timings: dict[str, float], out: dict):
        from etl_pipeline_example_spark.functions import (
            calculated_counts, flatten_structs, version_stamp,
        )
        from etl_pipeline_example_spark.metadata import DatabaseSpec
        from etl_pipeline_example_spark.pipeline import (
            deploy_database, extract_to_land, promote_to_raw_distributed, validate_landed,
        )
        from etl_pipeline_example_spark.sinks import write_curated
        from etl_pipeline_example_spark.sources import read_jsonl

        spark, zin = self.spark, self.zin

        def extract():
            for p, fetch in enumerate(zin.fetches):
                extract_to_land(spark, zones, DATASET, TABLE, fetch=fetch,
                                n_records=zin.per_partition, run_timestamp=1_767_225_600 + p)

        def validate():
            validate_landed(spark, zones.land_path(DATASET, TABLE), self.raw_spec,
                            min_rows=zin.per_partition)

        def promote():
            promote_to_raw_distributed(spark, zones, DATASET, TABLE)

        def curate():
            flat = version_stamp(
                flatten_structs(read_jsonl(spark, zones.raw_hist_path(DATASET, TABLE))), VERSION
            )
            part = {"dea_snapshot_date": SNAPSHOT}
            write_curated(flat, self.records_spec,
                          zones.curated_path(DB_NAME, "records"), partition_values=part)
            write_curated(version_stamp(calculated_counts(flat, "region"), VERSION),
                          self.counts_spec, zones.curated_path(DB_NAME, "calculated_counts"),
                          partition_values=part)

        def deploy():
            db = DatabaseSpec(name=DB_NAME, tables=[self.records_spec, self.counts_spec])
            deploy_database(spark, db, zones.curated_path(DB_NAME, "").rstrip("/"))

        def readback():
            out["readback"] = spark.table(f"{DB_NAME}.records").count()

        fns = dict(zip(ZONE_TASKS, [extract, validate, promote, curate, deploy, readback]))

        def timed(name):
            def run():
                t0 = time.perf_counter()
                try:
                    with tracer.span(self.op_span, key=name, group="task"):
                        fns[name]()
                finally:
                    timings[name] = time.perf_counter() - t0

            return run

        return [(name, timed(name)) for name in ZONE_TASKS]

    def run_pass(self, tracer=NullTracer()) -> Pass:
        """One DAG run from an empty zone root, then its invariant checks."""
        from etl_pipeline_example_spark.pipeline import Pipeline, ZoneStore

        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        zones = ZoneStore(self.root)
        timings: dict[str, float] = {}
        out: dict = {}
        dag = Pipeline("perfbench_zone_etl")
        prev = None
        for name, fn in self._tasks(zones, tracer, timings, out):
            dag.task(name, fn, after=[prev] if prev else None)
            prev = name
        failure = ""
        t0 = time.perf_counter()
        try:
            dag.run()
        except RuntimeError as exc:
            failure = _fmt_error(exc.__cause__ or exc)
        p = Pass(wall=time.perf_counter() - t0)
        self.task_attempts += sum(st.get("attempts", 0) for st in dag.last_state.values())
        broken = self._invariants(zones, out)
        for name in ZONE_TASKS:
            status = dag.last_state.get(name, {}).get("status")
            err = {"success": "", "failed": failure}.get(status, f"task {status}")
            p.ops.append(Op(name, timings.get(name, 0.0), err or broken.get(name, "")))
        return p

    def _invariants(self, zones, out: dict) -> dict[str, str]:
        """Check the run's outputs; returns ``{task: broken invariant}``."""
        n = self.zin.n_records
        bad: dict[str, str] = {}
        land = Path(zones.land_path(DATASET, TABLE))
        if land.exists() and any(land.glob("file_land_timestamp=*")):
            bad["promote"] = "land is not empty after promotion"
        try:
            raw = self.spark.read.json(zones.raw_hist_path(DATASET, TABLE)).count()
            rows = self.spark.read.parquet(zones.curated_path(DB_NAME, "records")).count()
            counts = {
                r["region"]: r["n"]
                for r in self.spark.read.parquet(zones.curated_path(DB_NAME, "calculated_counts"))
                .select("region", "n").collect()
            }
        except Exception as exc:  # noqa: BLE001 — a missing output is a broken invariant
            bad.setdefault("curate", f"outputs unreadable: {_fmt_error(exc)}")
            return bad
        if not (raw == rows == n):
            bad["curate"] = f"landed {n}, raw-hist {raw}, curated rows {rows}"
        elif counts != self.zin.expected_regions:
            bad["curate"] = f"region counts {counts} != generated {self.zin.expected_regions}"
        if out.get("readback") != n:
            bad["readback"] = f"catalog read-back {out.get('readback')} != {n}"
        return bad

    def verify(self) -> dict[str, str]:
        """Each DAG run checks its own invariants; nothing is left to do."""
        return {}

    def written(self) -> tuple[int, int]:
        """Files and bytes under the curated zone (what the sinks wrote)."""
        files = size = 0
        for dirpath, _, names in os.walk(f"{self.root}/curated"):
            for nm in names:
                files += 1
                size += os.path.getsize(os.path.join(dirpath, nm))
        return files, size
