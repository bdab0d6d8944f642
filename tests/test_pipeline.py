"""End-to-end zone pipeline: extract→land, validate, promote, transform,
curated write, catalog deploy — the reference's full DAG
(reference: dags/example_etl_dag.py:108-110) on local storage.
"""

from __future__ import annotations

import gzip
import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_pipeline_example_spark.functions import calculated_counts, flatten_structs, version_stamp
from etl_pipeline_example_spark.metadata import TableSpec, align_df_to_meta
from etl_pipeline_example_spark.pipeline import (
    Pipeline,
    ValidationError,
    ZoneStore,
    extract_to_land,
    promote_to_raw_distributed,
    validate_landed,
)
from etl_pipeline_example_spark.pipeline.catalog import deploy_database
from etl_pipeline_example_spark.metadata.spec import DatabaseSpec
from etl_pipeline_example_spark.sinks import write_curated
from etl_pipeline_example_spark.sources import read_jsonl

RAW_SPEC = TableSpec.from_dict(
    {
        "name": "random_records",
        "data_format": "json",
        "columns": [
            {"name": "index", "type": "int"},
            {"name": "name", "type": "character"},
            {"name": "region", "type": "character"},
            {"name": "codes_a", "type": "character"},
            {"name": "codes_b", "type": "character"},
        ],
    }
)

CURATED_SPEC = TableSpec.from_dict(
    {
        "name": "calculated",
        "data_format": "parquet",
        "columns": [
            {"name": "region", "type": "character"},
            {"name": "n", "type": "int"},
            {"name": "dea_version", "type": "character"},
            {"name": "dea_snapshot_date", "type": "date"},
        ],
        "location": "calculated",
        "partitions": ["dea_snapshot_date"],
    }
)


def land_records(zones: ZoneStore, n: int = 120, ts: int = 1700000000) -> str:
    """Simulate the reference's extract: nested API rows → jsonl.gz in land
    (reference: python_scripts/write_data_to_land.py:24-41)."""
    out_dir = Path(zones.land_path("open_data", "random_records", ts))
    out_dir.mkdir(parents=True, exist_ok=True)
    # the reference flattens nested API rows before landing
    # (reference: python_scripts/write_data_to_land.py:36 via unpack_data)
    rows = [
        {
            "index": i,
            "name": f"rec{i}",
            "region": ["London", "WALES", "scotland"][i % 3],
            "codes_a": f"A{i}",
            "codes_b": f"B{i}",
        }
        for i in range(n)
    ]
    payload = "\n".join(json.dumps(r) for r in rows)
    with gzip.open(out_dir / f"random_records_{ts}.jsonl.gz", "wt") as f:
        f.write(payload)
    return str(out_dir)


def make_synth_fetch():
    """Stand-in for the reference's API fetch: one nested record per call
    (reference: python_scripts/write_data_to_land.py:30-37). Built as a
    closure so cloudpickle ships it by VALUE to executors — a module-level
    function in tests/ would pickle by reference and fail to import on
    workers (exactly what a user's fetch callable must avoid too)."""

    def synth_fetch(i: int) -> dict:
        return {
            "name": f"rec{i}",
            "region": ["London", "WALES", "scotland"][i % 3],
            "codes": {"a": f"A{i}", "b": f"B{i}"},
        }

    return synth_fetch


def test_full_pipeline(spark, tmp_path):
    zones = ZoneStore(str(tmp_path))
    results = {}

    def extract():
        # distributed fetch → unpack → jsonl.gz under file_land_timestamp=
        return extract_to_land(
            spark, zones, "open_data", "random_records",
            fetch=make_synth_fetch(), n_records=120, run_timestamp=1700000000,
        )

    def test_extract():
        raw = read_jsonl(spark, zones.land_path("open_data", "random_records"))
        flat = flatten_structs(raw)
        report = validate_landed(spark, zones.land_path("open_data", "random_records"),
                                 RAW_SPEC, min_rows=100, raise_on_failure=False)
        # flattened columns must match the raw meta
        assert set(flat.columns) >= set(RAW_SPEC.column_names)
        assert report.ok, report.failures
        return promote_to_raw_distributed(spark, zones, "open_data", "random_records")

    def run_curated():
        raw = read_jsonl(spark, zones.raw_hist_path("open_data", "random_records"))
        flat = version_stamp(flatten_structs(raw), "v1.2.3")
        calc = version_stamp(calculated_counts(flat, "region"), "v1.2.3")
        write_curated(
            calc,
            CURATED_SPEC,
            zones.curated_path("database", "calculated"),
            partition_values={"dea_snapshot_date": "2026-08-13"},
        )
        return zones.curated_path("database", "calculated")

    def deploy():
        db = DatabaseSpec(name="example_db", tables=[CURATED_SPEC])
        return deploy_database(spark, db, zones.curated_path("database", ""))

    p = Pipeline("etl_pipeline_example")
    p.task("extract", extract)
    p.task("test-extract", test_extract, after=["extract"])
    p.task("run-curated", run_curated, after=["test-extract"])
    p.task("deploy-database", deploy, after=["run-curated"])
    results = p.run()

    # land is transient: promoted partitions removed
    assert not list(Path(zones.land_path("open_data", "random_records")).glob("file_land_*"))
    # raw-hist holds history
    assert results["test-extract"]

    out = spark.read.parquet(results["run-curated"])
    got = {r.region: r.n for r in out.collect()}
    assert got == {"london": 40, "wales": 40, "scotland": 40}
    assert out.select("dea_version").distinct().collect()[0][0] == "v1.2.3"
    # partition column round-trips through the path
    assert str(out.select("dea_snapshot_date").distinct().collect()[0][0]) == "2026-08-13"

    # catalog: queryable by name, partition discovered
    tbl = spark.table("example_db.calculated")
    assert tbl.count() == 3


def test_validation_gate_collects_all_failures(spark, tmp_path):
    zones = ZoneStore(str(tmp_path))
    land_records(zones, n=5, ts=1700000001)  # too few rows
    land_records(zones, n=6, ts=1700000002)  # too few rows, second partition
    with pytest.raises(ValidationError) as ei:
        validate_landed(
            spark,
            zones.land_path("open_data", "random_records"),
            TableSpec.from_dict({
                "name": "random_records",
                "columns": [
                    {"name": "index", "type": "int"},
                    {"name": "name", "type": "character"},
                    {"name": "region", "type": "character"},
                    {"name": "codes", "type": "character"},
                ],
            }),
            min_rows=100,
        )
    msg = str(ei.value)
    # both bad partitions reported in one raise, reference-style
    assert "1700000001" in msg and "1700000002" in msg


def test_promote_missing_land_raises(spark, tmp_path):
    zones = ZoneStore(str(tmp_path))
    with pytest.raises(FileNotFoundError, match="nothing was found"):
        promote_to_raw_distributed(spark, zones, "open_data", "nope")


def test_extract_to_land_unpacks_nested(spark, tmp_path):
    zones = ZoneStore(str(tmp_path))
    path = extract_to_land(
        spark, zones, "open_data", "random_records",
        fetch=make_synth_fetch(), n_records=30, run_timestamp=1700009999,
    )
    assert "file_land_timestamp=1700009999" in path
    back = read_jsonl(spark, path)
    assert set(back.columns) == {"index", "name", "region", "codes_a", "codes_b"}
    rows = {r["index"]: r for r in back.collect()}
    assert len(rows) == 30 and rows[7]["codes_b"] == "B7"


def test_distributed_promotion_matches_local(spark, tmp_path):
    """Promotion moves exactly the landed records to raw-hist and clears
    land."""
    zones = ZoneStore(str(tmp_path))
    land_records(zones, n=20, ts=1700000001)
    land_records(zones, n=20, ts=1700000002)
    landed = sorted(tuple(r) for r in read_jsonl(
        spark, zones.land_path("open_data", "random_records")).collect())
    moved = promote_to_raw_distributed(spark, zones, "open_data", "random_records")
    assert [Path(p).name for p in moved] == [
        "file_land_timestamp=1700000001", "file_land_timestamp=1700000002"]
    raw = sorted(tuple(r) for r in read_jsonl(
        spark, zones.raw_hist_path("open_data", "random_records")).collect())
    assert raw == landed and len(raw) == 40
    assert not list(Path(zones.land_path("open_data", "random_records")).glob("file_land_*"))


def _partitions(root: str) -> list[str]:
    return sorted(p.name for p in Path(root).glob("file_land_timestamp=*"))


def test_repromoted_partition_drops_stale_files(spark, tmp_path):
    """A re-promoted partition fully replaces the earlier landing: files
    only the first landing had must not survive in raw-hist."""
    zones = ZoneStore(str(tmp_path))
    part = land_records(zones, n=10, ts=1700000001)
    (Path(part) / "stale.jsonl.gz").write_bytes(b"")
    promote_to_raw_distributed(spark, zones, "open_data", "random_records")
    land_records(zones, n=7, ts=1700000001)
    promote_to_raw_distributed(spark, zones, "open_data", "random_records")
    target = Path(zones.raw_hist_path("open_data", "random_records"), "file_land_timestamp=1700000001")
    assert sorted(f.name for f in target.iterdir()) == ["random_records_1700000001.jsonl.gz"]
    assert read_jsonl(spark, str(target)).count() == 7


def test_empty_partition_arrives_as_directory(spark, tmp_path):
    zones = ZoneStore(str(tmp_path))
    Path(zones.land_path("open_data", "random_records", 1700000001)).mkdir(parents=True)
    moved = promote_to_raw_distributed(spark, zones, "open_data", "random_records")
    assert Path(moved[0]).is_dir() and not list(Path(moved[0]).iterdir())


def test_promotion_clears_land_and_returns_sorted_paths(spark, tmp_path):
    zones = ZoneStore(str(tmp_path))
    for ts in (1700000003, 1700000001, 1700000002):
        land_records(zones, n=5, ts=ts)
    moved = promote_to_raw_distributed(spark, zones, "open_data", "random_records")
    raw = zones.raw_hist_path("open_data", "random_records")
    assert moved == sorted(moved) == [f"{raw}/{name}" for name in _partitions(raw)]
    assert len(moved) == 3
    assert _partitions(zones.land_path("open_data", "random_records")) == []


def test_promotion_starts_no_spark_job(spark, tmp_path):
    """Promotion is filesystem metadata only; a tiny action in the same
    job group shows the group does capture jobs."""
    zones = ZoneStore(str(tmp_path))
    land_records(zones, n=5, ts=1700000001)
    sc = spark.sparkContext
    group = f"promote-probe-{tmp_path.name}"
    sc.setJobGroup(group, "promotion job count")
    try:
        promote_to_raw_distributed(spark, zones, "open_data", "random_records")
        promote_jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        spark.range(3).count()
        probe_jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()
    assert promote_jobs == [] and probe_jobs


def test_extract_lands_one_file_per_task_without_exchange(spark, tmp_path, monkeypatch):
    """``tasks`` sets the fetch tasks through range's partition count, so
    the landing plan has no shuffle and each task writes one part file."""
    from pyspark.sql.readwriter import DataFrameWriter

    written = []
    text = DataFrameWriter.text

    def capture(self, path, *args, **kwargs):
        written.append(self._df)
        return text(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "text", capture)
    zones = ZoneStore(str(tmp_path))
    landed = {}
    for tasks in (3, 1):
        path = extract_to_land(
            spark, zones, "open_data", f"recs{tasks}", fetch=make_synth_fetch(),
            n_records=30, run_timestamp=1700009999, tasks=tasks,
        )
        landed[tasks] = sorted(tuple(r) for r in read_jsonl(spark, path).collect())
        if tasks == 3:
            assert len(list(Path(path).glob("part-*"))) == 3
    plan = written[0]._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "Exchange" not in plan
    assert landed[3] == landed[1] and len(landed[3]) == 30
