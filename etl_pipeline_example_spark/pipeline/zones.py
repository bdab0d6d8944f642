"""Land → raw-hist → curated zone store.

The reference's storage contract (reference: README.md "Data Storage Best
Practice"; python_scripts/constants.py:1-2): data lands under
``land/<dataset>/<table>/file_land_timestamp=<ts>/``, is promoted verbatim
to ``raw-hist`` after validation (land is transient, raw-hist is immutable
history; reference: python_scripts/test_data.py:50-53), and transforms
write to ``curated``. Paths are plain strings so the same code runs on
``s3a://`` URIs on a cluster and local dirs in tests.

Promotion moves whole partition directories: the reference copies and
deletes each object, here each ``file_land_timestamp=`` directory is
renamed into raw-hist after any stale copy of it is deleted. The rename
is a metadata operation, atomic per partition on local FS and HDFS; on
s3a Hadoop runs the server-side copy and delete itself.
"""

from __future__ import annotations

from dataclasses import dataclass

from etl_pipeline_example_spark.fsutil import hadoop_fs, hadoop_path


@dataclass
class ZoneStore:
    root: str

    @property
    def land(self) -> str:
        return f"{self.root}/land"

    @property
    def raw_hist(self) -> str:
        return f"{self.root}/raw-hist"

    @property
    def curated(self) -> str:
        return f"{self.root}/curated"

    def land_path(self, dataset: str, table: str, ts: int | None = None) -> str:
        p = f"{self.land}/{dataset}/{table}"
        if ts is not None:
            p += f"/file_land_timestamp={ts}"
        return p

    def raw_hist_path(self, dataset: str, table: str) -> str:
        return f"{self.raw_hist}/{dataset}/{table}"

    def curated_path(self, db_base: str, location: str) -> str:
        return f"{self.curated}/{db_base}/{location}"


def promote_to_raw_distributed(spark, zones: ZoneStore, dataset: str, table: str) -> list[str]:
    """Land → raw-hist promotion through the session's Hadoop filesystem.

    The name is historical: promotion used to copy every file in a Spark
    job. It is now a rename of each partition directory, run from the
    driver and starting no Spark job. Partitions move in sorted order; a
    stale raw-hist copy of a partition is deleted first, so a re-promoted
    partition fully replaces the earlier landing, and an empty partition
    still arrives as a directory. Paths are joined as strings on the zone
    URIs, so any Hadoop scheme works.

    Returns the sorted promoted partition paths.
    """
    src = zones.land_path(dataset, table)
    dst = zones.raw_hist_path(dataset, table)
    fs, src_root = hadoop_fs(spark, src)
    if not fs.exists(src_root):
        raise FileNotFoundError(
            f"Was expecting data in land but nothing was found in the folder: {src}"
        )
    names = sorted(st.getPath().getName() for st in fs.listStatus(src_root) if st.isDirectory())
    moved = []
    for name in names:
        part, target = f"{src}/{name}", f"{dst}/{name}"
        fs.delete(hadoop_path(spark, target), True)
        fs.mkdirs(hadoop_path(spark, dst))
        if not fs.rename(hadoop_path(spark, part), hadoop_path(spark, target)):
            raise IOError(f"could not move {part} to {target}")
        moved.append(target)
    return moved
