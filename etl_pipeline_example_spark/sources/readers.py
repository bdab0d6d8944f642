"""Schema-first readers for the engine's supported formats.

The reference ingests gzipped JSONL from its land zone with a hand-rolled
boto3 reader (reference: python_scripts/custom_functions.py:31-49
``read_jsonl_from_s3``) and reads raw history with
``spark.read.json`` (reference: glue_jobs/example_job/job.py:40). Here both
collapse into Spark's native distributed readers — Spark's json source
handles ``.gz`` transparently and scales out the decompression; there is no
driver-side byte shuffling.

The spec-driven readers (``read_jsonl``, ``read_with_meta``) take a
``TableSpec`` so the scan is schema-first: with an explicit schema Spark
skips the inference pass entirely and the parquet reader prunes to exactly
the requested columns (``ReadSchema`` in the plan).

The testdata reader ``read_table`` has no spec; it is schema-first through
``parquet_schema`` instead. That lookup asks Spark to infer a table's
schema (a one-task footer job) only the first time it sees a file set,
and keeps the answer in a process-level dict. An entry is valid while the
``(file, length, mtime)`` of every file under the path and the session's
footer-mapping confs (``_SCHEMA_CONFS``) are unchanged, so a rewritten
table or a flipped conf is inferred again. The schema is the one Spark
would infer, so results and plans match a plain ``spark.read.parquet``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_pipeline_example_spark.fsutil import hadoop_fs
from etl_pipeline_example_spark.metadata.spec import TableSpec, spark_schema_for

_FORMAT_ALIASES = {
    "jsonl": "json",
    "json": "json",
    "parquet": "parquet",
    "orc": "orc",
    "csv": "csv",
}


def resolve_format(data_format: str) -> str:
    """Map a spec ``data_format`` to the Spark source name, or raise.

    Shared by readers AND writers so a typo'd format fails loudly at
    write time instead of silently writing parquet and mis-reading later.
    """
    fmt = _FORMAT_ALIASES.get(data_format.lower())
    if fmt is None:
        raise ValueError(f"unsupported data_format: {data_format!r}")
    return fmt


def read_jsonl(
    spark: SparkSession,
    path: str,
    spec: TableSpec | None = None,
) -> DataFrame:
    """Read JSONL (optionally gzipped — by extension) as a DataFrame."""
    reader = spark.read
    if spec is not None:
        reader = reader.schema(spark_schema_for(spec))
    return reader.json(path)


def read_with_meta(spark: SparkSession, path: str, spec: TableSpec) -> DataFrame:
    """Read ``path`` in the spec's declared ``data_format`` with its schema."""
    fmt = resolve_format(spec.data_format)
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", "true")
    if fmt not in ("parquet", "orc"):
        # Parquet/ORC carry their own schema; partition columns in the path
        # would conflict with an explicit schema that omits them.
        reader = reader.schema(spark_schema_for(spec, exclude=spec.partitions))
    return reader.load(path)


# Tables whose parquet stores TIMESTAMP(NANOS): surfaced as nanos-longs
# (spark.sql.legacy.parquet.nanosAsLong) and converted to micros timestamps
# here — same truncation DuckDB applies when reading nanos into micros.
_NANO_TS_COLUMNS = {"events": ["ts"]}


def ensure_nanos_conf(spark: SparkSession) -> None:
    """Make nanos-timestamp parquet readable on ANY session.

    ``spark.sql.legacy.parquet.nanosAsLong`` is runtime-settable; without
    it a vanilla session raises ``PARQUET_TYPE_ILLEGAL`` on
    INT64(TIMESTAMP(NANOS)). The engine must not depend on its own session
    factory having run — a caller may hand us any SparkSession — so every
    reader that can touch a nanos table sets it idempotently here. The
    session timezone is pinned to UTC alongside it: the nanos-long →
    timestamp conversion must render the same instant on any host, and the
    DuckDB oracle treats these as naive UTC timestamps.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# Session confs that change the schema Spark infers from the same files:
# how footer types map (nanos, binary, INT96, NTZ), whether footers merge,
# and whether k=v partition values get typed.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# (path, conf values) -> (file set the schema was inferred from, schema)
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _file_set(fs, hpath) -> tuple:
    """Sorted ``(file, length, mtime)`` of the file, or of every file
    under the directory, at ``hpath``."""
    status = fs.getFileStatus(hpath)
    if not status.isDirectory():
        statuses = [status]
    else:
        statuses = []
        it = fs.listFiles(hpath, True)
        while it.hasNext():
            statuses.append(it.next())
    return tuple(
        sorted(
            (st.getPath().toString(), st.getLen(), st.getModificationTime())
            for st in statuses
        )
    )


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path).schema`` infers, inferred at
    most once per file set and conf values in this process.

    Inference is a one-task Spark job that reads a footer; the lookup
    that replaces it lists files through Hadoop ``FileSystem`` (any
    scheme) and starts no job. A path that does not exist (or a glob) is
    handed straight to Spark, so callers see Spark's own error.
    """
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return spark.read.parquet(path).schema
    files = _file_set(fs, hpath)
    key = (path, tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == files:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[key] = (files, schema)
    return schema


_EVENTS_TAIL = "user_id bigint, event_type string, value double, props string"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open the events table as a file-source STREAM with ``ts`` normalized
    to TIMESTAMP (LTZ, session pinned UTC) — the streaming twin of
    ``read_table``.

    ``readStream`` requires a declared schema, and the testdata's physical
    ``ts`` encoding has two observed generations: TIMESTAMP(NANOS)
    (surfaced as a nanos-long under ``nanosAsLong``) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false). A hardcoded ``ts long`` schema silently reads
    raw micros as if they were nanos — every timestamp lands 1000× too
    early and windows/sessions collapse — so the batch reader's footer
    schema decides which declaration to stream with. It comes from
    ``parquet_schema``: one inference job per file set, then a listing.
    A file without ``ts`` streams it as NULL, like any declared column
    the file lacks.
    """
    ensure_nanos_conf(spark)
    events = parquet_schema(spark, f"{sf_dir}/events.parquet")
    ts_type = events["ts"].dataType.simpleString() if "ts" in events.names else "timestamp"
    if ts_type == "bigint":  # TIMESTAMP(NANOS) generation
        df = (
            spark.readStream.schema(f"event_id bigint, ts long, {_EVENTS_TAIL}")
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
    else:
        df = (
            spark.readStream.schema(f"event_id bigint, ts {ts_type}, {_EVENTS_TAIL}")
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
    return df


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open the documents table as a file-source STREAM — the streaming
    twin of ``read_table(spark, sf_dir, "documents")``. Documents have no
    timestamp column, so one declared schema covers every generation."""
    return (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string, n_chars bigint"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def read_table(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool = False
) -> DataFrame:
    """Read one testdata table: ``<sf_dir>/<name>.parquet``.

    ``parallel=True`` repartitions the scan to the session's default
    parallelism. Use it in front of CPU-heavy per-row stages (tokenize,
    hash, cosine): a small input (here: one sub-row-group parquet file →
    ONE scan partition) otherwise serializes the whole expensive stage on
    a single core. The shuffle moves only the small raw input; at scale
    the same guard applies whenever scan parallelism < cluster
    parallelism (few huge gzip files, a coalesced upstream write, ...).
    """
    # unconditional: timestamp rendering must not depend on WHICH tables a
    # session read first (a nanos-only pin would make orders-table
    # timestamps flip between host-local and UTC based on query order)
    ensure_nanos_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    for col in _NANO_TS_COLUMNS.get(name, []):
        if dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    # Parquet TIMESTAMP(isAdjustedToUTC=false) infers as TIMESTAMP_NTZ on a
    # default Spark 4 session; normalize to TIMESTAMP (LTZ) so downstream
    # epoch casts / arithmetic behave identically on any session. The
    # session timezone is pinned UTC above, so the NTZ->LTZ cast preserves
    # the rendered instant and matches DuckDB's naive reading bit-for-bit.
    for col, typ in df.dtypes:
        if typ == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    if parallel:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df
