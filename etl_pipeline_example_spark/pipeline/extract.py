"""Extract-to-land: fetch records, flatten them, land them as jsonl.gz.

The reference's extract (reference: python_scripts/write_data_to_land.py:24-41)
loops an API 1000× on one machine, flattens each nested record with
``unpack_data`` (reference: python_scripts/custom_functions.py:10-17), and
writes one jsonl.gz under ``land/<table>/file_land_timestamp=<ts>/``.

Spark-first, the fetch itself distributes: ``spark.range`` enumerates
record indices in n_tasks contiguous slices (no shuffle), ``mapInPandas``
runs the pluggable ``fetch(index)`` callable on the EXECUTORS (Arrow-batched, one network client per task,
not per row), records flatten with the same parent_child naming the
struct flattener uses, and the landed output is written by Spark's text
sink with gzip codec — n_tasks concurrent fetchers and no driver-side
byte shuffling. At 1000 calls this matches the reference; at 10⁹ calls
the reference's loop is a day of wall-clock and this is an hour on a
cluster.

``fetch`` is any picklable callable ``index -> dict`` (an HTTP client, a
queue consumer, a test synthesizer). Landed files are schema-on-read
JSONL, exactly what ``validate_landed`` / ``read_jsonl`` expect.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import SparkSession

from etl_pipeline_example_spark.pipeline.zones import ZoneStore


def unpack_record(record: dict[str, Any], prefix: str = "") -> dict[str, Any]:
    """Flatten nested dicts to ``parent_child`` keys.

    Same naming as the reference's ``unpack_data`` (``codes`` →
    ``codes_a``) and as the engine's struct flattener, but fully
    recursive; non-dict values (including lists) pass through untouched.
    """
    flat: dict[str, Any] = {}
    for key, val in record.items():
        name = f"{prefix}{key}"
        if isinstance(val, dict):
            flat.update(unpack_record(val, prefix=f"{name}_"))
        else:
            flat[name] = val
    return flat


def extract_to_land(
    spark: SparkSession,
    zones: ZoneStore,
    dataset: str,
    table: str,
    fetch: Callable[[int], dict[str, Any]],
    n_records: int,
    run_timestamp: int,
    tasks: int | None = None,
) -> str:
    """Fetch ``n_records`` via ``fetch`` on the executors and land them.

    Returns the landed partition path
    (``land/<dataset>/<table>/file_land_timestamp=<run_timestamp>``).
    ``tasks`` bounds fetch concurrency (default: cluster parallelism) —
    the polite knob when the source is a rate-limited API.
    """
    import pandas as pd

    target = zones.land_path(dataset, table, ts=run_timestamp)
    n_tasks = tasks or spark.sparkContext.defaultParallelism

    def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lines = []
            for i in pdf["id"]:
                rec = unpack_record(fetch(int(i)))
                rec["index"] = int(i)
                lines.append(json.dumps(rec, sort_keys=True))
            yield pd.DataFrame({"value": lines})

    lines = spark.range(0, n_records, 1, min(n_tasks, n_records) or 1).mapInPandas(
        fetch_partition, "value string"
    )
    lines.write.mode("overwrite").option("compression", "gzip").text(target)
    return target
