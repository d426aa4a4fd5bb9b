"""Fixed-width text source (SURVEY §2.1 S5/S6, §2.3 F1/F3, §2.4 D1).

``spark.read.text`` gives one string column per line (splittable,
parallel); the record format's substring projection turns it into typed
columns without any Python in the row path.

The FANTOIR file interleaves four record types in one file. The
scale-correct single-pass plan (reference dispatches line-by-line to 4
outputs, import_fantoir.py:166-206):

- classify each line once (``classify_fantoir_record``),
- either ``persist()`` the classified scan for the duration of the
  loads and derive 4 filtered DataFrames (local/interactive), or write
  one staged parquet
  ``partitionBy("record_type")`` and re-read per type (cluster-scale —
  one scan, partition-pruned downstream reads).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datagouv_tools_spark.schema.record_format import (
    FANTOIR_FORMATS,
    RecordFormat,
    classify_fantoir_record,
)

__all__ = ["read_fixed_width", "read_fantoir", "fantoir_record_tables"]

FANTOIR_TRAILER_PREFIX = "9999999999"


def read_fixed_width(
    spark: SparkSession,
    path: str | Path,
    record_format: RecordFormat,
    encoding: str = "UTF-8",
    trim: bool = True,
) -> DataFrame:
    """Read a single-record-type fixed-width file (e.g. the deaths file,
    S6)."""
    lines = spark.read.text(str(path))
    if encoding.upper() not in ("UTF-8", "UTF8", "ASCII", "US-ASCII"):
        lines = spark.read.option("encoding", encoding).text(str(path))
    return record_format.apply(lines, trim=trim)


def read_fantoir(
    spark: SparkSession,
    path: str | Path,
    encoding: str = "ISO-8859-1",
) -> DataFrame:
    """Raw classified FANTOIR scan: one row per line with its
    ``record_type`` column, trailer dropped (F1+F3)."""
    lines = spark.read.option("encoding", encoding).text(str(path))
    return lines.filter(
        ~F.col("value").startswith(FANTOIR_TRAILER_PREFIX)
    ).select("value", classify_fantoir_record())


def fantoir_record_tables(
    classified: DataFrame,
    formats: dict[str, RecordFormat] | None = None,
) -> dict[str, DataFrame]:
    """Demux the classified scan into one DataFrame per record type (D1).

    The frames are lazy and cache nothing: each one re-reads the file
    unless the caller persists ``classified`` (or a plan-identical
    ``read_fantoir`` scan, which Spark's cache matches) for as long as
    it reads several tables — ``pipelines.fantoir.import_fantoir`` does
    so for its three loads and releases the cache when they end, so a
    rewritten file is never served from a stale cache. At 100 TB prefer
    ``stage_fantoir`` below: a partitionBy("record_type") parquet write,
    then partition-pruned reads — persist() would need the whole file in
    cluster memory/disk cache, staging costs one write but is
    restartable and spill-free.
    """
    formats = formats or FANTOIR_FORMATS
    return {
        name: fmt.apply(classified.filter(F.col("record_type") == name))
        for name, fmt in formats.items()
    }


def stage_fantoir(
    classified: DataFrame,
    staging_path: str,
    formats: dict[str, RecordFormat] | None = None,
) -> dict[str, DataFrame]:
    """Cluster-scale demux: one scan → one partitioned staging write →
    per-type partition-pruned reads (D2 re-expressed)."""
    formats = formats or FANTOIR_FORMATS
    classified.write.mode("overwrite").partitionBy("record_type").parquet(staging_path)
    spark = classified.sparkSession
    staged = spark.read.parquet(staging_path)
    return {
        name: fmt.apply(staged.filter(F.col("record_type") == name))
        for name, fmt in formats.items()
    }
