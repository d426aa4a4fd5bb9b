"""FANTOIR import pipeline (SURVEY §3.2; reference import_fantoir.py).

One classified scan of the fixed-width file → demux into the four
record-type tables (header skipped at load, like the reference's
temp-file path, import_fantoir.py:112-113) → per-table sink writes.

The reference's 150 LoC of threads/queues/CSVStream is replaced by
Spark's partitioned parallel execution; the temp-file two-pass variant
maps to the ``staged`` dispatch strategy (one scan → partitionBy
staging → pruned reads), which is the shape that holds at 100 TB.
"""

from __future__ import annotations

import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from datagouv_tools_spark.schema.ddl import EmptyIndexProvider, get_dialect
from datagouv_tools_spark.schema.record_format import FANTOIR_FORMATS
from datagouv_tools_spark.sinks.sink import (
    DryRunExecutor,
    SqlSink,
    dbapi_insert_loader,
)
from datagouv_tools_spark.sources.fixed_width import fantoir_record_tables, read_fantoir

__all__ = ["import_fantoir", "fantoir_tables"]

LOADED_RECORD_TYPES = ("direction", "commune", "voie")  # header skipped


def _maybe_unzip(fantoir_path: Path, staging_dir: str | None) -> Path:
    if fantoir_path.suffix != ".zip":
        return fantoir_path
    staging = Path(staging_dir or tempfile.mkdtemp(prefix="fantoir_staging_"))
    staging.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(fantoir_path) as zf:
        member = zf.namelist()[0]  # single-member archives (S7)
        target = staging / "fantoir.txt"
        with zf.open(member) as src, open(target, "wb") as dst:
            dst.write(src.read())
    return target


def fantoir_tables(
    spark: SparkSession,
    fantoir_path: str | Path,
    staging_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Classified scan → {record_type: DataFrame} (all-string columns,
    like the reference's all-TEXT tables, import_fantoir.py:160-163).
    Lazy and uncached (see ``fantoir_record_tables``)."""
    path = _maybe_unzip(Path(fantoir_path), staging_dir)
    return fantoir_record_tables(read_fantoir(spark, path), FANTOIR_FORMATS)


def import_fantoir(
    spark: SparkSession,
    fantoir_path: str | Path,
    rdbms: str = "pg",
    connection: object | None = None,
    staging_dir: str | None = None,
    parquet_out: str | None = None,
    dsn: str | None = None,
    bulk_copy: bool = True,
) -> dict[str, list[str] | str]:
    """Import the three loaded record-type tables; dry-run statements
    (connection=None) or parquet paths are returned per table. ``dsn``
    + ``bulk_copy`` enable the live-PostgreSQL COPY path (see
    sinks/sink.resolve_pg_load)."""
    path = _maybe_unzip(Path(fantoir_path), staging_dir)
    # one file read shared by the three loads: Spark's cache serves the
    # tables' plan-identical scan. Released when the loads end, so the
    # next import reads the file afresh even if it was rewritten.
    scan = read_fantoir(spark, path).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        tables = fantoir_tables(spark, path)
        results: dict[str, list[str] | str] = {}
        for name in LOADED_RECORD_TYPES:
            df = tables[name]
            if parquet_out:
                from datagouv_tools_spark.sinks.sink import ParquetSink

                results[name] = ParquetSink(parquet_out).write(df, name)
            else:
                dialect = get_dialect(rdbms)
                from datagouv_tools_spark.sinks.sink import resolve_pg_load

                connection, loader = resolve_pg_load(
                    connection, dsn, bulk_copy, rdbms, dialect
                )
                sink = SqlSink(
                    dialect=dialect,
                    executor=DryRunExecutor() if connection is None else _db_executor(connection),
                    index_provider=EmptyIndexProvider(),
                    loader=loader,
                )
                sink.write(df, name)
                if isinstance(sink.executor, DryRunExecutor):
                    results[name] = sink.executor.statements
                else:
                    results[name] = "loaded"
        return results
    finally:
        scan.unpersist()


def _db_executor(connection):
    from datagouv_tools_spark.sinks.sink import DbApiExecutor

    return DbApiExecutor(connection)

