"""Registry plumbing for dual-oracle queries."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from etl_geo_dem_spark.plans.lake_table import _cached_parse


@dataclass
class Q:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, Q] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    def deco(fn):
        REGISTRY[name] = Q(fn=fn, oracle=oracle, tags=tags, doc=fn.__doc__ or "")
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated parquet table, ``{sf_dir}/{name}.parquet``.

    Its schema is inferred once per file and passed to every read, so
    building the DataFrame runs no Spark job; a read without a schema runs a
    one-task inference job on every call. The schema is kept in the process's
    stat-validated metadata cache (``lake_table._cached_parse``), keyed on the
    absolute path and checked against its ``(mtime_ns, size)``: a rewritten
    file, or a Spark-written directory whose part files an overwrite
    replaced, is inferred again; a part file rewritten in place under its old
    name inside a directory is not seen. An inferred schema passed back reads
    the same relation, ``timestamp_ntz`` columns included. A path not on the
    local file system (a URI, or missing) is read without a schema, as
    before, so Spark reports a missing one."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        schema = _cached_parse(path, lambda ap: spark.read.parquet(ap).schema)
    except FileNotFoundError:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)
