"""Table catalog: named DataFrames + schemas.

The reference loads a fixed per-table schema from a serialized
``<table>.md`` file next to the data
(``/root/reference/src/qp/optimizer/RandomInitialPlan.java:79-92``).
Here the catalog is a thin registry mapping table names to DataFrames
(parquet-backed by default); schemas come from parquet footers, so
column pruning and predicate pushdown reach the scan for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class Catalog:
    """Case-insensitive name → DataFrame registry."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tables: dict[str, DataFrame] = {}
        self._views: dict[str, str] = {}

    def register(self, name: str, df: DataFrame) -> None:
        key = name.lower()
        self._tables[key] = df
        view = self._views.pop(key, None)
        if view is not None:
            self.spark.catalog.dropTempView(view)

    def table(self, name: str) -> DataFrame:
        key = name.lower()
        if key not in self._tables:
            raise KeyError(f"unknown table: {name}")
        return self._tables[key]

    def has(self, name: str) -> bool:
        return name.lower() in self._tables

    def names(self) -> list[str]:
        return sorted(self._tables)

    def view(self, name: str) -> str:
        """Name of a temp view over table ``name`` for ``spark.sql``,
        created on first use under a session-unique name so catalogs
        sharing a session never resolve each other's tables."""
        import uuid

        key = name.lower()
        if key not in self._views:
            view = f"_kaj_{uuid.uuid4().hex}"
            self.table(key).createOrReplaceTempView(view)
            self._views[key] = view
        return self._views[key]


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` + nanosecond-timestamp repair.

    The fixtures store TIMESTAMP(NANOS), which Spark has no native type
    for; with ``spark.sql.legacy.parquet.nanosAsLong`` those columns
    arrive as int64 nanos. Detect them from the parquet footer (pyarrow)
    and convert to TimestampType at microsecond precision using integer
    division (a double intermediate would lose precision on 2^60-scale
    nanos).
    """
    # defensive: the driver's verify harness supplies ITS OWN session,
    # which won't have session.py's legacy-nanos setting — without it
    # the read throws PARQUET_TYPE_ILLEGAL. UTC keeps collected
    # timestamps aligned with the timezone-naive DuckDB oracle. All
    # are runtime-settable SQL confs.
    #
    # inferTimestampNTZ: fixtures written as parquet timestamp[us]
    # (isAdjustedToUTC=false) otherwise arrive as TIMESTAMP_NTZ, which
    # unix_micros(), withWatermark(), and every event-time operator
    # reject. With the session in UTC, plain TimestampType has identical
    # wall-clock semantics, so force the classic type at the scan.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    # belt-and-braces: if a future Spark ignores the conf (or a fixture
    # uses a logical type the conf doesn't cover), cast any surviving
    # TIMESTAMP_NTZ column to TIMESTAMP. No-op cast when none exist.
    from pyspark.sql.types import TimestampNTZType

    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        schema = pq.read_schema(path)
        ns_cols = [
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        ns_cols = []
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_fixture_catalog(spark: SparkSession, sf_dir: str) -> Catalog:
    """Load every driver fixture parquet under ``sf_dir`` that exists."""
    cat = Catalog(spark)
    for name in FIXTURE_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            cat.register(name, _read_parquet(spark, path))
    return cat
