"""Table catalog over the driver-provided parquet directories.

All queries consume these tables (TESTDATA.md); no synthetic inputs.
Reads are ``spark.read.parquet`` scans, so Catalyst gets native column
pruning + predicate pushdown into the scan.

Each table's schema is resolved once per session: the first read of a
path infers it, and every later read passes the stored schema through
``spark.read.schema(...)``. Parquet schema inference runs a one-task
Spark job per read (~80 ms warm), and queries, memo builds and views
all read through ``table()``, so an analyst sweep would otherwise pay
that job on every table reference. The cache assumes a table's files
do not change during a session — the same assumption ``caching.memo``
makes. Only the schema is cached: every call still returns a new
DataFrame, so the two sides of a self-join get distinct attribute ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .caching import _session_key

TABLES = (
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

# (session key, parquet path) -> schema inferred on the path's first read
_SCHEMAS: dict[tuple, StructType] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _tune_session(spark)
    if name == "events":
        return _events(spark, sf_dir)
    return _read(spark, f"{sf_dir}/{name}.parquet")


def _read(spark: SparkSession, path: str) -> DataFrame:
    key = (_session_key(spark), path)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def _tune_session(spark: SparkSession) -> None:
    """Right-size shuffle width for an untuned caller session.

    The driver's verify harness hands us ITS SparkSession; if it still
    carries Spark's stock 200 shuffle partitions, 200 tasks per
    exchange is pure scheduler overhead at the sf0.001–0.1 scales this
    repo is driven at (tens of MB). 32 matches local core count — the
    same value our own `session.get_spark` uses. The stock value is
    treated as the untuned sentinel: any other width was chosen
    deliberately and is left untouched — at cluster scale the tuned
    width (or AQE coalesce) is the operator's inherited environment,
    not something a table reader should override.
    """
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass  # read-only conf (e.g. Connect) — keep the caller's width


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS), which the vectorized
    reader rejects; read nanos as long and convert to timestamp_ntz
    (floor-truncating to micros, exactly like DuckDB's NS→US read).

    The conversion is epoch arithmetic on an NTZ base — deliberately
    NOT ``cast(timestamp_micros(..) as timestamp_ntz)``, whose
    LTZ→NTZ step shifts values by the session time zone offset when
    the driver's session is not UTC.

    The schema cache holds the raw schema (``ts`` as bigint), so the
    conf must be set before every read, cached or not.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _nanos_to_ntz(_read(spark, f"{sf_dir}/events.parquet"))


def _nanos_to_ntz(df: DataFrame) -> DataFrame:
    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, (ts div 1000) % 1000000, "
                "timestampadd(SECOND, ts div 1000000000, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00'))"
            ),
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the Spark SQL surface."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
