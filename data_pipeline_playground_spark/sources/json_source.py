"""Webhose-shaped JSON ingestion (reference S1, pipeline.py:17-26).

The reference loads a nested JSON dump ``{posts: [{thread:
{title_full}, text}]}`` and flattens it into article rows. Here the
same shape becomes an explicit-schema ``spark.read.json`` plus one
``explode`` — schema-on-read with none of the inference cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

WEBHOSE_SCHEMA = T.StructType(
    [
        T.StructField(
            "posts",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "thread",
                            T.StructType(
                                [T.StructField("title_full", T.StringType())]
                            ),
                        ),
                        T.StructField("text", T.StringType()),
                    ]
                )
            ),
        )
    ]
)


def read_webhose(spark: SparkSession, path: str) -> DataFrame:
    """JSON dump → article rows (P1 nested_field_get + P2 project +
    P3 trim + M3 deterministic ids; reference pipeline.py:22-42)."""
    raw = spark.read.schema(WEBHOSE_SCHEMA).option("multiLine", True).json(path)
    posts = raw.select(F.explode("posts").alias("post"))
    from pyspark.sql import Window

    w = Window.orderBy(F.col("title"))
    return (
        posts.select(
            F.col("post.thread.title_full").alias("title"),
            F.trim(F.col("post.text")).alias("text"),
        )
        .withColumn("_id", F.row_number().over(w) - 1)
        .select("_id", "title", "text")
    )


def write_json_sink(df: DataFrame, path: str) -> None:
    """S7 json_response_sink: serialize result rows to JSON lines."""
    df.write.mode("overwrite").json(path)


def to_json_column(df: DataFrame, *cols: str) -> DataFrame:
    """In-plan JSON serialization (S7): one JSON string per row."""
    return df.select(F.to_json(F.struct(*cols)).alias("json"))


def read_jsonl_with_quarantine(
    spark: SparkSession, path: str, schema: str | T.StructType
) -> tuple[DataFrame, DataFrame]:
    """Schema-on-read json-lines ingest with corrupt-record quarantine:
    returns (good_rows, quarantined_raw_lines).

    Production ingestion hygiene for a 100 TB feed: malformed records
    must neither kill the job (FAILFAST) nor vanish (DROPMALFORMED) —
    PERMISSIVE mode routes them to a side output for replay/audit.
    The frame is checkpointed (eagerly) before the split: Spark only
    populates the corrupt-record column on rows materialized with the
    full schema, so filtering it without materializing first is
    unsupported.
    """
    struct = (
        T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    )
    full = struct.add("_corrupt_record", T.StringType())
    raw = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .localCheckpoint(eager=True)
    )
    good = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    quarantined = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return good, quarantined
