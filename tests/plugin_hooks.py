"""Importable plugin hooks for CLI/pipeline tests (loaded by dotted
path through meilisync_spark.config.load_plugin, like the reference's
plugin classes, meilisync/plugin.py:20-22). Order-sensitive on purpose:
double-then-add-one ≠ add-one-then-double."""

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def double_value(df: DataFrame) -> DataFrame:
    return df.withColumn("value", F.col("value") * 2)


def add_one_value(df: DataFrame) -> DataFrame:
    return df.withColumn("value", F.col("value") + 1)


def double_amount(df: DataFrame) -> DataFrame:
    return df.withColumn("amount", F.col("amount") * 2)



def mark_second_batch(df: DataFrame) -> DataFrame:
    """Touch ``batch1.marker`` in the working directory, and
    ``batch2.marker`` once the first exists: a test polling for the
    second kills the process while that batch is applied."""
    name = "batch2.marker" if os.path.exists("batch1.marker") else "batch1.marker"
    open(name, "w").close()
    return df
