"""Consistency check (A1-A3, ``meilisync check``, meilisync/main.py:179-208).

The reference compares ``SELECT COUNT(*)`` on the source against the
sink index's ``number_of_documents`` per sync rule and logs
consistent/inconsistent. (It compares only counts, not contents —
SURVEY.md Q6; we keep that contract and add an optional content hash.)

Spark realization: one row per sync rule via a cross join of two
count aggregates. A missing index counts 0 (:func:`read_index`), as in
the reference's get_index 404-tolerance (meilisync/meili.py:77-84) and
the bucketed sink, which removes an index left with no live rows.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_index(spark: SparkSession, path: str) -> DataFrame:
    """The index at ``path`` for counting; an absent path is an empty
    index (an empty frame), not an error."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() != "PATH_NOT_FOUND":
            raise
        return spark.range(0)


def count_check(pairs: dict[str, tuple[DataFrame, DataFrame]]) -> DataFrame:
    """``{sync_name: (source_df, index_df)}`` → one consistency row each.

    Output: ``table string, source_count long, index_count long,
    consistent boolean`` — the relational form of the reference's
    per-sync log lines (meilisync/main.py:196-206).
    """
    if not pairs:
        spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        return spark.createDataFrame(
            [], "table string, source_count long, index_count long, consistent boolean"
        )
    outs = []
    for name, (src, idx) in pairs.items():
        outs.append(
            src.agg(F.count(F.lit(1)).alias("source_count")).crossJoin(
                idx.agg(F.count(F.lit(1)).alias("index_count"))
            ).select(
                F.lit(name).alias("table"),
                "source_count",
                "index_count",
                (F.col("source_count") == F.col("index_count")).alias("consistent"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
