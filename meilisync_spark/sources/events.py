"""CDC event normalization (reference operators P3-P5 + F3).

The reference tails a database change log and maps each source-native
change onto a normalized ``Event{type ∈ {create,update,delete}, table,
data, progress}`` (meilisync/schemas.py:13-16), filtering to the three
consumed op kinds (meilisync/source/mysql.py:91-93, mongo.py:45,50) and
dropping events for tables with no sync rule (meilisync/main.py:107-109).

Here the driver's ``events`` table plays the change-log role
(FIXTURES.md §2): ``event_id`` is the total order (progress / binlog
position), ``user_id`` the pk, ``event_type`` the source-native op, and
``props`` a dynamic JSON payload (≡ postgres json columns,
meilisync/source/postgres.py:103-105 → decoded with ``from_json``).

Scale notes: this is a pure narrow projection+filter — no shuffle; the
``event_type`` filter and pruned columns push down to the parquet scan
(verify with ``.explain``: PushedFilters / ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meilisync_spark.sources.cdc_connectors import _op_from_map

# Source-native op → normalized op (EventType, meilisync/enums.py:4-7).
# Ops absent from the map are not consumed (P5): `view` is a read-only
# event kind, like binlog events outside Write/Update/Delete rows.
DEFAULT_OP_MAP: dict[str, str] = {
    "signup": "create",
    "purchase": "update",
    "click": "update",
    "error": "delete",
}

PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType())])


def classify_events(
    events: DataFrame,
    op_map: dict[str, str] | None = None,
    table: str | Column = "users",
    sparse_updates: bool = True,
    pk_col: str | Column = "user_id",
) -> DataFrame:
    """events table → normalized CDC frame, one row per event.

    Output schema: ``seq long, ts timestamp, table string, op string,
    pk long, value double, k long``. Kinds absent from ``op_map`` stay
    as ``op`` NULL rows: their positions still count towards the log
    head, and the consumer drops them (P5) —
    :func:`normalize_events` here, ``run_cdc_pipeline`` on the stream.

    ``table``/``pk_col`` parameterize routing (P3) and pk extraction: a
    name (or a literal table) for a one-table log; a column expression
    when each row's table picks its sync rule's pk (≡ ``Sync.pk``,
    reference meilisync/settings.py:41 — the reference looks up
    ``data[sync.pk]`` per event, meilisync/main.py:107-109).

    ``sparse_updates=True`` models partial-update payloads (Q4/S10 in
    SURVEY.md: Mongo updates carry only ``updatedFields``): update
    events whose ``k % 3 == 0`` carry a NULL ``value`` — the apply
    operator must then keep the sink's existing value (per-column
    coalesce), exactly the reference's ``update_documents`` semantics
    (meilisync/meili.py:132-135).
    """
    op_map = DEFAULT_OP_MAP if op_map is None else op_map
    out = events.select(
        F.col("event_id").alias("seq"),
        F.col("ts"),
        (table if isinstance(table, Column) else F.lit(table)).alias("table"),  # P3
        _op_from_map(F.col("event_type"), op_map).alias("op"),  # P4
        (F.col(pk_col) if isinstance(pk_col, str) else pk_col).alias("pk"),
        F.col("value"),
        # F3: dynamic JSON payload → typed column
        F.from_json(F.col("props"), PROPS_SCHEMA).getField("k").alias("k"),
    )
    if sparse_updates:
        out = out.withColumn(
            "value",
            F.when(
                (F.col("op") == "update") & (F.col("k") % 3 == 0), F.lit(None).cast("double")
            ).otherwise(F.col("value")),
        )
    return out


def normalize_events(
    events: DataFrame,
    op_map: dict[str, str] | None = None,
    table: str = "users",
    sparse_updates: bool = True,
    pk_col: str = "user_id",
) -> DataFrame:
    """:func:`classify_events` restricted to the consumed op kinds (P5);
    the ``event_type`` filter sits under the projection, so it pushes
    down to the parquet scan."""
    op_map = DEFAULT_OP_MAP if op_map is None else op_map
    return classify_events(
        events.where(F.col("event_type").isin(*op_map.keys())),
        op_map, table, sparse_updates, pk_col,
    )


# DuckDB oracle fragment mirroring normalize_events exactly (kept next
# to the Spark code so the two can't drift).
def normalize_events_oracle_sql(sparse_updates: bool = True) -> str:
    value_expr = (
        "CASE WHEN op = 'update' AND k % 3 = 0 THEN NULL ELSE value END"
        if sparse_updates
        else "value"
    )
    return f"""
    SELECT seq, ts, "table", op, pk, {value_expr} AS value, k
    FROM (
        SELECT
            event_id AS seq,
            ts,
            'users' AS "table",
            CASE event_type
                WHEN 'signup' THEN 'create'
                WHEN 'purchase' THEN 'update'
                WHEN 'click' THEN 'update'
                WHEN 'error' THEN 'delete'
            END AS op,
            user_id AS pk,
            value,
            CAST(json_extract(props, '$.k') AS BIGINT) AS k
        FROM events
        WHERE event_type IN ('signup', 'purchase', 'click', 'error')
    )
    """
