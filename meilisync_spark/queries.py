"""The engine's query registry — every operator from SURVEY.md §2 as a
(spark_fn, oracle_sql) pair.

Each entry is a pure function ``(SparkSession, sf_dir) -> DataFrame``
plus (where SQL-expressible) the equivalent ANSI SQL the DuckDB oracle
runs on the same parquet. Column names are aligned on both sides —
the driver sorts columns by name and hash-compares values.

Determinism rules used throughout (so the value-hash is stable across
runs and engines):

- No cross-row aggregation of raw doubles (Spark's partial-agg order is
  nondeterministic). Money-like doubles are cast to DECIMAL first —
  exact, associative — and averages are derived as
  ``CAST(decimal_sum AS DOUBLE) / count`` (identical IEEE ops on
  identical inputs in both engines; no rounding needed).
- Timestamp → epoch seconds uses *floor* semantics on both sides
  (Spark ``cast(ts as long)`` truncates; DuckDB needs
  ``CAST(floor(epoch(ts)) AS BIGINT)``).
- Every LIMIT/top-k has a total-order ORDER BY tie-break.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meilisync_spark.session import tune
from meilisync_spark.sources.parquet import load_table
from meilisync_spark.sources.events import (
    normalize_events,
    normalize_events_oracle_sql,
)
from meilisync_spark.operators.project import snapshot_sync
from meilisync_spark.operators.compaction import (
    compact_last_wins,
    compaction_oracle_sql,
)
from meilisync_spark.operators.apply import apply_changes, apply_changes_oracle_sql

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    fn: QueryFn
    sql: str | None  # None → non-SQL-expressible (no DuckDB oracle)
    doc: str = ""
    # sql=None entries are library operators verified by local tests
    # (error-bound / numpy-replication); the driver contract treats any
    # oracle-less entry as a red row, so they are excluded from the
    # driver-facing queries() and kept here for bench + local suites.
    driver_facing: bool = True


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: str | None, doc: str = "", driver_facing: bool = True):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(wrapped, sql, doc, driver_facing)
        return wrapped

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Reference parity: snapshot sync (S1 + P1 + P2 + F1/F2)
# ---------------------------------------------------------------------------

LINEITEM_FIELDS = {
    "l_orderkey": "order_id",
    "l_linenumber": "line_no",
    "l_quantity": None,
    "l_extendedprice": "price",
    "l_shipdate": None,
}


@register(
    "sync_lineitem",
    """
    SELECT l_orderkey AS order_id, l_linenumber AS line_no, l_quantity,
           l_extendedprice AS price,
           CAST(floor(epoch(l_shipdate)) AS BIGINT) AS l_shipdate
    FROM lineitem
    """,
    doc="Full-sync of lineitem with fields projection/rename (P1) and "
        "timestamp→epoch normalization (F1; meilisync/schemas.py:21-22).",
)
def sync_lineitem(spark, sf_dir):
    return snapshot_sync(_t(spark, sf_dir, "lineitem"), LINEITEM_FIELDS)


@register(
    "sync_orders",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate,
           o_orderpriority
    FROM orders
    """,
    doc="Full-sync of orders, identity fields map (quirk Q5: empty map ⇒ "
        "full row), timestamp normalization on o_orderdate.",
)
def sync_orders(spark, sf_dir):
    return snapshot_sync(_t(spark, sf_dir, "orders"), None)


@register(
    "sync_dates",
    """
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
           strftime(CAST(date_trunc('month', o_orderdate) AS DATE), '%Y-%m-%d') AS order_month
    FROM orders
    """,
    doc="F2 normalization (date → ISO yyyy-MM-dd string, reference "
        "meilisync/schemas.py:23-24): the fixtures carry no DATE column, "
        "so one is derived (timestamp→date in the UTC session zone) and "
        "pushed through normalize_types like any snapshot sync.",
)
def sync_dates(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("order_month"),
    )
    return snapshot_sync(o, None)


# ---------------------------------------------------------------------------
# Reference parity: CDC core (P3-P5, F3, A5, A6, S9-S11)
# ---------------------------------------------------------------------------

_EV = normalize_events_oracle_sql()


@register(
    "normalize_events",
    _EV,
    doc="CDC envelope: op classification (P4), op-kind filter (P5), table "
        "routing (P3), JSON payload decode (F3), sparse update payloads (Q4).",
)
def q_normalize_events(spark, sf_dir):
    return normalize_events(_t(spark, sf_dir, "events"))


from meilisync_spark.sources.cdc_connectors import (
    canal_roundtrip as _canal_rt,
    canal_roundtrip_oracle_sql as _canal_rt_sql,
    maxwell_roundtrip as _maxwell_rt,
    maxwell_roundtrip_oracle_sql as _maxwell_rt_sql,
    wal2json_roundtrip as _wal2json_rt,
    wal2json_roundtrip_oracle_sql as _wal2json_rt_sql,
    wal2json_v2_roundtrip as _wal2json_v2_rt,
    wal2json_v2_roundtrip_oracle_sql as _wal2json_v2_rt_sql,
)


@register(
    "maxwell_roundtrip",
    _maxwell_rt_sql(),
    doc="Maxwell binlog-JSON envelope roundtrip: events rendered as "
        "real Maxwell messages in-engine, parsed back via "
        "normalize_maxwell (binlog-coordinate seq pack, epoch-second "
        "ts, JSON double round-trip); oracle computed straight from "
        "the source columns, so the construct+parse path is what the "
        "hash certifies.",
)
def q_maxwell_roundtrip(spark, sf_dir):
    return _maxwell_rt(_t(spark, sf_dir, "events"))


@register(
    "canal_roundtrip",
    _canal_rt_sql(),
    doc="Canal flat-message envelope roundtrip: batched data arrays, "
        "stringly values re-typed, id*2^20+pos seq pack, es event "
        "clock — normalize_canal end-to-end vs a source-derived oracle.",
)
def q_canal_roundtrip(spark, sf_dir):
    return _canal_rt(_t(spark, sf_dir, "events"))


@register(
    "wal2json_roundtrip",
    _wal2json_rt_sql(),
    doc="wal2json envelope roundtrip — the reference's OWN Postgres "
        "transport (meilisync/source/postgres.py:100-121): events "
        "rendered as real transaction messages (typed columnvalues, "
        "hex HI/LO nextlsn, microsecond timestamps, oldkeys-only "
        "deletes), parsed back via normalize_wal2json; oracle computed "
        "straight from the source columns.",
)
def q_wal2json_roundtrip(spark, sf_dir):
    return _wal2json_rt(_t(spark, sf_dir, "events"))


@register(
    "wal2json_v2_roundtrip",
    _wal2json_v2_rt_sql(),
    doc="Mixed wal2json v1+v2 roundtrip through normalize_wal2json, "
        "which reads the version from each message: even batches "
        "rendered as v1 transaction messages, odd as per-change v2 "
        "messages (action/columns[{name,type,value}]/identity deletes, "
        "per-change lsn) — certifies the v2 branch, the per-message "
        "version choice, and the shared lsn*2^12 seq domain in one hash.",
)
def q_wal2json_v2_roundtrip(spark, sf_dir):
    return _wal2json_v2_rt(_t(spark, sf_dir, "events"))


@register(
    "compact_events",
    compaction_oracle_sql(_EV, ["pk"], ["seq", "ts", "table", "op", "value", "k"]),
    doc="Pk compaction, last-wins by seq (A5, meilisync/event.py:10-13). "
        "max_by partial-aggregate: one shuffle, no sort.",
)
def q_compact_events(spark, sf_dir):
    ev = normalize_events(_t(spark, sf_dir, "events"))
    out = compact_last_wins(ev, ["pk"], "seq")
    # stable column order for readability; driver sorts by name anyway
    return out.select("pk", "seq", "ts", "table", "op", "value", "k")


@register(
    "split_by_op",
    f"""
    SELECT op, count(*) AS n_events, count(DISTINCT pk) AS n_keys
    FROM ({_EV}) GROUP BY op
    """,
    doc="Batch split by event type (A6, meilisync/event.py:19-36) as a "
        "relational group-by.",
)
def q_split_by_op(spark, sf_dir):
    ev = normalize_events(_t(spark, sf_dir, "events"))
    return ev.groupBy("op").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("pk").alias("n_keys"),
    )


def _ev_halves(spark, sf_dir):
    """Split the normalized event log at half the max seq — the first
    half builds the base index state, the second half is the incoming
    batch. Fully declarative (scalar via broadcast cross-join, no
    collect)."""
    ev = normalize_events(_t(spark, sf_dir, "events")).select(
        "pk", "seq", "op", "ts", "value", "k"
    )
    cut = ev.agg((F.max("seq") / F.lit(2.0)).alias("_cut"))
    ev = ev.crossJoin(F.broadcast(cut))
    first = ev.where(F.col("seq") <= F.col("_cut")).drop("_cut")
    second = ev.where(F.col("seq") > F.col("_cut")).drop("_cut")
    return first, second


_EV_COLS = ["ts", "value", "k"]
_EV_FIRST = f"SELECT pk, seq, op, ts, value, k FROM ({_EV}) WHERE seq <= (SELECT max(seq)/2.0 FROM ({_EV}))"
_EV_SECOND = f"SELECT pk, seq, op, ts, value, k FROM ({_EV}) WHERE seq > (SELECT max(seq)/2.0 FROM ({_EV}))"
# base = first half applied to an empty index: last event per pk, minus deletes
_BASE = (
    "SELECT pk, ts, value, k FROM ("
    + compaction_oracle_sql(_EV_FIRST, ["pk"], ["seq", "op", "ts", "value", "k"])
    + ") WHERE op <> 'delete'"
)


@register(
    "cdc_apply",
    apply_changes_oracle_sql(_BASE, _EV_SECOND, payload_cols=_EV_COLS),
    doc="The flagship MERGE: compact the incoming batch (A5) and apply it "
        "to the current index state — create=replace (S9), update=partial "
        "coalesce-merge (S10/Q4), delete=drop (S11). One pk-shuffle join; "
        "maps onto MERGE INTO on a table format at scale.",
)
def q_cdc_apply(spark, sf_dir):
    first, second = _ev_halves(spark, sf_dir)
    base = compact_last_wins(first, ["pk"], "seq").where(F.col("op") != "delete").select(
        "pk", *_EV_COLS
    )
    return apply_changes(base, second, pk="pk", payload_cols=_EV_COLS)


@register(
    "check_counts",
    """
    SELECT 'users' AS "table",
           (SELECT count(*) FROM customer WHERE c_custkey < 150) AS source_count,
           (SELECT count(DISTINCT pk) FROM ("""
    + _EV
    + """)) AS index_count,
           (SELECT count(*) FROM customer WHERE c_custkey < 150)
             = (SELECT count(DISTINCT pk) FROM ("""
    + _EV
    + """)) AS consistent
    """,
    doc="Consistency audit (A1-A3, `meilisync check`, main.py:179-208): "
        "source count vs index count per sync rule.",
)
def q_check_counts(spark, sf_dir):
    src = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 150)
    ev = normalize_events(_t(spark, sf_dir, "events"))
    s = src.agg(F.count(F.lit(1)).alias("source_count"))
    i = ev.agg(F.countDistinct("pk").alias("index_count"))
    return (
        s.crossJoin(i)
        .select(
            F.lit("users").alias("table"),
            "source_count",
            "index_count",
            (F.col("source_count") == F.col("index_count")).alias("consistent"),
        )
    )


# ---------------------------------------------------------------------------
# Relational coverage over the TPC-H-ish tables (joins, aggs, windows,
# rollup, top-k) — the Spark surface the reference gets "for free" here
# (SURVEY.md §2.3/§2.4). DECIMAL sums for cross-engine determinism.
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           count(*) AS count_order,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: scan-side filter pushdown + hash aggregate with "
        "map-side partials; exact DECIMAL sums, final output cast to "
        "DOUBLE (exact conversion, identical IEEE value in both engines "
        "— the driver's str-hash renders decimals differently).",
)
def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))
    )


@register(
    "q3_top_orders",
    """
    SELECT o_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: selective dim filter, two joins, top-k "
        "(TakeOrderedAndProject — no global sort).",
)
def q3_top_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.col("o_orderdate").cast("long").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    """
    SELECT r_name, n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    doc="TPC-H Q5 shape: star join with broadcast dims (supplier/nation/"
        "region ship as broadcast hash joins — zero shuffle on the fact "
        "side until the final agg).",
)
def q5_region_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "top_customers_per_nation",
    """
    SELECT n_name, c_custkey, CAST(spend AS DOUBLE) AS spend, rk FROM (
        SELECT n_name, c_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS spend,
               row_number() OVER (PARTITION BY n_name
                                  ORDER BY CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) DESC,
                                           c_custkey) AS rk
        FROM customer JOIN orders ON o_custkey = c_custkey
                      JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, c_custkey
    ) WHERE rk <= 3
    """,
    doc="Window function coverage (SURVEY.md §2.5): row_number over a "
        "partitioned total order with deterministic tie-break.",
)
def top_customers_per_nation(spark, sf_dir):
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("decimal(18,2)").alias("spend"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("spend"), F.asc("c_custkey"))
    return (
        spend.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("n_name", "c_custkey", F.col("spend").cast("double").alias("spend"), "rk")
    )


@register(
    "rollup_sales",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="Hierarchical aggregate (ROLLUP) — grouping-set expansion is a "
        "single-pass expand+agg in Spark.",
)
def rollup_sales(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


@register(
    "hourly_event_stats",
    """
    SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Time-bucketed aggregation over the event stream (the batch shape "
        "of a tumbling-window streaming agg, SURVEY.md §2.9).",
)
def hourly_event_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).cast("long").alias("hour_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="Anti-join coverage (SURVEY.md §2.3): broadcast left-anti against "
        "the orders key set.",
)
def customers_without_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "building_order_priorities",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE EXISTS (SELECT 1 FROM customer
                  WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
    GROUP BY o_orderpriority
    """,
    doc="Semi-join coverage: EXISTS as left-semi with a selective "
        "broadcast build side.",
)
def building_order_priorities(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "set_ops_orders",
    """
    WITH hi AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 200000),
         urgent AS (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT
      (SELECT count(*) FROM (SELECT o_orderkey FROM hi UNION SELECT o_orderkey FROM urgent)) AS n_union,
      (SELECT count(*) FROM (SELECT o_orderkey FROM hi INTERSECT SELECT o_orderkey FROM urgent)) AS n_intersect,
      (SELECT count(*) FROM (SELECT o_orderkey FROM hi EXCEPT SELECT o_orderkey FROM urgent)) AS n_except
    """,
    doc="Set-operation coverage (§2.7): UNION/INTERSECT/EXCEPT over two "
        "order subsets, reduced to counts.",
)
def set_ops_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    hi = o.where(F.col("o_totalprice") > 200000).select("o_orderkey")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    u = hi.union(urgent).distinct().agg(F.count(F.lit(1)).alias("n_union"))
    i = hi.intersect(urgent).agg(F.count(F.lit(1)).alias("n_intersect"))
    e = hi.subtract(urgent).agg(F.count(F.lit(1)).alias("n_except"))
    return u.crossJoin(i).crossJoin(e)


@register(
    "distinct_parts_per_flag",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Multi-distinct aggregate coverage (Expand-based plan in Spark).",
)
def distinct_parts_per_flag(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "events_lag_delta",
    """
    SELECT event_id, user_id, value,
           lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
           value - lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS delta
    FROM events
    """,
    doc="lag/lead window coverage: per-user value deltas in arrival order.",
)
def events_lag_delta(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    prev = F.lag("value").over(w)
    return ev.select(
        "event_id", "user_id", "value", prev.alias("prev_value"),
        (F.col("value") - prev).alias("delta"),
    )


@register(
    "asof_purchase_view",
    """
    WITH p AS (SELECT user_id, event_id AS purchase_id,
                      date_trunc('microseconds', ts) AS ts,
                      value AS purchase_value
               FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id, date_trunc('microseconds', ts) AS ts, value
               FROM events WHERE event_type = 'view')
    SELECT p.user_id, p.purchase_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_ts,
           p.purchase_value,
           CAST(floor(epoch(v.ts)) AS BIGINT) AS view_ts,
           v.value AS view_value,
           CAST(floor(epoch(p.ts)) AS BIGINT)
             - CAST(floor(epoch(v.ts)) AS BIGINT) AS wait_sec
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
    doc="As-of join (operators/asof.py): each purchase matched to the "
        "user's latest view at-or-before it — union + ignore-nulls window, "
        "one shuffle, no range explosion. Oracle: DuckDB native ASOF JOIN.",
)
def asof_purchase_view(spark, sf_dir):
    from meilisync_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        "ts",
        F.col("value").alias("purchase_value"),
    )
    v = ev.where(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        "event_id",
        F.col("ts").alias("view_ts_raw"),
        F.col("value").alias("view_value"),
    )
    out = asof_join(
        p, v, by="user_id", left_ts="ts", right_ts="ts",
        right_cols=["view_ts_raw", "view_value"], right_seq="event_id",
    )
    pts = F.col("ts").cast("long")
    vts = F.col("view_ts_raw").cast("long")
    return out.select(
        "user_id", "purchase_id",
        pts.alias("purchase_ts"), "purchase_value",
        vts.alias("view_ts"), "view_value",
        (pts - vts).alias("wait_sec"),
    )


BRAND_REVENUE_SQL = """
    SELECT p_brand,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           count(*) AS n_items,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size <= 20
    GROUP BY p_brand
"""


@register(
    "brand_revenue",
    BRAND_REVENUE_SQL,
    doc="The engine's SQL API surface: identical ANSI SQL through "
        "spark.sql over registered views and through the DuckDB oracle. "
        "Catalyst picks the broadcast join from the filtered part side "
        "unaided — no hints needed.",
)
def brand_revenue(spark, sf_dir):
    from meilisync_spark.sources.parquet import register_views

    register_views(spark, sf_dir)
    return spark.sql(BRAND_REVENUE_SQL)


VALUE_BANDS = [
    (0, "micro", 0.0, 25.0),
    (1, "small", 25.0, 100.0),
    (2, "medium", 100.0, 250.0),
    (3, "large", 250.0, 500.0),
]


@register(
    "event_value_bands",
    f"""
    SELECT band_id, band, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           count(DISTINCT user_id) AS n_users
    FROM events JOIN (VALUES {', '.join(f"({i}, '{b}', {lo}, {hi})" for i, b, lo, hi in VALUE_BANDS)})
                     b(band_id, band, lo, hi)
      ON value >= lo AND value < hi
    GROUP BY band_id, band
    """,
    doc="Range join: events banded by value against a broadcast interval "
        "dim — BroadcastNestedLoopJoin on the tiny side; at scale bands "
        "stay broadcast so the fact side never shuffles for the join.",
)
def event_value_bands(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    bands = spark.createDataFrame(VALUE_BANDS, "band_id int, band string, lo double, hi double")
    return (
        ev.join(F.broadcast(bands), (ev.value >= bands.lo) & (ev.value < bands.hi))
        .groupBy("band_id", "band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "cube_order_stats",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE grouping-sets coverage (rollup_sales covers ROLLUP): "
        "single-pass Expand + hash aggregate.",
)
def cube_order_stats(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


@register(
    "price_quantiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.25) AS p25,
           quantile_cont(l_extendedprice, 0.5)  AS p50,
           quantile_cont(l_extendedprice, 0.75) AS p75,
           quantile_cont(l_extendedprice, 0.95) AS p95
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact percentiles per group (verified bit-identical to DuckDB "
        "quantile_cont). At scale swap to approx_percentile: one pass, "
        "mergeable sketches, no per-group sort.",
)
def price_quantiles(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # one percentile agg over an array of fractions — a single sort
    # buffer per group, not four
    q = F.percentile(
        "l_extendedprice",
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.95)),
    )
    return li.groupBy("l_returnflag").agg(q.alias("q")).select(
        "l_returnflag",
        F.col("q")[0].alias("p25"),
        F.col("q")[1].alias("p50"),
        F.col("q")[2].alias("p75"),
        F.col("q")[3].alias("p95"),
    )


ORDER_STATUSES = ["F", "O", "P"]


@register(
    "pivot_priority_status",
    f"""
    SELECT o_orderpriority,
           {', '.join(
               f"count(*) FILTER (o_orderstatus = '{s}') AS n_{s}, "
               f"CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))) "
               f"FILTER (o_orderstatus = '{s}'), 0) AS DOUBLE) AS total_{s}"
               for s in ORDER_STATUSES)}
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Pivot (long→wide): per-priority counts and exact DECIMAL totals "
        "fanned out per order status. Explicit pivot values keep it a "
        "single Expand+aggregate pass (no values-discovery pre-scan, "
        "which at 100 TB would be an extra full shuffle).",
)
def pivot_priority_status(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ORDER_STATUSES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")), F.lit(0)
            ).cast("decimal(18,2)").alias("total"),
        )
    )
    return wide.select(
        "o_orderpriority",
        *[
            c
            for s in ORDER_STATUSES
            for c in (
                F.coalesce(F.col(f"{s}_n"), F.lit(0)).alias(f"n_{s}"),
                F.coalesce(F.col(f"{s}_total"), F.lit(0).cast("decimal(18,2)"))
                .cast("double")
                .alias(f"total_{s}"),
            )
        ],
    )


@register(
    "unpivot_priority_status",
    """
    SELECT o_orderpriority, o_orderstatus AS status, count(*) AS n
    FROM orders GROUP BY 1, 2
    """,
    doc="Unpivot (wide→long): the pivoted count matrix melted back to "
        "(priority, status, n) with DataFrame.unpivot — the round-trip "
        "must land exactly on the plain groupBy; zero-filled cells from "
        "absent combinations are filtered out, mirroring their absence "
        "in the long form.",
)
def unpivot_priority_status(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ORDER_STATUSES)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        wide.unpivot(
            "o_orderpriority",
            ORDER_STATUSES,
            "status",
            "n",
        )
        .where(F.col("n").isNotNull())
        .select("o_orderpriority", "status", "n")
    )


@register(
    "parts_above_brand_avg",
    """
    SELECT p.p_partkey, p.p_brand, p.p_retailprice
    FROM part p
    WHERE p.p_retailprice >
          (SELECT CAST(sum(CAST(p2.p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
                  / count(*)
           FROM part p2 WHERE p2.p_brand = p.p_brand)
    """,
    doc="Correlated scalar subquery (price above own brand's average). "
        "Spark decorrelates it by hand the way Catalyst would: a tiny "
        "per-brand aggregate broadcast back onto the fact side — no "
        "per-row subquery execution, one scan + one broadcast join. "
        "Brand avg follows the DECIMAL-sum/count determinism rule.",
)
def parts_above_brand_avg(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    brand_avg = p.groupBy("p_brand").agg(
        (
            F.sum(F.col("p_retailprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("brand_avg")
    )
    return (
        p.join(F.broadcast(brand_avg), "p_brand")
        .where(F.col("p_retailprice") > F.col("brand_avg"))
        .select("p_partkey", "p_brand", "p_retailprice")
    )


@register(
    "grouping_sets_orders",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           grouping(o_orderstatus) + 2 * grouping(o_orderpriority) AS gid,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="Explicit GROUPING SETS (rollup/cube cover the other grouping-set "
        "shapes): three marginal totals in a single Expand + hash "
        "aggregate pass — one scan, not three. grouping() flags "
        "disambiguate real NULL keys from grouped-out ones.",
)
def grouping_sets_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    gid = (
        F.grouping("o_orderstatus") + F.lit(2) * F.grouping("o_orderpriority")
    ).alias("gid")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            gid,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n",
            "total_price",
        )
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: a pure scan-plus-aggregate whose entire "
        "predicate set reaches the parquet reader (PushedFilters: ship "
        "date range, discount band, quantity cap) — the canonical "
        "pushdown/pruning probe; only two columns are read.",
)
def q6_forecast_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return li.agg(
        F.sum(price * disc).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "promo_revenue_share",
    """
    SELECT CAST(floor(epoch(date_trunc('month', l_shipdate))) AS BIGINT) AS month_start,
           CAST(sum(CASE WHEN p_type = 'PROMO'
                         THEN CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))
                         ELSE 0 END) AS DOUBLE) AS promo_revenue,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """,
    doc="TPC-H Q14 shape: conditional aggregate over a fact⋈dim join "
        "(promo share of monthly revenue) — part broadcasts, one agg "
        "shuffle on the month key; the ratio is left to the reader so "
        "both sums stay exact DECIMAL.",
)
def promo_revenue_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    rev = price * (F.lit(1) - disc)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.date_trunc("month", F.col("l_shipdate")).cast("long").alias("month_start")
        )
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
            .cast("double")
            .alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
    )


@register(
    "yearly_order_volume",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY 1, 2
    """,
    doc="Calendar-part grouping (year extraction): the date-dimension "
        "rollup shape; single scan + one agg shuffle.",
)
def yearly_order_volume(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("order_year"), "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


@register(
    "customer_spend_quartiles",
    """
    WITH spend AS (
        SELECT o_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS spend
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, CAST(spend AS DOUBLE) AS spend,
           ntile(4) OVER (ORDER BY spend DESC, o_custkey) AS quartile,
           round(percent_rank() OVER (ORDER BY spend DESC, o_custkey), 8) AS pct_rank
    FROM spend
    """,
    doc="Distribution-rank windows (ntile + percent_rank) over per-"
        "customer spend: the cohort-bucketing shape. Global-order window "
        "runs over the aggregated customer table (|customers| rows, not "
        "|orders|); 8dp rounding pins the percent_rank division.",
)
def customer_spend_quartiles(spark, sf_dir):
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("spend")
    )
    w = Window.orderBy(F.desc("spend"), F.asc("o_custkey"))
    return spend.select(
        "o_custkey",
        F.col("spend").cast("double").alias("spend"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 8).alias("pct_rank"),
    )


@register(
    "customer_spend_quartiles_scalable",
    """
    WITH spend AS (
        SELECT o_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        FROM orders GROUP BY o_custkey
    ),
    cuts AS (
        SELECT quantile_cont(spend, 0.25) AS q1,
               quantile_cont(spend, 0.5)  AS q2,
               quantile_cont(spend, 0.75) AS q3
        FROM spend
    )
    SELECT o_custkey, spend,
           CASE WHEN spend >= q3 THEN 1
                WHEN spend >= q2 THEN 2
                WHEN spend >= q1 THEN 3
                ELSE 4 END AS quartile
    FROM spend CROSS JOIN cuts
    """,
    doc="The scale-safe twin of customer_spend_quartiles: quartile = "
        "value-based bucketing against three global cut points broadcast "
        "back onto the spend table — no unpartitioned window anywhere "
        "(ntile's global sort is a single task at any |customers|). The "
        "cut points here are exact percentiles (bit-identical to the "
        "DuckDB oracle, like price_quantiles); at 100 TB swap the agg to "
        "approx_percentile — one mergeable-sketch pass — without touching "
        "the assignment join. Semantics note: value-based buckets differ "
        "from ntile's equal-count buckets only on ties at the cut "
        "points; both are standard quartile definitions.",
)
def customer_spend_quartiles_scalable(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("spend")
    )
    cuts = spend.agg(
        F.percentile("spend", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("q")
    ).select(
        F.col("q")[0].alias("q1"), F.col("q")[1].alias("q2"), F.col("q")[2].alias("q3")
    )
    return spend.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        "spend",
        F.when(F.col("spend") >= F.col("q3"), 1)
        .when(F.col("spend") >= F.col("q2"), 2)
        .when(F.col("spend") >= F.col("q1"), 3)
        .otherwise(4)
        .alias("quartile"),
    )


@register(
    "events_trailing_1h",
    """
    SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
           CAST(sum(CAST(value AS DECIMAL(18,2)))
                OVER (PARTITION BY user_id
                      ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS trailing_1h_value,
           count(*) OVER (PARTITION BY user_id
                          ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                          RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
               AS trailing_1h_events
    FROM events
    """,
    doc="Time-range window frame (RANGE BETWEEN on epoch seconds): each "
        "event's trailing-1h per-user activity — the sliding-window "
        "analytics shape, computed with one shuffle on user_id and a "
        "single per-partition ordered pass. DECIMAL sum keeps the "
        "moving total exact; RANGE peers (equal seconds) are handled "
        "identically by both engines.",
)
def events_trailing_1h(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    ts_sec = F.col("ts").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_sec)
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        ts_sec.alias("ts_sec"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("trailing_1h_value"),
        F.count(F.lit(1)).over(w).alias("trailing_1h_events"),
    )


# ---------------------------------------------------------------------------
# North-star extensions: text analysis, dedup, similarity search
# (operators/text.py, operators/dedup.py, operators/similarity.py)
# ---------------------------------------------------------------------------

from meilisync_spark.operators import text as _text
from meilisync_spark.operators import dedup as _dedup
from meilisync_spark.operators import sampling as _sampling
from meilisync_spark.operators import similarity as _sim


@register("text_stats", _text.text_stats_oracle_sql(),
          doc="Per-doc quality signals: token/punct/stopword stats — narrow scan, no shuffle.")
def q_text_stats(spark, sf_dir):
    return _text.text_stats(_t(spark, sf_dir, "documents"))


@register("token_counts", _text.token_counts_oracle_sql(),
          doc="Whitespace + BPE-ish regex token counting per document.")
def q_token_counts(spark, sf_dir):
    return _text.token_counts(_t(spark, sf_dir, "documents"))


@register("lang_id", _text.lang_id_oracle_sql(),
          doc="Marker-word language-ID heuristic vs the labeled lang column.")
def q_lang_id(spark, sf_dir):
    return _text.lang_id(_t(spark, sf_dir, "documents"))


@register("doc_fingerprint", _text.doc_fingerprint_oracle_sql(),
          doc="Rolling-hash fingerprint: min portable-hash over word 5-gram shingles.")
def q_doc_fingerprint(spark, sf_dir):
    return _text.doc_fingerprint(_t(spark, sf_dir, "documents"))


@register(
    "tfidf_top_terms",
    """
    WITH tok AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents
    ),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
    scored AS (
        SELECT doc_id, word, tf,
               round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
        FROM tf JOIN dfreq USING (word) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, word, tf, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, word) AS rk
        FROM scored
    )
    SELECT doc_id, word, tf, tfidf, rk FROM ranked WHERE rk <= 3
    """,
    doc="TF-IDF top-3 terms per document: explode → two hash aggregates "
        "(term-frequency, document-frequency) → smoothed-idf score → "
        "per-doc top-k window; 6dp rounding is the determinism contract "
        "for the ln().",
)
def tfidf_top_terms(spark, sf_dir):
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_text.words_col(F.col("text"))).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)),
                6,
            ).alias("tfidf"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    )
    return scored.withColumn("rk", rk).where(F.col("rk") <= 3)


@register("doc_chunks", _text.doc_chunks_oracle_sql(),
          doc="Sliding token-window chunking (size 32, stride 16): cuts "
              "documents into overlapping training sequences; pure "
              "sequence+explode+slice, zero shuffle.")
def q_doc_chunks(spark, sf_dir):
    return _text.doc_chunks(_t(spark, sf_dir, "documents"))


_VOCAB_SQL = (
    "SELECT doc_id, n_tokens, array_to_string(ids, ',') AS ids_csv FROM ("
    + _text.vocab_encode_oracle_sql()
    + ")"
)


@register("vocab_encode", _VOCAB_SQL,
          doc="Dictionary encoding: frequency-ranked corpus vocabulary + "
              "per-document token-id sequences (tokenize → vocab → encode); "
              "vocab broadcast to the encode join, order restored by "
              "array_sort over (pos,id) structs. Driver-facing shape is "
              "the id sequence as a CSV string — array columns crash the "
              "driver comparator's pandas canonicalization.")
def q_vocab_encode(spark, sf_dir):
    out = _text.vocab_encode(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        "n_tokens",
        F.array_join(F.transform("ids", lambda x: x.cast("string")), ",").alias("ids_csv"),
    )


@register("winnow_fingerprints", _text.winnow_fingerprints_oracle_sql(),
          doc="Winnowing (Schleimer '03): sliding-window minima over the "
              "rolling shingle-hash stream — local fingerprints with a "
              "shared-substring guarantee; all per-row array ops.")
def q_winnow_fingerprints(spark, sf_dir):
    return _text.winnow_fingerprints(_t(spark, sf_dir, "documents"))


@register(
    "clean_corpus",
    r"""
    WITH stats AS (
        SELECT doc_id, lang,
               len(regexp_extract_all(lower(text), '[a-z]+')) AS n_tokens,
               sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash
        FROM documents
    ),
    kept AS (SELECT * FROM stats WHERE n_tokens >= 10),
    ranked AS (
        SELECT doc_id, lang, n_tokens,
               row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rk
        FROM kept
    )
    SELECT doc_id, lang, n_tokens FROM ranked WHERE rk = 1
    """,
    doc="The composed training-data cleaning pipeline: quality filter "
        "(min token count) → exact dedup keeping the canonical (min "
        "doc_id) copy. One scan + one content-hash shuffle end-to-end.",
)
def clean_corpus(spark, sf_dir):
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    w = _text.words_col(F.col("text"))
    stats = docs.select(
        "doc_id",
        "lang",
        F.size(w).alias("n_tokens"),
        F.sha2(_dedup.normalize_text(F.col("text")), 256).alias("content_hash"),
    ).where(F.col("n_tokens") >= 10)
    rk = F.row_number().over(Window.partitionBy("content_hash").orderBy("doc_id"))
    return (
        stats.withColumn("rk", rk)
        .where(F.col("rk") == 1)
        .select("doc_id", "lang", "n_tokens")
    )


@register("repetition_stats", _text.repetition_stats_oracle_sql(),
          doc="Gopher-style repetition quality signals: distinct-token "
              "ratio, most-frequent-token mass, duplicate-bigram fraction "
              "— per-row higher-order array ops, zero shuffle.")
def q_repetition_stats(spark, sf_dir):
    return _text.repetition_stats(_t(spark, sf_dir, "documents"))


@register("unigram_freq_score", _text.unigram_freq_score_oracle_sql(),
          doc="Corpus-relative quality signal: per-doc mean of each "
              "token's global corpus probability (unigram LM scoring "
              "with the log dropped so the math stays integer-exact "
              "until two final IEEE divisions). One vocab agg + one "
              "word-keyed join back; AQE broadcasts the vocab side.")
def q_unigram_freq_score(spark, sf_dir):
    return _text.unigram_freq_score(_t(spark, sf_dir, "documents"))


@register("bigram_lm_score", _text.bigram_lm_score_oracle_sql(),
          doc="Order-2 fluency signal (CCNet-style, Wenzek et al. "
              "2020): per-doc mean corpus-conditional bigram "
              "probability c(w1 w2)/c(w1) — shuffled/gibberish text "
              "whose word PAIRS never co-occur elsewhere scores near "
              "its self-count floor, invisible to unigram frequency. "
              "Fixed-point floor(c2*1e9/c1) keeps the math int64-exact "
              "until one final division; two vocab-sized aggs + "
              "broadcastable joins back, the tfidf/unigram shape.")
def q_bigram_lm_score(spark, sf_dir):
    return _text.bigram_lm_score(_t(spark, sf_dir, "documents"))


@register("quality_filter", _text.quality_filter_oracle_sql(),
          doc="The composed keep/drop decision: C4/Gopher-style rules "
              "(min length, punct mass, distinct-token ratio) in one "
              "narrow pass, with auditable per-rule reasons.")
def q_quality_filter(spark, sf_dir):
    return _text.quality_filter(_t(spark, sf_dir, "documents"))


@register("pii_scrub", _text.pii_scrub_oracle_sql(),
          doc="Regex PII redaction (emails, phone-shaped digit runs) "
              "with per-doc counts — dialect-portable patterns (Java "
              "regex ≡ RE2), per-row over the scan, zero shuffle.")
def q_pii_scrub(spark, sf_dir):
    return _text.pii_scrub(_t(spark, sf_dir, "documents"))


@register("decontaminate", _dedup.decontaminate_oracle_sql(),
          doc="Benchmark decontamination: training docs sharing distinct "
              "word-8-grams with a held-out eval set, scored by the "
              "fraction of the eval doc covered. Eval side broadcasts; "
              "the corpus never shuffles for the join — the GPT-3/PaLM "
              "n-gram collision scan as one scan + broadcast join.")
def q_decontaminate(spark, sf_dir):
    return _dedup.decontaminate(_t(spark, sf_dir, "documents"))


@register("pack_sequences", _text.pack_sequences_oracle_sql(),
          doc="Sequence packing: doc chunks greedily packed into "
              "128-token training sequences per (lang, shard) — bounded "
              "window partitions (shard = hash(doc_id) % 8), chunk "
              "lengths derived arithmetically so no text is shuffled.")
def q_pack_sequences(spark, sf_dir):
    return _text.pack_sequences(_t(spark, sf_dir, "documents"))


@register("incremental_neardup", _dedup.incremental_neardup_oracle_sql(),
          doc="Incremental dedup: a delta batch probed against the "
              "corpus band index (O(delta) work, corpus never re-paired); "
              "delta/corpus split is a deterministic key-hash flag.")
def q_incremental_neardup(spark, sf_dir):
    return _dedup.incremental_neardup(_t(spark, sf_dir, "documents"))


@register("dedup_clusters", _dedup.dedup_clusters_oracle_sql(),
          doc="Duplicate-cluster resolution: connected components over the "
              "MinHash-LSH candidate graph via iterative min-label "
              "propagation (localCheckpoint-pinned rounds, exact decimal "
              "convergence probe); oracle replays it as a recursive CTE.")
def q_dedup_clusters(spark, sf_dir):
    return _dedup.dedup_clusters(_t(spark, sf_dir, "documents"))


@register("dedup_clusters_verified", _dedup.dedup_clusters_verified_oracle_sql(),
          doc="candidate -> verify -> cluster: LSH candidates re-checked "
              "with exact shingle Jaccard (>= 0.5) before connected "
              "components, so a single low-similarity band collision "
              "cannot chain two genuine clusters together.")
def q_dedup_clusters_verified(spark, sf_dir):
    return _dedup.dedup_clusters_verified(_t(spark, sf_dir, "documents"))


@register("corpus_pipeline", _dedup.corpus_pipeline_oracle_sql(),
          doc="The composed curation pipeline end-to-end: quality gate "
              "-> exact canonical dedup among survivors -> benchmark "
              "decontamination (and eval-side exclusion). Each stage is "
              "separately oracle-checked; this row checks the "
              "composition.")
def q_corpus_pipeline(spark, sf_dir):
    return _dedup.corpus_pipeline(_t(spark, sf_dir, "documents"))


@register("corpus_pipeline_full", _dedup.corpus_pipeline_full_oracle_sql(),
          doc="The COMPLETE curation chain as one row: quality gate -> "
              "exact canonical dedup -> MinHash-LSH near-dedup (pairwise "
              "lower-id-wins at est_jaccard >= 0.5) -> benchmark "
              "decontamination -> pack_sequences. Output is the "
              "training-sequence manifest the run would consume; no new "
              "shuffle shape appears by composing the verified stages.")
def q_corpus_pipeline_full(spark, sf_dir):
    return _dedup.corpus_pipeline_full(_t(spark, sf_dir, "documents"))


@register("split_assign", _sampling.split_assign_oracle_sql(),
          doc="Stable train/val/test assignment by portable content hash "
              "of the key — identical across runs, engines, and "
              "partitionings; pure scan-side projection.")
def q_split_assign(spark, sf_dir):
    return _sampling.split_assign(_t(spark, sf_dir, "documents"))


@register("mixture_sample", _sampling.mixture_sample_oracle_sql(),
          doc="Per-source weighted downsampling (data-mixing recipe): "
              "broadcast rate dim + hash-threshold filter, zero shuffle.")
def q_mixture_sample(spark, sf_dir):
    return _sampling.mixture_sample(_t(spark, sf_dir, "documents"))


@register("per_source_head", _sampling.per_source_head_oracle_sql(),
          doc="Deterministic k-per-group sample (distributed reservoir): "
              "rank by portable key hash within source, keep k smallest; "
              "one shuffle, per-group top-k.")
def q_per_source_head(spark, sf_dir):
    return _sampling.per_source_head(_t(spark, sf_dir, "documents"))


@register(
    "approx_price_quantiles",
    None,  # t-digest/GK sketches are engine-specific;
    # the ±1% rank-error contract vs the exact sort is asserted in
    # tests/test_operators.py::test_approx_percentile_error_bound
    doc="approx_percentile (GK sketch, accuracy 10000 ⇒ ±0.01% rank "
        "error): the one-pass mergeable-sketch path that replaces the "
        "exact per-group sort of price_quantiles at 100 TB.",
    driver_facing=False,
)
def q_approx_price_quantiles(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    q = F.percentile_approx(
        "l_extendedprice",
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.95)),
        F.lit(10000),
    )
    return li.groupBy("l_returnflag").agg(q.alias("q")).select(
        "l_returnflag",
        F.col("q")[0].alias("p25"),
        F.col("q")[1].alias("p50"),
        F.col("q")[2].alias("p75"),
        F.col("q")[3].alias("p95"),
    )


@register("exact_dedup", _dedup.exact_dedup_oracle_sql(),
          doc="Exact dedup: normalized sha256 hash-groupBy, map-side partials.")
def q_exact_dedup(spark, sf_dir):
    return _dedup.exact_dedup(_t(spark, sf_dir, "documents"))


@register("source_overlap", _dedup.source_overlap_oracle_sql(),
          doc="Cross-source near-duplicate overlap matrix: MinHash-LSH "
              "candidate pairs (exact dups included — they share every "
              "band) joined to per-doc provenance, then a |sources|^2 "
              "aggregate; pair volume is bounded by the LSH candidate "
              "count, never corpus^2.")
def q_source_overlap(spark, sf_dir):
    return _dedup.source_overlap(_t(spark, sf_dir, "documents"))


@register("exact_source_overlap", _dedup.exact_source_overlap_oracle_sql(),
          doc="Exact-duplicate provenance matrix from per-(hash, source) "
              "group sizes — no document pairs materialize; one 32-byte-"
              "hash shuffle regardless of duplicate density (the cheap "
              "exact complement of source_overlap's LSH near-dup form). "
              "Honestly EMPTY on this fixture (no exact cross-doc dups); "
              "non-trivial behavior pinned by a local test with planted "
              "duplicates.")
def q_exact_source_overlap(spark, sf_dir):
    return _dedup.exact_source_overlap(_t(spark, sf_dir, "documents"))


@register("fingerprint_source_overlap", _dedup.fingerprint_source_overlap_oracle_sql(),
          doc="Cross-source content-REUSE matrix keyed by winnowing "
              "fingerprints (MOSS scheme): detects shared passages, not "
              "just whole-document equality; pair-free histogram math — "
              "one fingerprint shuffle + collision-bounded self-join.")
def q_fingerprint_source_overlap(spark, sf_dir):
    return _dedup.fingerprint_source_overlap(_t(spark, sf_dir, "documents"))


@register("minhash_lsh_pairs", _dedup.minhash_lsh_pairs_oracle_sql(),
          doc="MinHash(16) + LSH(8 bands) candidate pairs with estimated "
              "Jaccard; signatures are per-row array ops, one band-join shuffle.")
def q_minhash_lsh_pairs(spark, sf_dir):
    return _dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


@register("ngram_jaccard_pairs", _dedup.ngram_jaccard_pairs_oracle_sql(),
          doc="Exact word-3-gram Jaccard over LSH candidates (candidate→verify).")
def q_ngram_jaccard_pairs(spark, sf_dir):
    return _dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))


@register("simhash_docs", _dedup.simhash_docs_oracle_sql(),
          doc="32-bit SimHash signature per document, exact cross-engine bit math.")
def q_simhash_docs(spark, sf_dir):
    return _dedup.simhash_docs(_t(spark, sf_dir, "documents"))


@register("simhash_neardup_pairs", _dedup.simhash_neardup_pairs_oracle_sql(),
          doc="Hamming≤6 near-dup pairs via 15-bit simhash band bucketing, "
              "mega-bucket star guard mirrored in the oracle.")
def q_simhash_neardup_pairs(spark, sf_dir):
    return _dedup.simhash_neardup_pairs(_t(spark, sf_dir, "documents"))


@register("cosine_topk", _sim.cosine_topk_oracle_sql(),
          doc="Brute-force cosine top-5 for 8 query vectors; broadcast queries, "
              "zero corpus shuffle, codegen'd fold math.")
def q_cosine_topk(spark, sf_dir):
    return _sim.cosine_topk(_t(spark, sf_dir, "embeddings"))


@register("ann_ivf_label", _sim.ann_ivf_label_oracle_sql(),
          doc="IVF-style ANN: probe only the query's coarse cell (label).")
def q_ann_ivf_label(spark, sf_dir):
    return _sim.ann_ivf_label(_t(spark, sf_dir, "embeddings"))


@register("srp_ann_topk", _sim.srp_ann_topk_oracle_sql(),
          doc="SRP-LSH ANN (Charikar '02): top-k restricted to the "
              "query's signed-random-projection bucket — the training-"
              "free LSH scale path beside the IVF cell probe; bucketing "
              "is a per-row codegen fold, queries broadcast, probe "
              "touches ~1/2^bits of the corpus.")
def q_srp_ann_topk(spark, sf_dir):
    return _sim.srp_ann_topk(_t(spark, sf_dir, "embeddings"))


@register("cosine_topk_blas", _sim.cosine_topk_blas_oracle_sql(),
          doc="Brute-force top-k, BLAS path: one numpy matmul per Arrow "
              "batch; cosines rounded to 6dp as the operator contract so "
              "results are summation-order-independent.")
def q_cosine_topk_blas(spark, sf_dir):
    return _sim.cosine_topk_blas(_t(spark, sf_dir, "embeddings"))


@register("srp_recall_at_k", _sim.srp_recall_at_k_oracle_sql(),
          doc="Recall@k of the SRP bucket probe vs brute force — "
              "quantifies the cosine-aligned LSH path (contrast with "
              "ann_recall_at_k's label cells, which are not).")
def q_srp_recall_at_k(spark, sf_dir):
    return _sim.srp_recall_at_k(_t(spark, sf_dir, "embeddings"))


@register("ann_recall_at_k", _sim.ann_recall_at_k_oracle_sql(),
          doc="Recall@k of the IVF cell probe vs brute-force ground "
              "truth per query — the ANN quality self-check; |Q|×k-row "
              "scoring join, free at any corpus size.")
def q_ann_recall_at_k(spark, sf_dir):
    return _sim.ann_recall_at_k(_t(spark, sf_dir, "embeddings"))


@register("ann_recall_clustered", _sim.ann_recall_clustered_oracle_sql(),
          doc="IVF cell-probe recall@k on the deterministic clustered "
              "twin corpus (v' = base(vec_id % 10) + 0.125·v): the "
              "positive ANN demonstration — recall 1.0 while scanning "
              "1/cells of the corpus. Complements ann_recall_at_k's "
              "honest ~0.1 on the raw near-orthogonal fixture.")
def q_ann_recall_clustered(spark, sf_dir):
    return _sim.ann_recall_clustered(_t(spark, sf_dir, "embeddings"))


@register("srp_multiprobe_topk", _sim.srp_multiprobe_topk_oracle_sql(),
          doc="Multi-probe SRP-LSH top-k (Lv et al. 2007): each query "
              "probes its own bucket plus every Hamming-1 bucket — the "
              "standard recall knob; (1+bits)/2^bits of the corpus "
              "scanned instead of 1/2^bits.")
def q_srp_multiprobe_topk(spark, sf_dir):
    return _sim.srp_multiprobe_topk(_t(spark, sf_dir, "embeddings"))


@register("srp_multiprobe_recall", _sim.srp_multiprobe_recall_oracle_sql(),
          doc="Recall@k of multi-probe SRP vs brute force on the raw "
              "fixture: measured mean 0.45 vs single-probe 0.10 — the "
              "recall/scan trade quantified.")
def q_srp_multiprobe_recall(spark, sf_dir):
    return _sim.srp_multiprobe_recall(_t(spark, sf_dir, "embeddings"))


@register("srp_recall_clustered", _sim.srp_recall_clustered_oracle_sql(),
          doc="SRP-LSH bucket-probe recall@k on the clustered twin "
              "corpus: tight clusters land whole in one hash bucket, so "
              "the training-free probe also recovers the true top-k.")
def q_srp_recall_clustered(spark, sf_dir):
    return _sim.srp_recall_clustered(_t(spark, sf_dir, "embeddings"))


_QUANT_SQL = (
    "SELECT vec_id, amax, array_to_string(qvec, ',') AS qvec_csv FROM ("
    + _sim.embedding_quantize_oracle_sql()
    + ")"
)


@register("embedding_quantize", _QUANT_SQL,
          doc="Symmetric per-vector int8 quantization (x → round(x/max|x|"
              "·127)): the compression step before an ANN index; pure "
              "per-row transform, scan-bound, zero shuffle. Driver-facing "
              "shape flattens the int8 vector to a CSV string (exact — "
              "integer rendering is engine-independent).")
def q_embedding_quantize(spark, sf_dir):
    out = _sim.embedding_quantize(_t(spark, sf_dir, "embeddings"))
    return out.select(
        "vec_id",
        "amax",
        F.array_join(F.transform("qvec", lambda x: x.cast("string")), ",").alias("qvec_csv"),
    )


@register("text_embeddings", _sim.text_embeddings_sparse_oracle_sql(),
          doc="Feature-hashing text embedder (Weinberger et al. 2009): "
              "word → ±1-signed bucket of 64, counts L2-normalized — the "
              "deterministic, vocabulary-free encoder that makes the "
              "docs→embeddings→ANN pipeline runnable end-to-end (CLI "
              "`pipeline`). Pure JVM: one explode + two doc_id-keyed "
              "aggregations. Driver-facing shape is the sparse long form "
              "(doc_id, d, val) — scalar doubles hash identically across "
              "engines; the dense array twin (text_embeddings) shares "
              "every step but the assembly.")
def q_text_embeddings(spark, sf_dir):
    return _sim.text_embeddings_sparse(_t(spark, sf_dir, "documents"))


@register("label_centroids", _sim.label_centroid_components_oracle_sql(),
          doc="Distributed k-means update step: per-cell element-wise mean "
              "via fixed-point (2^-30) quantized sums — exact, order-"
              "insensitive, one (label,idx) shuffle with map-side partials. "
              "Driver-facing shape is the long form (label, idx, mean): "
              "scalar doubles hash identically across engines; the "
              "assembled array form stays as the library API "
              "(operators/similarity.py:label_centroids).")
def q_label_centroids(spark, sf_dir):
    return _sim.label_centroid_components(_t(spark, sf_dir, "embeddings"))


@register(
    "approx_user_counts",
    None,  # HLL sketches are engine-specific;
           # the ±5% bound vs exact is asserted in tests/test_operators.py
    doc="Approximate distinct users per event type (HyperLogLog++): the "
        "one-pass mergeable-sketch path that replaces exact countDistinct "
        "at 100 TB (no per-key shuffle of raw user ids).",
    driver_facing=False,
)
def approx_user_counts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "kmeans_labels",
    None,  # iterative — non-SQL-expressible; independently replicated in
           # numpy and compared exactly (tests/test_kmeans.py). Driver-
           # facing since round 12: runs under the rows-only check.
    doc="Exact fixed-point Lloyd iterations (3×) seeding the IVF coarse "
        "quantizer: one corpus pass per iteration, per-batch partial "
        "sums (map-side combine), deterministic across partitionings.",
)
def q_kmeans_labels(spark, sf_dir):
    from meilisync_spark.operators.kmeans import kmeans_labels

    return kmeans_labels(_t(spark, sf_dir, "embeddings"))


@register(
    "pq_codes",
    None,  # trained (iterative) — numpy-replicated bit-exactly in
           # tests/test_pq.py; deterministic fixed-point lattice
    doc="Product quantization (Jégou et al. 2011): per-subspace k-means "
        "codebooks trained in one partial-sum pass per iteration, corpus "
        "compressed 32× to m=8 4-bit codes per vector — the storage "
        "layer billion-scale ANN indexes stand on.",
    driver_facing=False,
)
def q_pq_codes(spark, sf_dir):
    from meilisync_spark.operators.pq import pq_codes

    return pq_codes(_t(spark, sf_dir, "embeddings"))


@register(
    "pq_rerank_recall",
    None,  # trained + recall measurement — local tests assert >= 0.8
    doc="The production PQ probe measured: ADC shortlist over the "
        "compressed corpus + exact re-rank of |Q|·shortlist rows — "
        "recall 1.0 on the clustered twin while the corpus scan reads "
        "8-byte codes instead of 256-byte vectors.",
    driver_facing=False,
)
def q_pq_rerank_recall(spark, sf_dir):
    from meilisync_spark.operators.pq import pq_rerank_recall_clustered

    return pq_rerank_recall_clustered(_t(spark, sf_dir, "embeddings"))


@register(
    "ivfpq_recall",
    None,  # two trained quantizers — recall measured in tests/test_pq.py
    doc="IVF+PQ composed probe (FAISS IVFPQ shape, by_residual=False): "
        "trained coarse cells prune the scan, PQ codes compress what it "
        "reads (~kcells·32× less IO than brute float scan), exact "
        "re-rank restores precision — recall 1.0 on the clustered twin.",
    driver_facing=False,
)
def q_ivfpq_recall(spark, sf_dir):
    from meilisync_spark.operators.ivfpq import ivfpq_recall_clustered

    return ivfpq_recall_clustered(_t(spark, sf_dir, "embeddings"))


@register(
    "ivfpq_persisted_recall",
    None,  # trained + temp-dir index — recall asserted in tests/test_pq.py
    doc="The IVF+PQ index AT REST: written hive-partitioned by cluster, "
        "read back with the probe pruned to the queries' cells (static "
        "PartitionFilters — zero IO for every other cell), ADC-scored, "
        "exact-re-ranked; recall 1.0 vs brute force on the clustered "
        "twin. The write -> read-back -> prune -> probe lifecycle a "
        "serving deployment runs, not just the in-plan training probe.",
    driver_facing=False,
)
def q_ivfpq_persisted_recall(spark, sf_dir):
    from meilisync_spark.operators.ivfpq import ivfpq_persisted_recall

    # per-invocation temp-dir build (no cross-run cache): the round-12
    # optimization rules require every invocation to compute from the
    # parquet inputs
    return ivfpq_persisted_recall(spark, _t(spark, sf_dir, "embeddings"))


@register(
    "ann_incremental_recall",
    None,  # trained + streamed adds — recall asserted in tests/test_pq.py
    doc="FAISS add-after-train proven end to end: quantizers train on "
        "3/4 of the clustered twin (save_index), the held-out quarter "
        "arrives as two add_to_index batches (stored-centroid routing, "
        "stored-codebook encoding, cluster-partition append — no "
        "retrain), and query_index serves the benchmark queries against "
        "brute force over the FULL corpus: the added vectors must be "
        "both findable and able to find. Recall 1.0 on the twin.",
    driver_facing=False,
)
def q_ann_incremental_recall(spark, sf_dir):
    from meilisync_spark.operators.ivfpq import ivfpq_incremental_recall

    # per-invocation build (no cross-run cache) — see ivfpq_persisted_recall
    return ivfpq_incremental_recall(spark, _t(spark, sf_dir, "embeddings"))


@register(
    "ann_nprobe_recall",
    None,  # trained index — monotonicity asserted in tests/test_pq.py
    doc="The serving nprobe knob's recall-vs-IO curve measured: the "
        "twin indexed with 20 coarse cells (clusters split across "
        "cells), queried at nprobe 1/2/4 with exact refine — recall "
        "rises monotonically as the probe reads 2x/4x the codes; the "
        "number a deployment tunes against its IO budget.",
    driver_facing=False,
)
def q_ann_nprobe_recall(spark, sf_dir):
    from meilisync_spark.operators.ivfpq import ann_nprobe_recall

    # per-invocation build (no cross-run cache) — see ivfpq_persisted_recall
    return ann_nprobe_recall(spark, _t(spark, sf_dir, "embeddings"))


@register(
    "bpe_merges",
    None,  # iterative training — python-reference-replicated in tests/test_bpe.py
    doc="BPE tokenizer TRAINING (Sennrich et al. 2016), the real-scale "
        "shape: one corpus scan builds the weighted word vocab, every "
        "merge iteration is a vocab-sized job (pair explode -> weighted "
        "count -> deterministic argmax -> fold-apply, all JVM-side); "
        "output is the learned merge table a tokenizer file ships. "
        "Merge-for-merge equal to the pure-python reference model.",
    driver_facing=False,
)
def q_bpe_merges(spark, sf_dir):
    from meilisync_spark.operators.bpe import bpe_merge_table

    # trainer="driver": the indexed in-process learner over the bounded
    # weighted-word table — IDENTICAL merges to the Catalyst fold loop
    # (equality pinned in tests/test_bpe.py), measured 77 sequential
    # jobs -> ~6 at sf0.1 (one scheduler round-trip per merge is the
    # whole cost of the fold form; see OPTIMIZATION_r12.md §bpe)
    return bpe_merge_table(_t(spark, sf_dir, "documents"), trainer="driver")


@register(
    "bpe_encode_stats",
    None,  # trained segmentation — token-for-token replicated in tests
    doc="Corpus re-encoded with the trained BPE segmentation: words "
        "broadcast-join the trained vocab's final token arrays (OOV -> "
        "character fallback); per-doc token counts + compression ratio "
        "(initial symbols / BPE tokens, one final IEEE division).",
    driver_facing=False,
)
def q_bpe_encode_stats(spark, sf_dir):
    from meilisync_spark.operators.bpe import bpe_encode_stats

    # trainer="driver": identical merges/vocab, ~70 fewer sequential
    # jobs (see q_bpe_merges)
    return bpe_encode_stats(_t(spark, sf_dir, "documents"), trainer="driver")


@register(
    "bpe_encode_oov_fast",
    None,  # iterative training upstream — fast==fold equality is the suite's gate
    doc="Held-out BPE encode through the PRODUCTION OOV path: train on "
        "the corpus with every word starting n-z REMOVED (a word-level "
        "holdout — doc-level splits leave no OOV on small fixtures "
        "whose whole vocabulary appears in every half), encode the "
        "full corpus; the held-out words are segmented by "
        "bpe_apply_merges_fast (the classic lowest-rank loop, Arrow "
        "mapInPandas over the distinct OOV words — per-word cost "
        "independent of |merges|, the form a 32k-merge production "
        "vocab needs). Identical rows to the JVM fold on alias-free "
        "merges (tests pin both the equality and the one "
        "aliased-divergence case).",
    driver_facing=True,
)
def q_bpe_encode_oov_fast(spark, sf_dir):
    from pyspark.sql import functions as F

    from meilisync_spark.operators.bpe import bpe_encode_stats
    from meilisync_spark.operators.text import words_col

    docs = _t(spark, sf_dir, "documents")
    train = docs.select(
        "doc_id",
        F.array_join(
            F.filter(words_col(F.col("text")), lambda w: ~w.rlike("^[n-z]")),
            " ",
        ).alias("text"),
    )
    return bpe_encode_stats(
        docs, train_docs=train, oov_encoder="fast", trainer="driver"
    )


@register(
    "layout_report",
    None,  # footer metadata — DuckDB parquet_metadata() cross-check lives in tests/test_layout.py (path-bound SQL can't use the pre-registered views)
    doc="Parquet layout doctor: one row per file from a DISTRIBUTED "
        "footer-only scan (file bytes, row groups, rows, max row-group "
        "rows and max compressed row-group span) plus a needs_rewrite "
        "verdict for files whose byte-range split plan promises more "
        "parallelism than their row groups can deliver — the "
        "unsplittable-file pathology spread() pins around (round 8). "
        "Operational tooling for the 100-TB posture: audit first, "
        "`doctor --rewrite` flagged files once (atomic in-place, "
        "round 9), and the pin path goes dead for your data.",
    driver_facing=True,
)
def q_layout_report(spark, sf_dir):
    from meilisync_spark.operators.layout import layout_report

    return layout_report(spark, sf_dir)


_ANN_RUN_ROOT: list = []  # [path] once created; rmtree'd at exit


def _ann_fresh_dir(tag: str = "idx") -> str:
    """A FRESH per-invocation build dir for the serving row (round-12
    optimization rules): every invocation trains its index from the
    parquet inputs — nothing is keyed on the corpus fingerprint and
    nothing persists across bench/oracle invocations. Dirs live under
    one uid+pid-scoped mode-0700 root that is removed atexit (the
    returned DataFrame reads the index lazily, so the dir must outlive
    the query fn itself)."""
    import atexit
    import os
    import shutil
    import tempfile

    if not _ANN_RUN_ROOT:
        root = tempfile.mkdtemp(prefix=f"mls_ann_run_{os.getuid()}_")
        _ANN_RUN_ROOT.append(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"{tag}_", dir=_ANN_RUN_ROOT[0])


from meilisync_spark.operators.ivfpq import (  # noqa: E402
    ann_query_served_oracle_sql as _ann_served_sql,
)


@register(
    "ann_query_served",
    _ann_served_sql(),
    doc="The serving lifecycle end to end: build the index AT REST "
        "(save_index into a fresh per-invocation dir — nothing cached "
        "across runs), then the query-side path — stored-centroid "
        "routing, partition-pruned code scan, ADC rank, exact refine. "
        "Oracle = brute-force cosine top-k on the clustered twin, so "
        "hash equality certifies the served probe recovered the TRUE "
        "top-k (recall 1.0), not just row counts.",
)
def q_ann_query_served(spark, sf_dir):
    from meilisync_spark.operators.ivfpq import ann_query_served

    return ann_query_served(
        spark, _t(spark, sf_dir, "embeddings"), _ann_fresh_dir("idx")
    )


@register(
    "ivfpq_residual_ablation",
    None,  # trained measurement row — ordering asserted in tests/test_pq.py
    doc="Residual-encoding ablation (FAISS by_residual), measured under "
        "the same cell-restricted ADC probe and byte budget: raw codes "
        "0.275 (per-cell collapse) vs residual codes 0.625 on the "
        "clustered twin; corpus-wide residual ADC collapses to ~0.08 — "
        "why IVF and residual-PQ only exist as a pair. Deliberately NOT "
        "train-once-cached (VERDICT r11 #4): the two PQ trainings over "
        "different encodings of the same corpus ARE the ablation — "
        "caching one side would compare a fresh trainer against a "
        "stored one.",
    driver_facing=False,
)
def q_ivfpq_residual_ablation(spark, sf_dir):
    from meilisync_spark.operators.ivfpq import ivfpq_residual_adc_recall

    return ivfpq_residual_adc_recall(_t(spark, sf_dir, "embeddings"))


@register(
    "event_sessions",
    """
    WITH t AS (
        SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS te
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, te,
               CASE WHEN lag(te) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL
                         OR te - lag(te) OVER (PARTITION BY user_id ORDER BY event_id) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM t
    ),
    sess AS (
        -- CAST: DuckDB sum(INTEGER) is HUGEINT, which pandas-materializes
        -- as float64 ('1.0') while Spark's long renders '1' — the driver's
        -- string-hash would diverge on every row (see tools/driver_sim.py)
        SELECT user_id, te,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(te) AS session_start, max(te) AS session_end
    FROM sess GROUP BY user_id, session_id
    """,
    doc="Gap-based sessionization (30-min inactivity): the batch shape of "
        "a streaming session window — lag + running sum + group.",
)
def event_sessions(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts").cast("long").alias("te")
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    prev = F.lag("te").over(w)
    is_new = F.when(prev.isNull() | ((F.col("te") - prev) > 1800), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("te").alias("session_start"),
        F.max("te").alias("session_end"),
    )


from meilisync_spark.functions.vectors import duck_cosine as _duck_cosine


@register(
    "embedding_neardup_pairs",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
           {_duck_cosine('a.v', 'b.v')} AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_duck_cosine('a.v', 'b.v')} > 0.3
    """,
    doc="Embedding-cosine near-dup pairs within coarse cells (label): the "
        "blocked-pairs shape — never all-pairs across cells.",
)
def embedding_neardup_pairs(spark, sf_dir):
    # norms once per row pre-join (operand order matches cosine()/the
    # oracle exactly, so values are bit-equal); the join condition then
    # costs one dot fold per pair instead of three
    from meilisync_spark.functions.vectors import dot_product, l2_norm

    e = _t(spark, sf_dir, "embeddings").withColumn(
        "nrm", l2_norm(F.col("embedding"))
    )
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"),
        "label", F.col("nrm").alias("nrm_a"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"),
        F.col("label").alias("label_b"), F.col("nrm").alias("nrm_b"),
    )
    return (
        a.join(b, (F.col("label") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b")))
        .withColumn(
            "cosine",
            dot_product(F.col("emb_a"), F.col("emb_b"))
            / (F.col("nrm_a") * F.col("nrm_b")),
        )
        .where(F.col("cosine") > 0.3)
        .select("vec_a", "vec_b", "label", "cosine")
    )


# ---------------------------------------------------------------------------
# Streaming shell + multimodal plumbing
# ---------------------------------------------------------------------------

from meilisync_spark.operators import multimodal as _mm


@register("multimodal_meta", _mm.media_metadata_oracle_sql(),
          doc="Binary media column plumbing: Arrow-batched mapInPandas "
              "metadata extraction (decoder stubbed deterministically).")
def q_multimodal_meta(spark, sf_dir):
    media = _mm.make_media_table(_t(spark, sf_dir, "documents"))
    return _mm.extract_media_metadata(media)


@register("multimodal_resize", _mm.resize_media_oracle_sql(),
          doc="Aspect-preserving resize-to-fit for image/video blobs "
              "(codec stubbed; Arrow plumbing + audio pre-filter real).")
def q_multimodal_resize(spark, sf_dir):
    media = _mm.make_media_table(_t(spark, sf_dir, "documents"))
    return _mm.resize_media(media)


@register("multimodal_frames", _mm.sample_frames_oracle_sql(),
          doc="Uniform video frame sampling — 1→N row expansion through "
              "mapInPandas; content-derived frame ids feed frame dedup.")
def q_multimodal_frames(spark, sf_dir):
    media = _mm.make_media_table(_t(spark, sf_dir, "documents"))
    return _mm.sample_frames(media)


# final state of the full log applied to an empty index == last event
# per pk, minus deletes (partial updates against nothing keep their own
# payload), regardless of micro-batch boundaries when payloads are the
# compacted survivors
_STREAM_FINAL = (
    "SELECT pk, ts, value, k FROM ("
    + compaction_oracle_sql(_EV, ["pk"], ["seq", "op", "ts", "value", "k"])
    + ") WHERE op <> 'delete'"
)


@register("streaming_cdc_apply", _STREAM_FINAL,
          doc="End-to-end Structured Streaming run: availableNow file-source "
              "stream → foreachBatch(normalize → compact → MERGE) → shadow-"
              "swapped index; returns the final index state (T1-T5).")
def q_streaming_cdc_apply(spark, sf_dir):
    import shutil
    import tempfile

    from meilisync_spark.config import Settings
    from meilisync_spark.streaming.pipeline import run_cdc_pipeline

    work = tempfile.mkdtemp(prefix="mls_stream_")
    index_path = f"{work}/index"
    try:
        run_cdc_pipeline(
            spark,
            f"{sf_dir}/events.parquet",
            Settings.for_index(index_path),
            f"{work}/checkpoint",
            available_now=True,
            # the bucket count is a per-table sizing knob: the fixture
            # index holds ~10^2 pks, so size it like a user would (the
            # 64-bucket fresh-index default is for real tables;
            # test_fresh_index_buckets_by_default covers that path)
            num_buckets=8,
        )
        # materialize before the workdir is removed
        out = spark.read.parquet(index_path).select("pk", "ts", "value", "k")
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


_MAXWELL_STREAM_SQL = """
    WITH f AS (
        SELECT event_id, ts, user_id, value,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k,
               CASE event_type WHEN 'signup' THEN 'create'
                    WHEN 'purchase' THEN 'update' WHEN 'click' THEN 'update'
                    WHEN 'error' THEN 'delete' END AS op
        FROM events
        WHERE event_type IN ('signup', 'purchase', 'click', 'error')
    ),
    last AS (
        SELECT user_id AS pk,
               arg_max(struct_pack(op := op, ts := ts, value := value, k := k),
                       event_id) AS s
        FROM f GROUP BY 1
    )
    SELECT pk,
           make_timestamp(CAST(floor(epoch(s.ts)) AS BIGINT) * 1000000) AS ts,
           s.value AS value, s.k AS k
    FROM last WHERE s.op <> 'delete'
    """


@register("streaming_maxwell_apply", _MAXWELL_STREAM_SQL,
          doc="The envelope transport driven through the streaming shell "
              "end-to-end: events rendered as Maxwell JSON lines into a "
              "drop directory, tailed via the text source, normalized by "
              "normalize_maxwell inside the pipeline, MERGEd into the "
              "index — final state vs a last-wins oracle computed "
              "straight from the source columns.")
def q_streaming_maxwell_apply(spark, sf_dir):
    import shutil
    import tempfile

    from meilisync_spark.sources.cdc_connectors import _RT_PAYLOAD, normalize_maxwell
    from meilisync_spark.config import Settings
    from meilisync_spark.streaming.pipeline import run_cdc_pipeline

    # the roundtrip builder's envelope construction, written as raw
    # JSON lines (distributed write — the drop-dir a Maxwell daemon
    # would produce)
    import meilisync_spark.sources.cdc_connectors as _cc

    work = tempfile.mkdtemp(prefix="mls_mxw_")
    drop, index_path = f"{work}/drop", f"{work}/index"
    try:
        src = _cc._rt_source(_t(spark, sf_dir, "events"))
        op_src = F.lit(None).cast("string")
        for evt, mop in reversed(list(_cc._RT_OPS.items())):
            op_src = F.when(F.col("event_type") == evt, F.lit(mop)).otherwise(op_src)
        env = src.select(
            F.to_json(
                F.struct(
                    F.lit("app").alias("database"),
                    F.lit("users").alias("table"),
                    op_src.alias("type"),
                    F.unix_timestamp("ts").alias("ts"),
                    F.col("event_id").alias("xid"),
                    F.format_string(
                        "master.%06d:%d",
                        (F.lit(1) + F.floor(
                            F.col("event_id") / F.lit(_cc.MAXWELL_RT_FILE_ROWS)
                        )).cast("long"),
                        F.col("event_id") % _cc.MAXWELL_RT_FILE_ROWS,
                    ).alias("position"),
                    F.struct("user_id", "value", "k").alias("data"),
                )
            ).alias("value")
        )
        env.write.mode("overwrite").text(drop)

        def norm(df):
            ev = normalize_maxwell(df, _RT_PAYLOAD, pk="user_id")
            return ev.select(
                "seq", "ts", "table", "op", "pk",
                F.col("payload").getField("value").alias("value"),
                F.col("payload").getField("k").alias("k"),
            )

        run_cdc_pipeline(
            spark, drop, Settings.for_index(index_path), f"{work}/checkpoint",
            available_now=True, source_format="text",
            normalizer=norm,
            num_buckets=8,  # sized to the fixture, like the row above
        )
        out = spark.read.parquet(index_path).select("pk", "ts", "value", "k")
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def _run_streaming_to_table(spark, sf_dir: str, runner, select_cols: list[str]) -> DataFrame:
    """Run a streaming job into a temp state table and materialize the
    final state (the workdir is removed before returning)."""
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="mls_stream_")
    try:
        runner(spark, f"{sf_dir}/events.parquet", f"{work}/state", f"{work}/checkpoint")
        out = spark.read.parquet(f"{work}/state").select(*select_cols)
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "streaming_hourly_stats",
    """
    SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_start,
           event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="Watermarked tumbling-window streaming aggregation (T6 surface "
        "the reference lacks): update-mode + foreachBatch keyed merge; "
        "the final state table equals the batch aggregate.",
)
def q_streaming_hourly_stats(spark, sf_dir):
    from meilisync_spark.streaming.windowed import run_windowed_stats

    return _run_streaming_to_table(
        spark, sf_dir, run_windowed_stats,
        ["hour_start", "event_type", "n", "total_value"],
    )


@register(
    "streaming_join_pairs",
    """
    WITH p AS (SELECT user_id, event_id AS purchase_id,
                      date_trunc('microseconds', ts) AS ts
               FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id, event_id AS view_id,
                      date_trunc('microseconds', ts) AS ts
               FROM events WHERE event_type = 'view')
    SELECT p.user_id, p.purchase_id, v.view_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_ts,
           CAST(floor(epoch(v.ts)) AS BIGINT) AS view_ts
    FROM p JOIN v ON p.user_id = v.user_id
                 AND v.ts <= p.ts
                 AND v.ts >= p.ts - INTERVAL '30 minutes'
    """,
    doc="Watermarked stream-stream interval join (purchases ⋈ views "
        "within 30 min), append-mode parquet sink; the interval bound "
        "keeps join state finite. Final sink equals the batch range join.",
)
def q_streaming_join_pairs(spark, sf_dir):
    from meilisync_spark.streaming.stream_join import run_stream_stream_join

    return _run_streaming_to_table(
        spark, sf_dir, run_stream_stream_join,
        ["user_id", "purchase_id", "view_id", "purchase_ts", "view_ts"],
    )


@register(
    "streaming_user_totals",
    """
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
           max(event_id) AS last_event_id
    FROM events GROUP BY user_id
    """,
    doc="Custom stateful streaming operator (applyInPandasWithState): "
        "per-user running totals in exact integer cents; final state "
        "equals the batch aggregate regardless of batch boundaries.",
)
def q_streaming_user_totals(spark, sf_dir):
    from meilisync_spark.streaming.windowed import run_user_totals

    return _run_streaming_to_table(
        spark, sf_dir, run_user_totals,
        ["user_id", "n_events", "total_cents", "last_event_id"],
    )


@register(
    "event_zscores",
    """
    WITH stats AS (
        SELECT event_type, count(*) AS n,
               sum(CAST(value AS DECIMAL(18,2))) AS s,
               sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sq
        FROM events GROUP BY event_type
    ),
    m AS (
        SELECT event_type, n,
               CAST(s AS DOUBLE) / n AS mean,
               sqrt(CAST(sq AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS std
        FROM stats
    )
    SELECT event_id, e.event_type, value,
           round((value - mean) / std, 8) AS zscore
    FROM events e JOIN m ON e.event_type = m.event_type
    """,
    doc="Feature standardization: per-type moments from exact DECIMAL "
        "sums (one agg shuffle over |types| rows), broadcast back onto "
        "the events for per-row z-scores — the two-pass normalize shape; "
        "derived mean/std are identical IEEE doubles in both engines "
        "because the inputs are exact decimals.",
)
def event_zscores(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    vd = F.col("value").cast("decimal(18,2)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vd).alias("s"),
        F.sum(vd * vd).alias("sq"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    m = stats.select(
        "event_type",
        mean.alias("mean"),
        F.sqrt(F.col("sq").cast("double") / F.col("n") - mean * mean).alias("std"),
    )
    return (
        ev.join(F.broadcast(m), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.round((F.col("value") - F.col("mean")) / F.col("std"), 8).alias("zscore"),
        )
    )


@register(
    "retention_cohorts",
    """
    WITH a AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events
    ),
    c AS (SELECT user_id, min(week) AS cohort_week FROM a GROUP BY 1)
    SELECT c.cohort_week, a.week,
           CAST((a.week - c.cohort_week) / 7 AS BIGINT) AS week_offset,
           count(DISTINCT a.user_id) AS active_users
    FROM a JOIN c USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Weekly cohort retention: cohort = first active week per user, "
        "cell = distinct users from that cohort active in each later "
        "week. Distinct user-weeks first (the big shrink happens before "
        "any join), then every shuffle is keyed on user_id — Catalyst "
        "reuses the exchange across the min-agg and the join.",
)
def retention_cohorts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    a = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct()
    c = a.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        a.join(c, "user_id")
        .groupBy("cohort_week", "week")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .select(
            "cohort_week",
            "week",
            (F.datediff("week", "cohort_week") / 7).cast("long").alias("week_offset"),
            "active_users",
        )
    )


@register(
    "event_funnel",
    """
    WITH e AS (SELECT user_id, ts, event_type FROM events),
    v AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        FROM e GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, min(v.t_view) AS t_view,
               min(CASE WHEN e.event_type = 'click' AND e.ts >= v.t_view
                        THEN e.ts END) AS t_click
        FROM e JOIN v USING (user_id) GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, min(c.t_view) AS t_view, min(c.t_click) AS t_click,
               min(CASE WHEN e.event_type = 'purchase' AND e.ts >= c.t_click
                        THEN e.ts END) AS t_purchase
        FROM e JOIN c USING (user_id) GROUP BY 1
    )
    SELECT count(t_view) AS users_view,
           count(t_click) AS users_click,
           count(t_purchase) AS users_purchase
    FROM p
    """,
    doc="Ordered funnel (view → click-after-view → purchase-after-click): "
        "each stage's entry time is the min event time AFTER the previous "
        "stage, so out-of-order events don't count. Three passes, every "
        "shuffle keyed on user_id (exchange reuse); NULL propagation "
        "drops users who never reached the previous stage in both "
        "engines identically.",
)
def event_funnel(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    ty = F.col("event_type")
    v = ev.groupBy("user_id").agg(
        F.min(F.when(ty == "view", F.col("ts"))).alias("t_view")
    )
    c = ev.join(v, "user_id").groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min(
            F.when((ty == "click") & (F.col("ts") >= F.col("t_view")), F.col("ts"))
        ).alias("t_click"),
    )
    p = ev.join(c, "user_id").groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min(
            F.when((ty == "purchase") & (F.col("ts") >= F.col("t_click")), F.col("ts"))
        ).alias("t_purchase"),
    )
    return p.agg(
        F.count("t_view").alias("users_view"),
        F.count("t_click").alias("users_click"),
        F.count("t_purchase").alias("users_purchase"),
    )


@register(
    "streaming_sessions",
    """
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    sess AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) AS last_event_us,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    doc="Native streaming session windows (F.session_window, 30-min gap); "
        "complete-mode shadow-swap for the finite replay (append+"
        "watermark is the unbounded-stream shape); the oracle replays "
        "the merge boundary (delta >= gap) with exact microsecond "
        "interval math.",
)
def q_streaming_sessions(spark, sf_dir):
    from meilisync_spark.streaming.windowed import run_session_windows

    return _run_streaming_to_table(
        spark, sf_dir, run_session_windows,
        ["user_id", "session_start_us", "last_event_us", "n_events"],
    )


@register(
    "streaming_dedup",
    """
    SELECT event_id, user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value
    FROM events
    """,
    doc="Streaming exactly-once dedup (dropDuplicatesWithinWatermark): "
        "the source stream is unioned with a deterministic replay subset "
        "(at-least-once redelivery), then deduped on event_id with "
        "watermark-bounded state; the sink equals the original event set.",
)
def q_streaming_dedup(spark, sf_dir):
    from meilisync_spark.streaming.dedup_stream import run_stream_dedup

    return _run_streaming_to_table(
        spark, sf_dir, run_stream_dedup,
        ["event_id", "user_id", "event_type", "ts_sec", "value"],
    )


from meilisync_spark.operators.text import span_dedup as _span_dedup
from meilisync_spark.operators.text import span_dedup_oracle_sql as _span_dedup_sql


@register(
    "span_dedup",
    _span_dedup_sql(),
    doc="Exact repeated-span detection (Lee et al. 2021 substring-dedup "
        "shape): word 8-grams occurring in >= 2 documents are duplicated "
        "text; per-doc dup counts + fraction. One shuffle on the span key.",
)
def q_span_dedup(spark, sf_dir):
    return _span_dedup(_t(spark, sf_dir, "documents"))


from meilisync_spark.operators.text import span_removal as _span_removal
from meilisync_spark.operators.text import span_removal_oracle_sql as _span_removal_sql


@register(
    "span_removal",
    _span_removal_sql(),
    doc="Duplicated-span EXCISION (Lee et al. 2021 §3): global "
        "first-occurrence-wins — the first occurrence of each word "
        "8-gram survives, later occurrences have their word positions "
        "removed and the text is reconstructed. One shuffle on the span "
        "key; the rebuild is a per-row array filter, never a word "
        "explode.",
)
def q_span_removal(spark, sf_dir):
    return _span_removal(_t(spark, sf_dir, "documents"))


from meilisync_spark.operators.similarity import semantic_dedup as _semantic_dedup
from meilisync_spark.operators.similarity import (
    semantic_dedup_oracle_sql as _semantic_dedup_sql,
)


@register(
    "semantic_dedup",
    _semantic_dedup_sql(),
    doc="SemDeDup-shaped semantic dedup (Abbas et al. 2023): within each "
        "coarse cell, drop vectors with a smaller-id cosine-near neighbor "
        "(deterministic smallest-id-survives); cell-blocked join, never "
        "corpus x corpus.",
)
def q_semantic_dedup(spark, sf_dir):
    return _semantic_dedup(_t(spark, sf_dir, "embeddings"))


from meilisync_spark.operators.sampling import (
    temperature_resample as _temperature_resample,
    temperature_resample_oracle_sql as _temperature_resample_sql,
    training_order as _training_order,
    training_order_oracle_sql as _training_order_sql,
)


@register(
    "temperature_resample",
    _temperature_resample_sql(),
    doc="Temperature-flattened mixture sampling (mT5/XLM-R recipe, T=2): "
        "rate_s = sqrt(min_count/count_s) — sqrt/division are IEEE "
        "correctly-rounded so both engines compute bit-identical "
        "thresholds; portable-hash membership, scan-side filter.",
)
def q_temperature_resample(spark, sf_dir):
    return _temperature_resample(_t(spark, sf_dir, "documents"))


@register(
    "training_order",
    _training_order_sql(),
    doc="Deterministic global shuffle for training order: hash-balanced "
        "shards, within-shard rank by an independent hash — windows "
        "partitioned by shard, never a global sort.",
)
def q_training_order(spark, sf_dir):
    return _training_order(_t(spark, sf_dir, "documents"))


@register(
    "streaming_corpus_ingest",
    r"""
    SELECT sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash,
           arg_min(doc_id, doc_id) AS doc_id,
           arg_min(text, doc_id) AS text,
           arg_min(lang, doc_id) AS lang,
           arg_min(source, doc_id) AS source,
           arg_min(n_chars, doc_id) AS n_chars
    FROM documents GROUP BY 1
    """,
    doc="Streaming corpus ingestion: quality-gated append-only intake "
        "with cross-batch exact dedup against the index (first sighting "
        "wins); final state equals the batch-global canonical dedup.",
)
def q_streaming_corpus_ingest(spark, sf_dir):
    import shutil
    import tempfile

    from meilisync_spark.streaming.corpus_ingest import run_corpus_ingest

    work = tempfile.mkdtemp(prefix="mls_ingest_")
    try:
        run_corpus_ingest(
            spark, f"{sf_dir}/documents.parquet", f"{work}/corpus",
            f"{work}/checkpoint",
        )
        out = spark.read.parquet(f"{work}/corpus").select(
            "content_hash", "doc_id", "text", "lang", "source", "n_chars"
        )
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


from meilisync_spark.operators.text import compression_ratio as _compression_ratio


@register(
    "compression_ratio",
    None,  # no zlib in DuckDB; pinned against direct zlib in tests.
           # Driver-facing since round 12: rows-only check.
    doc="zlib compression-ratio quality signal (Gopher/RefinedWeb): the "
        "one text op that genuinely needs Python — Arrow mapInPandas, "
        "vectorized per batch; no SQL oracle (no zlib in DuckDB), pinned "
        "against direct zlib in tests.",
)
def q_compression_ratio(spark, sf_dir):
    return _compression_ratio(_t(spark, sf_dir, "documents"))


from meilisync_spark.operators.profile import (
    profile_documents_oracle_sql as _profile_docs_sql,
    profile_table as _profile_table,
)


@register(
    "profile_documents",
    _profile_docs_sql(),
    doc="ANALYZE-style corpus profile: one scan, one aggregate computes "
        "per-column nulls/exact-distincts/ranges/length moments, melted "
        "to long (col, metric, value) form. At 100 TB the exact "
        "distincts become approx_count_distinct sketches.",
)
def q_profile_documents(spark, sf_dir):
    return _profile_table(
        _t(spark, sf_dir, "documents"),
        numeric_cols=["doc_id", "n_chars"],
        string_cols=["text", "lang", "source"],
    )


from meilisync_spark.operators import selection as _sel


@register(
    "dsir_weights",
    _sel.dsir_weights_oracle_sql(),
    doc="DSIR-shaped importance weights (Xie et al. 2023): hashed "
        "unigram+bigram bag features, add-one-smoothed target-vs-raw "
        "mass ratio per doc (target = lang('en') docs). Integer-exact "
        "until a fixed 3-op IEEE tail; the 1024-bucket frequency table "
        "is broadcast by construction.",
)
def q_dsir_weights(spark, sf_dir):
    return _sel.dsir_weights(_t(spark, sf_dir, "documents"))


@register(
    "dsir_select",
    _sel.dsir_select_oracle_sql(),
    doc="Deterministic importance selection: top 25% of each language "
        "by DSIR weight (weight desc, doc_id tie-break). The window "
        "form is the contract; at scale the cutoff comes from "
        "approxQuantile + filter.",
)
def q_dsir_select(spark, sf_dir):
    return _sel.dsir_select(_t(spark, sf_dir, "documents"))


@register(
    "dsir_select_scalable",
    _sel.dsir_select_scalable_oracle_sql(),
    doc="Scale-safe DSIR selection: per-lang percentile weight cut "
        "derived by aggregation, broadcast back (one row per lang), "
        "applied as a filter — the per-doc side is never sorted or "
        "windowed (the exact-window form is one task per language at "
        "100 TB). Value-threshold tie semantics, documented.",
)
def q_dsir_select_scalable(spark, sf_dir):
    return _sel.dsir_select_scalable(_t(spark, sf_dir, "documents"))


@register(
    "budget_select",
    _sel.budget_select_oracle_sql(),
    doc="Token-budget curation: per lang, admit docs in fixed-point "
        "distinct-ratio quality order while the running token total "
        "fits the budget. All-integer; cumsum window per lang.",
)
def q_budget_select(spark, sf_dir):
    return _sel.budget_select(_t(spark, sf_dir, "documents"))


@register(
    "budget_select_scalable",
    _sel.budget_select_scalable_oracle_sql(),
    doc="Scale-safe token-budget curation, EXACT same rows as "
        "budget_select: the running total moves to the (lang, qkey) "
        "group table (bounded at RATIO_SCALE+1 rows per lang by "
        "construction), whole under-budget groups admit in full, and "
        "only the single boundary group per lang is refined doc-by-doc "
        "after filtering. No window ever touches the per-doc table.",
)
def q_budget_select_scalable(spark, sf_dir):
    return _sel.budget_select_scalable(_t(spark, sf_dir, "documents"))


@register(
    "cluster_safe_split",
    _sel.cluster_safe_split_oracle_sql(),
    doc="Leakage-safe train/val/test split: the split hash is taken "
        "over the near-dup cluster representative, so duplicate groups "
        "cross the cut as a unit (no train/test contamination). Same "
        "salt + cut points as split_assign — singletons keep their "
        "per-doc assignment.",
)
def q_cluster_safe_split(spark, sf_dir):
    return _sel.cluster_safe_split(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Registry accessors (used by __spark_entry__.py and tests)
# ---------------------------------------------------------------------------

# The driver oracle-checks the FIRST 50 queries() entries only, so the
# order is part of the contract: the first 50 must cover every operator
# family (reference-parity core, relational, window, text, dedup,
# sampling, similarity, multimodal, streaming). Entries after the
# window are equally real — just verified by the local suite instead
# of the driver. Names not listed here sort after the listed ones in
# registration order.
DRIVER_ORDER = [
    # Round 12 is the backlog-clearing rotation (VERDICT r11 tasks 2+7):
    # THIRTEEN rows that had never been in any CORRECTNESS window enter
    # — eleven oracle-backed (canal_roundtrip, corpus_pipeline,
    # exact_source_overlap, training_order,
    # customer_spend_quartiles_scalable, event_funnel,
    # unigram_freq_score, bigram_lm_score, dedup_clusters_verified,
    # srp_ann_topk, profile_documents) and two sql=None rows under the
    # driver's rows-only check (kmeans_labels, compression_ratio).
    # Thirteen long-stable rows rotate out, each shape-subsumed by a
    # row that stays and all still oracle-checked by driver_sim --all:
    # sync_dates (projection/ISO kept by sync_lineitem +
    # retention_cohorts' DATE render), wal2json_v2_roundtrip (envelope
    # construct+parse kept by canal_roundtrip + streaming_maxwell_apply),
    # decontaminate (runs inside corpus_pipeline_full/corpus_pipeline),
    # source_overlap (exact_source_overlap keeps the histogram-overlap
    # shape; fingerprint_source_overlap stays), dsir_select (scalable
    # twin stays), q5_region_revenue (join+agg kept by cube_order_stats
    # + customer_spend_quartiles_scalable), top_customers_per_nation
    # (ranked windows kept by event_funnel + event_sessions),
    # text_stats (quality_filter + the two LM-score rows keep text
    # scoring), vocab_encode (global-rank encode kept by bpe_encode_oov
    # + unigram/bigram vocab joins), dedup_clusters (verified twin
    # subsumes: same label propagation + exact-Jaccard edge filter),
    # ann_ivf_label (ann_query_served + srp_ann_topk keep both ANN
    # families), label_centroids (kmeans_labels + semantic_dedup keep
    # the embedding path), multimodal_frames (multimodal_meta keeps the
    # Arrow binary plumbing), pivot_priority_status (cube_order_stats
    # keeps grouped aggregates).
    # Earlier rotations: r11 brought in quality_filter, pii_scrub,
    # fingerprint_source_overlap, pack_sequences, retention_cohorts,
    # streaming_maxwell_apply; r10 brought in streaming_corpus_ingest,
    # dsir_select, decontaminate, source_overlap; r9 brought in
    # budget_select_scalable, bpe_encode_oov_fast, layout_report.
    # reference-parity core (S/P/A/F/T families).
    "sync_lineitem",
    "normalize_events",
    "compact_events",
    "split_by_op",
    "cdc_apply",
    "check_counts",
    # envelope-connector coverage: round 12 swaps the wal2json row
    # (green r5-r11) for canal_roundtrip — the Alibaba Canal envelope's
    # stringly-typed values + isDdl filter path, never driver-checked
    # before; wal2json v1/v2 and maxwell roundtrips stay oracle-checked
    # by driver_sim --all.
    "canal_roundtrip",
    "streaming_corpus_ingest",
    # round-12: the quality-gate + exact-dedup + near-dup composition
    # WITHOUT the decontamination arm — the curation pipeline most
    # corpora run per-source before cross-source decon; never
    # driver-checked before (corpus_pipeline_full, which stays below,
    # certifies the full composition).
    "corpus_pipeline",
    # round-12: the content-hash half of the provenance story
    # (fingerprint_source_overlap keeps the winnowing half in-window).
    "exact_source_overlap",
    "fingerprint_source_overlap",
    # round-12: curriculum ordering over the selected corpus — the
    # deterministic interleave that feeds pack_sequences downstream.
    "training_order",
    # relational coverage: joins, aggs, grouping sets, windows.
    # round-12: the scalable quartile row — percentile cuts from the
    # bounded (lang-free) group table, no per-row window — enters;
    # q5_region_revenue (green since r1) rotates out.
    "customer_spend_quartiles_scalable",
    # round-12: strict-order event funnel (search→click→purchase via
    # min-timestamp chaining) — sequential event-time logic the session
    # row doesn't cover.
    "event_funnel",
    "cube_order_stats",
    # round-11 rotation, in: month-cohort retention matrix — date
    # windows + the DATE-render contract in the driver's own
    # comparator
    "retention_cohorts",
    "asof_purchase_view",
    "event_sessions",
    # text analysis — round-12: the two fixed-point language-model
    # score rows enter (never driver-checked): unigram surprisal and
    # the add-one-smoothed bigram LM, both integer-exact until the
    # final IEEE division.
    "unigram_freq_score",
    "bigram_lm_score",
    "bpe_encode_oov_fast",
    "quality_filter",
    "pii_scrub",
    "pack_sequences",
    # dedup
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    # simhash_docs moved out of the window (simhash_neardup_pairs
    # subsumes it) for the composed-curation flagship row
    "corpus_pipeline_full",
    "simhash_neardup_pairs",
    # round-12: the VERIFIED cluster row (LSH candidates → exact-
    # Jaccard edges → diameter-bounded label propagation) replaces the
    # unverified dedup_clusters — same propagation core plus the edge
    # filter, so it subsumes it.
    "dedup_clusters_verified",
    # span_dedup moved out of the window (span_removal subsumes the
    # detection half and adds the excision Lee et al. actually perform)
    "span_removal",
    "temperature_resample",
    # similarity / embeddings — round-12: the signed-random-projection
    # ANN family's flagship (Hamming-bucket shortlist → exact top-k)
    # enters; ann_ivf_label rotates out (ann_query_served keeps the
    # IVF+PQ serving lifecycle in-window).
    "srp_ann_topk",
    # round-12: the SRP recall row on the clustered corpus — the
    # positive recall demonstration for the Hamming-bucket family
    # (its oracle computes recall@k against brute force exactly).
    "srp_recall_clustered",
    # Round 5 swapped in the SERVED-index row: its oracle is the
    # brute-force top-k itself, so hash equality certifies recall 1.0
    # through the full build-once → store → route → prune → ADC →
    # refine serving lifecycle
    "ann_query_served",
    # round-12, rows-only: exact fixed-point Lloyd iterations — the
    # IVF coarse quantizer's trainer (iterative, non-SQL-expressible;
    # numpy-replicated exactly in tests/test_kmeans.py).
    "kmeans_labels",
    "dsir_select_scalable",
    "budget_select_scalable",
    "cluster_safe_split",
    # round-12: the per-source corpus profiling row (length/token/lang
    # histograms feeding curation decisions), never driver-checked.
    "profile_documents",
    "semantic_dedup",
    # round-12, rows-only: the zlib compression-ratio quality signal —
    # the one text op that genuinely needs Python (Arrow mapInPandas;
    # no zlib in DuckDB), pinned against direct zlib in tests.
    "compression_ratio",
    # operational tooling: the layout doctor's audit row (rows-only —
    # footer metadata; the DuckDB parquet_metadata cross-check lives in
    # tests/test_layout.py)
    "layout_report",
    # multimodal plumbing
    "multimodal_meta",
    # structured streaming — streaming_maxwell_apply entered in round
    # 11: the maxwell-envelope → normalize → MERGE-apply path certified
    # end-to-end by the driver, not just its roundtrip half
    "streaming_cdc_apply",
    "streaming_maxwell_apply",
    "streaming_hourly_stats",
    "streaming_join_pairs",
    "streaming_user_totals",
    "streaming_sessions",
    "streaming_dedup",
]


def _ordered_names() -> list[str]:
    rank = {n: i for i, n in enumerate(DRIVER_ORDER)}
    names = [n for n, s in REGISTRY.items() if s.driver_facing]
    return sorted(names, key=lambda n: (rank.get(n, len(rank)), 0))


def queries() -> dict[str, QueryFn]:
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].sql
        for name in _ordered_names()
        if REGISTRY[name].sql is not None
    }
