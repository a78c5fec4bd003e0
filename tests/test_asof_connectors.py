"""Unit tests: as-of join semantics, JDBC/Kafka connector builders, and
the Debezium envelope normalizer (hermetic — no live DB/broker)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from meilisync_spark.operators.asof import asof_join
from meilisync_spark.sources.cdc_connectors import (
    jdbc_snapshot_options,
    kafka_cdc_options,
    normalize_debezium,
)


def test_asof_backward_inclusive_and_tiebreak(spark):
    left = spark.createDataFrame(
        [(1, 10, "t-a"), (1, 5, "t-b"), (2, 8, "t-c")], "k long, t long, tag string"
    )
    right = spark.createDataFrame(
        [(1, 10, 1, 100.0), (1, 10, 2, 200.0), (1, 12, 3, 999.0), (2, 7, 4, 7.0)],
        "k long, t long, seq long, q double",
    )
    out = asof_join(
        left, right.withColumnRenamed("q", "quote"),
        by="k", left_ts="t", right_ts="t", right_cols=["quote"], right_seq="seq",
    )
    got = {r.tag: r.quote for r in out.collect()}
    # inclusive match at equal ts; tie among right rows resolves to max seq
    assert got["t-a"] == 200.0
    # no right row at-or-before ts=5 → NULL
    assert got["t-b"] is None
    assert got["t-c"] == 7.0


def test_asof_rejects_column_collision(spark):
    df = spark.createDataFrame([(1, 1, 1.0)], "k long, t long, v double")
    try:
        asof_join(df, df, by="k", left_ts="t", right_ts="t", right_cols=["v"])
    except ValueError as e:
        assert "collide" in str(e)
    else:
        raise AssertionError("expected ValueError on colliding right_cols")


def test_jdbc_snapshot_options_partitioned_projection():
    fmt, opts = jdbc_snapshot_options(
        "jdbc:mysql://db:3306/app",
        "users",
        pk="id",
        fields={"id": None, "name": "full_name"},
        num_partitions=16,
        lower_bound=0,
        upper_bound=1_000_000,
    )
    assert fmt == "jdbc"
    # projection/rename pushed into the source query (P1, ≡ the
    # reference's SELECT list, meilisync/source/mysql.py:37-40)
    assert opts["dbtable"] == "(SELECT id, name AS full_name FROM users) AS t"
    # partitioned ranges replace LIMIT/OFFSET pagination (S1/S2)
    assert opts["partitionColumn"] == "id"
    assert opts["numPartitions"] == "16"
    assert opts["fetchsize"] == "10000"


def test_kafka_cdc_options_resume_and_sizing():
    fmt, opts = kafka_cdc_options(
        "broker:9092", "cdc.app.users", max_offsets_per_trigger=5000
    )
    assert fmt == "kafka"
    assert opts["startingOffsets"] == "earliest"  # S7 resume default
    assert opts["maxOffsetsPerTrigger"] == "5000"  # T2 batch sizing


def _dbz(op, before, after, table="users", ts_ms=1700000000000):
    return json.dumps(
        {"payload": {"op": op, "before": before, "after": after,
                     "ts_ms": ts_ms, "source": {"table": table}}}
    )


def test_kafka_frame_streams_debezium_end_to_end(spark, tmp_path):
    """The Kafka transport minus only the broker socket: a drop dir of
    parquet files whose schema is BYTE-FOR-BYTE the kafka source's
    output relation (key/value binary, topic, partition, offset,
    timestamp, timestampType) streams through the exact downstream
    ``kafka_cdc_stream`` feeds — normalize_debezium (seq = kafka
    offset for position-less envelopes) → compact → MERGE — across two
    checkpoint-resumed micro-batches. The spark-sql-kafka jar is
    unobtainable in this container (SCALE.md documents the attempts);
    every line of OUR code on the Kafka path executes here, the only
    thing simulated is Spark's own source."""
    import glob
    import os
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from meilisync_spark.config import Settings
    from meilisync_spark.streaming.pipeline import run_cdc_pipeline

    payload_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    kschema = (
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp, timestampType int"
    )

    def krow(offset, op, before, after):
        ts = datetime.fromtimestamp(1700000000 + offset, tz=timezone.utc)
        key = json.dumps({"id": (after or before)["id"]}).encode()
        return (key, _dbz(op, before, after).encode(), "dbz.app.users",
                0, offset, ts, 0)

    drop = tmp_path / "drop"
    drop.mkdir()

    def stage(name, rows):
        out = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, kschema).coalesce(1).write.parquet(out)
        part = glob.glob(f"{out}/part-*.parquet")[0]
        os.rename(part, str(drop / f"{name}.parquet"))

    stage("b0", [
        krow(0, "c", None, {"id": 1, "v": 1.0}),
        krow(1, "c", None, {"id": 2, "v": 2.0}),
        krow(2, "u", {"id": 1, "v": 1.0}, {"id": 1, "v": 1.5}),
    ])

    def norm(df, _sync=None):
        ev = normalize_debezium(df, payload_schema, pk="id")
        return ev.select("seq", "table", "op", "pk", F.col("payload.v").alias("v"))

    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    kw = dict(source_format="parquet", normalizer=norm,
              available_now=True, max_files_per_trigger=1)
    run_cdc_pipeline(spark, str(drop), Settings.for_index(index), ckpt, **kw)
    assert {(r.pk, r.v) for r in spark.read.parquet(index).collect()} == {
        (1, 1.5), (2, 2.0)}

    # the envelopes carry no lsn/pos — seq MUST be the kafka offset
    # (ts_ms alone cannot order two same-pk changes in one millisecond)
    got = norm(spark.read.schema(kschema).parquet(str(drop))).collect()
    assert sorted(r.seq for r in got) == [0, 1, 2]

    # second drop: delete 2, update 1 — checkpoint resumes past b0
    stage("b1", [
        krow(3, "d", {"id": 2, "v": 2.0}, None),
        krow(4, "u", {"id": 1, "v": 1.5}, {"id": 1, "v": 9.0}),
    ])
    run_cdc_pipeline(spark, str(drop), Settings.for_index(index), ckpt, **kw)
    assert {(r.pk, r.v) for r in spark.read.parquet(index).collect()} == {(1, 9.0)}


def test_normalize_debezium_envelope(spark):
    payload_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    rows = [
        (_dbz("c", None, {"id": 1, "name": "a"}),),
        (_dbz("r", None, {"id": 2, "name": "b"}),),  # snapshot read → create
        (_dbz("u", {"id": 1, "name": "a"}, {"id": 1, "name": "a2"}),),
        (_dbz("d", {"id": 2, "name": "b"}, None),),  # payload from `before`
        (_dbz("x", None, {"id": 9, "name": "z"}),),  # unknown op → dropped (P5)
        (_dbz("c", None, {"id": 3, "name": "other"}, table="other"),),  # routed out (P3)
    ]
    df = spark.createDataFrame(rows, "value string")
    out = normalize_debezium(df, payload_schema, pk="id").collect()
    # the other table's change comes out tagged with its own table:
    # routing is the pipeline's slice, not the normalizer's
    assert [(r.table, r.op, r.pk) for r in out if r.table != "users"] == [
        ("other", "create", 3)]
    out = [r for r in out if r.table == "users"]
    ops = sorted((r.op, r.pk) for r in out)
    assert ops == [("create", 1), ("create", 2), ("delete", 2), ("update", 1)]
    by_op = {(r.op, r.pk): r for r in out}
    assert by_op[("update", 1)].payload.name == "a2"
    assert by_op[("delete", 2)].payload.id == 2  # delete keeps the pk (S11)
    assert all(r.table == "users" for r in out)


def test_normalize_debezium_seq_prefers_log_position(spark):
    """seq must be a total order, not ts_ms (millisecond ties make
    last-wins arbitrary): lsn wins, then pos, then the kafka offset,
    ts_ms only as the last resort."""
    from meilisync_spark.sources.cdc_connectors import debezium_value_schema  # noqa: F401

    payload_schema = T.StructType([T.StructField("id", T.LongType())])

    def dbz(op, after, *, lsn=None, pos=None, ts_ms=1700000000000):
        return json.dumps(
            {"payload": {"op": op, "before": None, "after": after, "ts_ms": ts_ms,
                         "source": {"table": "users", "lsn": lsn, "pos": pos}}}
        )

    # same pk, same millisecond — only the log position orders them
    rows = [
        (dbz("u", {"id": 1}, lsn=100),),
        (dbz("u", {"id": 1}, lsn=200),),
        (dbz("u", {"id": 2}, pos=7),),
        (dbz("u", {"id": 3}),),  # no position fields → ts_ms fallback
    ]
    out = {(r.pk, r.seq) for r in
           normalize_debezium(spark.createDataFrame(rows, "value string"),
                              payload_schema, pk="id").collect()}
    assert (1, 100) in out and (1, 200) in out
    assert (2, 7) in out
    assert (3, 1700000000000) in out

    # a kafka frame (offset column) outranks ts_ms for position-less envelopes
    kafka = spark.createDataFrame(
        [(dbz("u", {"id": 3}), 41), (dbz("u", {"id": 3}), 42)],
        "value string, offset long",
    )
    seqs = sorted(r.seq for r in
                  normalize_debezium(kafka, payload_schema, pk="id").collect())
    assert seqs == [41, 42]


def _mongo_cs(op, *, key="k1", full=None, updated=None, coll="users", t=1700000000, i=1):
    ev = {
        "operationType": op,
        "clusterTime": {"t": t, "i": i},
        "ns": {"db": "app", "coll": coll},
        "documentKey": {"_id": key},
        "fullDocument": full,
    }
    if updated is not None:
        ev["updateDescription"] = {"updatedFields": updated}
    return json.dumps(ev)


def test_normalize_mongo_change_stream_envelope(spark):
    """S6's production normalizer: insert→create(fullDocument),
    update→update(updatedFields — the sparse Q4 payload),
    delete→delete(pk only), other operationTypes dropped, collection
    routing, pk stringified (F4, mongo.py:68)."""
    from meilisync_spark.sources.cdc_connectors import normalize_mongo_change_stream

    payload_schema = T.StructType(
        [T.StructField("name", T.StringType()), T.StructField("age", T.LongType())]
    )
    rows = [
        (_mongo_cs("insert", key="a", full={"name": "x", "age": 30}, i=1),),
        (_mongo_cs("update", key="a", updated={"age": 31}, i=2),),  # sparse: no name
        (_mongo_cs("delete", key="a", i=3),),
        (_mongo_cs("insert", key="b", full={"name": "y", "age": 9}, i=4),),
        (_mongo_cs("drop", key="zz", i=5),),                      # dropped (P5)
        (_mongo_cs("insert", key="c", full={"name": "z", "age": 1},
                   coll="other", i=6),),                          # routed out (P3)
    ]
    df = spark.createDataFrame(rows, "value string")
    out = normalize_mongo_change_stream(df, payload_schema).collect()
    assert [(r.table, r.op, r.pk) for r in out if r.table != "users"] == [
        ("other", "create", "c")]
    out = [r for r in out if r.table == "users"]
    ops = sorted((r.op, r.pk) for r in out)
    assert ops == [("create", "a"), ("create", "b"), ("delete", "a"), ("update", "a")]
    by = {(r.op, r.pk): r for r in out}
    assert by[("create", "a")].payload.name == "x"
    assert by[("update", "a")].payload.age == 31
    assert by[("update", "a")].payload.name is None  # sparse update (Q4)
    assert by[("delete", "a")].payload is None       # delete carries only the pk
    assert all(isinstance(r.pk, str) for r in out)   # F4 stringification
    # clusterTime (t, i) packs into a strictly increasing seq
    seqs = [r.seq for r in sorted(out, key=lambda r: r.seq)]
    assert seqs == sorted(set(seqs))


def test_debezium_feeds_compact_and_apply(spark):
    """The production path composes: Debezium envelope → normalize →
    compact (A5) → MERGE apply — same downstream operators as the file
    source, so transport choice never changes semantics."""
    from pyspark.sql import functions as F

    from meilisync_spark.operators.apply import apply_changes
    from meilisync_spark.operators.compaction import compact_last_wins

    payload_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )

    def dbz(op, before, after, pos):
        return json.dumps(
            {"payload": {"op": op, "before": before, "after": after,
                         "ts_ms": 1700000000000,  # all in the SAME millisecond
                         "source": {"table": "users", "pos": pos}}}
        )

    rows = [
        (dbz("c", None, {"id": 1, "v": "a"}, 1),),
        (dbz("u", None, {"id": 1, "v": "b"}, 2),),
        (dbz("u", None, {"id": 1, "v": "c"}, 3),),   # last-wins needs pos order
        (dbz("c", None, {"id": 2, "v": "x"}, 4),),
        (dbz("d", {"id": 2, "v": "x"}, None, 5),),   # created then deleted
    ]
    ev = normalize_debezium(
        spark.createDataFrame(rows, "value string"), payload_schema, pk="id"
    ).select("pk", "seq", "op", F.col("payload").getField("v").alias("v"))
    base = spark.createDataFrame([(1, "z")], "pk long, v string")
    out = {r.pk: r.v for r in
           apply_changes(base, ev, pk="pk", payload_cols=["v"]).collect()}
    assert out == {1: "c"}  # pos ordered the same-millisecond updates; 2 deleted
    last = compact_last_wins(ev, ["pk"], "seq").where(F.col("pk") == 1).collect()
    assert last[0].v == "c"


def _mxw(typ, data, *, table="users", ts=1700000000, xid=None, position=None):
    ev = {"database": "app", "table": table, "type": typ, "ts": ts,
          "data": data}
    if xid is not None:
        ev["xid"] = xid
    if position is not None:
        ev["position"] = position
    return json.dumps(ev)


def test_normalize_maxwell_envelope(spark):
    """Maxwell daemon messages (the lightweight binlog→JSON bridge):
    insert/bootstrap-insert→create, update→update (full new row in
    `data`), delete→delete (deleted row in `data`, pk consumed);
    DDL/bootstrap markers dropped (P5); routing (P3)."""
    from meilisync_spark.sources.cdc_connectors import normalize_maxwell

    payload_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    rows = [
        (_mxw("insert", {"id": 1, "name": "a"}),),
        (_mxw("bootstrap-insert", {"id": 2, "name": "b"}),),  # snapshot → create
        (_mxw("update", {"id": 1, "name": "a2"}),),
        (_mxw("delete", {"id": 2, "name": "b"}),),
        (_mxw("table-create", None),),                        # DDL → dropped
        (_mxw("bootstrap-start", None),),                     # marker → dropped
        (_mxw("insert", {"id": 3, "name": "x"}, table="other"),),  # routed out
    ]
    df = spark.createDataFrame(rows, "value string")
    out = normalize_maxwell(df, payload_schema, pk="id").collect()
    assert [(r.table, r.op, r.pk) for r in out if r.table != "users"] == [
        ("other", "create", 3)]
    out = [r for r in out if r.table == "users"]
    ops = sorted((r.op, r.pk) for r in out)
    assert ops == [("create", 1), ("create", 2), ("delete", 2), ("update", 1)]
    by_op = {(r.op, r.pk): r for r in out}
    assert by_op[("update", 1)].payload.name == "a2"
    assert all(r.table == "users" for r in out)


def test_normalize_maxwell_seq_prefers_binlog_position(spark):
    """seq: binlog coordinate (file·2^40 + offset, ordering across file
    rolls) beats the kafka offset beats xid beats second-granular ts —
    the offset outranks xid so a partially-positioned stream keeps its
    fallback rows in one monotone domain."""
    from meilisync_spark.sources.cdc_connectors import (
        MAXWELL_POS_FILE_SHIFT,
        normalize_maxwell,
    )

    payload_schema = T.StructType([T.StructField("id", T.LongType())])
    rows = [
        (_mxw("update", {"id": 1}, position="master.000006:800911"),),
        (_mxw("update", {"id": 1}, position="master.000007:5"),),  # file roll
        (_mxw("update", {"id": 2}, xid=9001),),
        (_mxw("update", {"id": 3}),),  # ts fallback
    ]
    out = {(r.pk, r.seq) for r in
           normalize_maxwell(spark.createDataFrame(rows, "value string"),
                             payload_schema, pk="id").collect()}
    assert (1, 6 * MAXWELL_POS_FILE_SHIFT + 800911) in out
    assert (1, 7 * MAXWELL_POS_FILE_SHIFT + 5) in out   # roll sorts above
    assert (2, 9001) in out
    assert (3, 1700000000) in out

    kafka = spark.createDataFrame(
        [(_mxw("update", {"id": 3}), 41)], "value string, offset long"
    )
    assert [r.seq for r in
            normalize_maxwell(kafka, payload_schema, pk="id").collect()] == [41]

    # offset beats xid when both coexist (one monotone fallback domain)
    kafka_xid = spark.createDataFrame(
        [(_mxw("update", {"id": 3}, xid=9001), 42)], "value string, offset long"
    )
    assert [r.seq for r in
            normalize_maxwell(kafka_xid, payload_schema, pk="id").collect()] == [42]

    # an offset past 4 GiB (oversized single-transaction binlog file)
    # must stay inside its own file's seq range
    big = spark.createDataFrame(
        [(_mxw("update", {"id": 1}, position=f"master.000006:{5 * 2**30}"),),
         (_mxw("update", {"id": 1}, position="master.000007:0"),)],
        "value string",
    )
    seqs = sorted(r.seq for r in
                  normalize_maxwell(big, payload_schema, pk="id").collect())
    assert seqs == [6 * MAXWELL_POS_FILE_SHIFT + 5 * 2**30,
                    7 * MAXWELL_POS_FILE_SHIFT]


def _cnl(typ, data, *, table="users", mid=1, es=1700000000000, is_ddl=False):
    return json.dumps(
        {"database": "app", "table": table, "type": typ, "isDdl": is_ddl,
         "id": mid, "es": es, "ts": es + 500, "pkNames": ["id"], "data": data}
    )


def test_normalize_canal_envelope(spark):
    """Canal flat-messages: batched `data` arrays explode to one event
    per row with seq = id·2^20 + pos (in-batch order preserved);
    stringly column values re-typed against the payload schema; DDL
    messages dropped; es (binlog event time) is the event clock."""
    from meilisync_spark.sources.cdc_connectors import CANAL_BATCH_SHIFT, normalize_canal

    payload_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    rows = [
        (_cnl("INSERT", [{"id": "1", "v": "1.5"}, {"id": "2", "v": "2.5"}], mid=10),),
        (_cnl("UPDATE", [{"id": "1", "v": "9.25"}], mid=11),),
        (_cnl("DELETE", [{"id": "2", "v": "2.5"}], mid=12),),
        (_cnl("CREATE", None, mid=13, is_ddl=True),),            # DDL → dropped
        (_cnl("INSERT", [{"id": "7", "v": "0"}], table="other", mid=14),),
    ]
    df = spark.createDataFrame(rows, "value string")
    out = normalize_canal(df, payload_schema, pk="id").collect()
    assert [(r.table, r.op, r.pk) for r in out if r.table != "users"] == [
        ("other", "create", 7)]
    out = [r for r in out if r.table == "users"]
    assert sorted((r.op, r.pk) for r in out) == [
        ("create", 1), ("create", 2), ("delete", 2), ("update", 1)]
    by_seq = {r.seq: r for r in out}
    # batch 10 rows keep array order; typed payload round-trips doubles
    assert by_seq[10 * CANAL_BATCH_SHIFT + 0].payload.v == 1.5
    assert by_seq[10 * CANAL_BATCH_SHIFT + 1].payload.v == 2.5
    assert by_seq[11 * CANAL_BATCH_SHIFT + 0].payload.v == 9.25
    assert all(str(r.ts) == "2023-11-14 22:13:20" for r in out)  # es, not ts


def test_maxwell_and_canal_feed_compact_and_apply(spark):
    """Transport-agnostic contract: both normalizers' output drives the
    same compact→MERGE chain as the native event path, landing on the
    same final state for the same logical history."""
    from meilisync_spark.operators.apply import apply_changes
    from meilisync_spark.operators.compaction import compact_last_wins
    from pyspark.sql import functions as F

    from meilisync_spark.sources.cdc_connectors import normalize_canal, normalize_maxwell

    payload_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    # history: create 1, create 2, update 1, delete 2
    mxw = spark.createDataFrame(
        [(_mxw("insert", {"id": 1, "v": 1.0}, position="m.000001:1"),),
         (_mxw("insert", {"id": 2, "v": 2.0}, position="m.000001:2"),),
         (_mxw("update", {"id": 1, "v": 1.5}, position="m.000001:3"),),
         (_mxw("delete", {"id": 2, "v": 2.0}, position="m.000001:4"),)],
        "value string",
    )
    cnl = spark.createDataFrame(
        [(_cnl("INSERT", [{"id": "1", "v": "1.0"}, {"id": "2", "v": "2.0"}], mid=1),),
         (_cnl("UPDATE", [{"id": "1", "v": "1.5"}], mid=2),),
         (_cnl("DELETE", [{"id": "2", "v": "2.0"}], mid=3),)],
        "value string",
    )
    base = spark.createDataFrame([], "pk long, v double")
    for ev in (normalize_maxwell(mxw, payload_schema, pk="id"),
               normalize_canal(cnl, payload_schema, pk="id")):
        flat = ev.select("seq", "op", "pk", F.col("payload.v").alias("v"))
        state = apply_changes(
            base, compact_last_wins(flat, ["pk"], "seq"), pk="pk", payload_cols=["v"]
        )
        assert {(r.pk, r.v) for r in state.collect()} == {(1, 1.5)}


def _w2j(changes, *, nextlsn="16/B374D848", timestamp="2023-11-14 22:13:20.123456+00"):
    return json.dumps({"change": changes, "nextlsn": nextlsn,
                       "timestamp": timestamp})


def _w2j_row(kind, names, values, *, table="users", types=None):
    return {"kind": kind, "schema": "public", "table": table,
            "columnnames": names,
            "columntypes": types or ["bigint"] * len(names),
            "columnvalues": values}


def test_normalize_wal2json_envelope(spark):
    """wal2json transaction messages: the change array explodes to one
    event per row with seq = (hi·2^32+lo)·2^12 + pos; typed JSON
    columnvalues re-typed against the payload schema; deletes without
    columnvalues fall back to oldkeys (pk only); truncate/message kinds
    dropped; per-change table routing CONTINUES past unconfigured
    tables (reference quirk Q2 deliberately not replicated —
    postgres.py:95-96 returns out of the whole message)."""
    from meilisync_spark.sources.cdc_connectors import (
        WAL2JSON_CHANGE_SHIFT,
        normalize_wal2json,
    )

    payload_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    rows = [
        (_w2j([
            _w2j_row("insert", ["id", "v"], [1, 1.5]),
            _w2j_row("insert", ["id", "v"], [2, 2.5], table="other"),  # routed out, NOT aborting
            _w2j_row("update", ["id", "v"], [1, 9.25]),
            {"kind": "delete", "schema": "public", "table": "users",
             "oldkeys": {"keynames": ["id"], "keytypes": ["bigint"],
                         "keyvalues": [1]}},
            {"kind": "truncate", "schema": "public", "table": "users"},
        ], nextlsn="1/A"),),
        (_w2j([_w2j_row("insert", ["id", "v"], [3, 0.125])], nextlsn="0/10"),),
    ]
    df = spark.createDataFrame(rows, "value string")
    out = normalize_wal2json(df, payload_schema, pk="id").collect()
    lsn1 = (1 << 32) + 10  # "1/A"
    # the other table's change comes out tagged with its own table at
    # its own position; the users changes after it still parse
    assert [(r.table, r.op, r.pk, r.seq) for r in out if r.table != "users"] == [
        ("other", "create", 2, lsn1 * WAL2JSON_CHANGE_SHIFT + 1)]
    out = [r for r in out if r.table == "users"]
    assert sorted((r.op, r.pk) for r in out) == [
        ("create", 1), ("create", 3), ("delete", 1), ("update", 1)]
    by_seq = {r.seq: r for r in out}
    assert by_seq[lsn1 * WAL2JSON_CHANGE_SHIFT + 0].payload.v == 1.5
    # the routed-out change still occupies position 1 — later changes
    # in the same transaction keep their true positions
    assert by_seq[lsn1 * WAL2JSON_CHANGE_SHIFT + 2].payload.v == 9.25
    d = by_seq[lsn1 * WAL2JSON_CHANGE_SHIFT + 3]
    assert d.op == "delete" and d.pk == 1 and d.payload.v is None  # oldkeys pk only
    assert by_seq[16 * WAL2JSON_CHANGE_SHIFT + 0].payload.v == 0.125  # "0/10" = 16
    assert all(str(r.ts) == "2023-11-14 22:13:20.123456" for r in out)


def test_normalize_wal2json_seq_fallbacks(spark):
    """No nextlsn → the kafka offset; no offset either → epoch-micros
    of the commit timestamp. Every fallback is scaled by the change
    shift so intra-transaction positions keep ordering."""
    from meilisync_spark.sources.cdc_connectors import (
        WAL2JSON_CHANGE_SHIFT,
        normalize_wal2json,
    )

    payload_schema = T.StructType([T.StructField("id", T.LongType())])
    msg = json.dumps({
        "change": [_w2j_row("insert", ["id"], [1]),
                   _w2j_row("insert", ["id"], [2])],
        "timestamp": "2023-11-14 22:13:20.000001+00",
    })
    kafka = spark.createDataFrame([(msg, 41)], "value string, offset long")
    seqs = sorted(r.seq for r in
                  normalize_wal2json(kafka, payload_schema, pk="id").collect())
    assert seqs == [41 * WAL2JSON_CHANGE_SHIFT, 41 * WAL2JSON_CHANGE_SHIFT + 1]

    plain = spark.createDataFrame([(msg,)], "value string")
    out = normalize_wal2json(plain, payload_schema, pk="id").collect()
    epoch_us = out[0].seq // WAL2JSON_CHANGE_SHIFT
    assert epoch_us == 1700000000000001


def test_wal2json_feeds_compact_and_apply(spark):
    """Transport-agnostic contract for the reference's own envelope:
    normalize_wal2json output drives the same compact→MERGE chain as
    the native event path (delete arriving with oldkeys only)."""
    from pyspark.sql import functions as F

    from meilisync_spark.operators.apply import apply_changes
    from meilisync_spark.operators.compaction import compact_last_wins
    from meilisync_spark.sources.cdc_connectors import normalize_wal2json

    payload_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    rows = [
        (_w2j([_w2j_row("insert", ["id", "v"], [1, 1.0]),
               _w2j_row("insert", ["id", "v"], [2, 2.0])], nextlsn="0/1"),),
        (_w2j([_w2j_row("update", ["id", "v"], [1, 1.5])], nextlsn="0/2"),),
        (_w2j([{"kind": "delete", "schema": "public", "table": "users",
                "oldkeys": {"keynames": ["id"], "keytypes": ["bigint"],
                            "keyvalues": [2]}}], nextlsn="0/3"),),
    ]
    ev = normalize_wal2json(
        spark.createDataFrame(rows, "value string"), payload_schema, pk="id"
    )
    flat = ev.select("seq", "op", "pk", F.col("payload.v").alias("v"))
    base = spark.createDataFrame([], "pk long, v double")
    state = apply_changes(
        base, compact_last_wins(flat, ["pk"], "seq"), pk="pk", payload_cols=["v"]
    )
    assert {(r.pk, r.v) for r in state.collect()} == {(1, 1.5)}


def test_wal2json_oversize_transaction_fails_loudly(spark):
    """A v1 transaction with a change past position 4095 would alias
    under the lsn*2^12+pos seq pack (tied seqs ⇒ nondeterministic
    last-wins winner), so the normalizer raises instead of clamping —
    wrong final row state must never be silent."""
    import pytest

    from meilisync_spark.sources.cdc_connectors import (
        WAL2JSON_CHANGE_SHIFT,
        normalize_wal2json,
    )

    payload_schema = T.StructType([T.StructField("id", T.LongType())])
    big = _w2j(
        [_w2j_row("insert", ["id"], [i])
         for i in range(WAL2JSON_CHANGE_SHIFT + 1)],
        nextlsn="0/1",
    )
    df = spark.createDataFrame([(big,)], "value string")
    with pytest.raises(Exception, match="position.*4096"):
        normalize_wal2json(df, payload_schema, pk="id").collect()
    # one-under-the-limit parses fine
    ok = _w2j(
        [_w2j_row("insert", ["id"], [i]) for i in range(WAL2JSON_CHANGE_SHIFT)],
        nextlsn="0/1",
    )
    n = normalize_wal2json(
        spark.createDataFrame([(ok,)], "value string"), payload_schema, pk="id"
    ).count()
    assert n == WAL2JSON_CHANGE_SHIFT


def _w2j_v2(action, cols=None, *, identity=None, table="users",
            lsn="0/1", timestamp="2023-11-14 22:13:20.123456+00"):
    msg = {"action": action, "schema": "public", "table": table,
           "lsn": lsn, "timestamp": timestamp}
    if cols is not None:
        msg["columns"] = [
            {"name": n, "type": t, "value": v} for n, t, v in cols
        ]
    if identity is not None:
        msg["identity"] = [
            {"name": n, "type": t, "value": v} for n, t, v in identity
        ]
    return json.dumps(msg)


def test_normalize_wal2json_v2_envelope(spark):
    """Format v2: one message per change; I/U/D → create/update/delete
    with B/C/T dropped; columns[{name,type,value}] re-typed against the
    payload schema; deletes fall back to identity (REPLICA IDENTITY
    pk); seq = lsn·2^12 (same packed domain as v1)."""
    from meilisync_spark.sources.cdc_connectors import (
        WAL2JSON_CHANGE_SHIFT,
        normalize_wal2json,
    )

    payload_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    rows = [
        (_w2j_v2("B"),),  # begin — dropped
        (_w2j_v2("I", [("id", "bigint", 1), ("v", "double precision", 1.5)],
                 lsn="1/A"),),
        (_w2j_v2("U", [("id", "bigint", 1), ("v", "double precision", 9.25)],
                 lsn="1/B"),),
        (_w2j_v2("I", [("id", "bigint", 2), ("v", "double precision", 2.5)],
                 table="other", lsn="1/C"),),  # routed out
        (_w2j_v2("D", identity=[("id", "bigint", 1)], lsn="1/D"),),
        (_w2j_v2("T"),),  # truncate — dropped
        (_w2j_v2("C"),),  # commit — dropped
    ]
    df = spark.createDataFrame(rows, "value string")
    out = normalize_wal2json(df, payload_schema, pk="id").collect()
    assert [(r.table, r.op, r.pk) for r in out if r.table != "users"] == [
        ("other", "create", 2)]
    out = [r for r in out if r.table == "users"]
    assert sorted((r.op, r.pk) for r in out) == [
        ("create", 1), ("delete", 1), ("update", 1)]
    by_seq = {r.seq: r for r in out}
    lsn = lambda lo: ((1 << 32) + lo) * WAL2JSON_CHANGE_SHIFT
    assert by_seq[lsn(0xA)].payload.v == 1.5
    assert by_seq[lsn(0xB)].payload.v == 9.25
    d = by_seq[lsn(0xD)]
    assert d.op == "delete" and d.pk == 1 and d.payload.v is None
    assert all(str(r.ts) == "2023-11-14 22:13:20.123456" for r in out)


def test_wal2json_v2_without_lsn_fails_loudly(spark):
    """v2 without include-lsn has NOTHING to order two changes of one
    transaction (they share the commit timestamp) — the normalizer must
    raise, not silently tie seqs; a Kafka offset column is an accepted
    per-change order and parses fine."""
    import json as _json

    import pytest

    from meilisync_spark.sources.cdc_connectors import (
        WAL2JSON_CHANGE_SHIFT,
        normalize_wal2json,
    )

    payload_schema = T.StructType([T.StructField("id", T.LongType())])
    msg = _json.dumps({
        "action": "I", "schema": "public", "table": "users",
        "columns": [{"name": "id", "type": "bigint", "value": 1}],
        "timestamp": "2023-11-14 22:13:20.123456+00",
    })
    plain = spark.createDataFrame([(msg,)], "value string")
    with pytest.raises(Exception, match="include-lsn"):
        normalize_wal2json(plain, payload_schema, pk="id").collect()
    kafka = spark.createDataFrame([(msg, 41)], "value string, offset long")
    out = normalize_wal2json(kafka, payload_schema, pk="id").collect()
    assert [r.seq for r in out] == [41 * WAL2JSON_CHANGE_SHIFT]


def test_normalize_wal2json_auto_mixed_stream(spark):
    """Per-message format version: a drop dir holding both v1 transaction
    messages and v2 per-change messages normalizes into one stream in
    the shared lsn·2^12 seq domain — a slot upgrade mid-retention needs
    no operator change."""
    from meilisync_spark.sources.cdc_connectors import (
        WAL2JSON_CHANGE_SHIFT,
        normalize_wal2json,
    )

    payload_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    rows = [
        (_w2j([_w2j_row("insert", ["id", "v"], [1, 1.0]),
               _w2j_row("insert", ["id", "v"], [2, 2.0])], nextlsn="0/10"),),
        (_w2j_v2("U", [("id", "bigint", 1), ("v", "double precision", 1.5)],
                 lsn="0/20"),),
        (_w2j_v2("D", identity=[("id", "bigint", 2)], lsn="0/30"),),
    ]
    out = normalize_wal2json(
        spark.createDataFrame(rows, "value string"), payload_schema, pk="id"
    ).collect()
    seqs = sorted(r.seq for r in out)
    assert seqs == [16 * WAL2JSON_CHANGE_SHIFT, 16 * WAL2JSON_CHANGE_SHIFT + 1,
                    32 * WAL2JSON_CHANGE_SHIFT, 48 * WAL2JSON_CHANGE_SHIFT]
    by_seq = {r.seq: r for r in out}
    assert by_seq[32 * WAL2JSON_CHANGE_SHIFT].op == "update"
    assert by_seq[48 * WAL2JSON_CHANGE_SHIFT].op == "delete"


def test_mongo_increment_past_shift_fails_loudly(spark):
    """clusterTime packs as t·2^20 + i, but i is a uint32: (t, 2^20)
    would tie with (t+1, 0) and last-wins would pick an arbitrary
    winner, so an increment ≥ 2^20 fails the batch."""
    from meilisync_spark.sources.cdc_connectors import (
        MONGO_INCREMENT_SHIFT,
        normalize_mongo_change_stream,
    )

    payload_schema = T.StructType([T.StructField("age", T.LongType())])
    t = 1700000000
    tie = spark.createDataFrame(
        [(_mongo_cs("insert", key="a", full={"age": 1}, t=t, i=MONGO_INCREMENT_SHIFT),),
         (_mongo_cs("update", key="a", updated={"age": 2}, t=t + 1, i=0),)],
        "value string",
    )
    with pytest.raises(Exception, match="increment"):
        normalize_mongo_change_stream(tie, payload_schema).collect()
    ok = spark.createDataFrame(
        [(_mongo_cs("insert", key="a", full={"age": 1}, t=t, i=MONGO_INCREMENT_SHIFT - 1),)],
        "value string",
    )
    assert [r.seq for r in normalize_mongo_change_stream(ok, payload_schema).collect()] == [
        t * MONGO_INCREMENT_SHIFT + MONGO_INCREMENT_SHIFT - 1]


_BAD_BATCHES = {
    # format: (normalizer name, unknown-kind line, valid line)
    "debezium": ("normalize_debezium", _dbz("t", None, None),
                 _dbz("c", None, {"id": 5})),
    "maxwell": ("normalize_maxwell", _mxw("table-create", None),
                _mxw("insert", {"id": 5}, position="m.000001:7")),
    "canal": ("normalize_canal", _cnl("ALTER", None, is_ddl=True),
              _cnl("INSERT", [{"id": "5"}])),
    "mongo": ("normalize_mongo_change_stream", _mongo_cs("invalidate"),
              _mongo_cs("insert", key="5", full={"id": 5})),
    "wal2json": ("normalize_wal2json",
                 _w2j([{"kind": "truncate", "schema": "public", "table": "users"}]),
                 _w2j([_w2j_row("insert", ["id"], [5])])),
}


@pytest.mark.parametrize("fmt", sorted(_BAD_BATCHES))
def test_malformed_and_unknown_lines_drop_without_failing_the_batch(spark, fmt):
    """One batch of truncated JSON lines, an unknown-kind line and a
    valid line yields exactly the valid change, and the batch does not
    fail. The truncated lines are every proper prefix of the valid one:
    the parse keeps the fields it read before the error, so some of
    them carry an op without a pk (a maxwell prefix cut after ``type``
    used to come out as a NULL-pk create)."""
    from meilisync_spark.sources import cdc_connectors as cc

    name, unknown, valid = _BAD_BATCHES[fmt]
    payload_schema = T.StructType([T.StructField("id", T.LongType())])
    lines = [valid[:cut] for cut in range(1, len(valid))] + [unknown, valid]
    df = spark.createDataFrame([(x,) for x in lines], "value string")
    out = getattr(cc, name)(df, payload_schema).collect()
    assert [(r.table, r.op, str(r.pk)) for r in out] == [("users", "create", "5")]
