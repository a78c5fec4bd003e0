"""Production source connectors: JDBC snapshots and Kafka/Debezium CDC.

The reference reads MySQL/Postgres/Mongo directly — paginated SELECTs
for snapshots (meilisync/source/mysql.py:35-52, postgres.py:67-87) and
binlog/wal2json/change-stream tailing for increments (mysql.py:81-126,
postgres.py:89-163, mongo.py:49-74). The Spark-native equivalents:

- **Snapshot** → ``spark.read.format("jdbc")`` with a *partitioned*
  scan: ``partitionColumn=pk, lowerBound/upperBound/numPartitions``
  replaces LIMIT/OFFSET pagination (each executor reads one pk range
  concurrently; OFFSET pagination is O(n²) server work and serial).
  The ``fields`` projection happens source-side via ``dbtable`` as a
  subquery — same pushdown the reference builds into its SELECT list.
- **CDC stream** → Kafka topics (``spark.readStream.format("kafka")``)
  or a text drop-dir carrying source envelopes: Debezium, Maxwell,
  Canal, Mongo change streams, wal2json (format v1 or v2).

Every envelope normalizer is one skeleton (:func:`_normalize`), the
same contract as sources/events.py, so everything downstream —
routing, compaction, MERGE apply, streaming shell — is
transport-agnostic:

- ``from_json(value)`` runs once per message, bound to a lambda
  variable (:func:`_bind`); a malformed message yields no change.
- the format's ``build(v, offset)`` returns the message's changes as
  ``array<struct<seq, ts, table, op, pk, payload>>`` — one element for
  a one-change format, one per row for canal and wal2json v1 (numbered
  by ``transform``'s index). ``offset`` is the Kafka offset, the seq
  fallback every format shares; ``op`` comes from an op map
  (:func:`_op_from_map`, P4), NULL for unconsumed kinds;
  ``msg_seq·shift + pos`` packs go through :func:`_pack`, which fails
  the batch instead of tying seqs; stringly rows are re-typed by
  :func:`_typed`.
- one ``inline``, then one ``op IS NOT NULL`` filter (P5). ``table`` is
  each change's source table; routing (P3) is the pipeline's slice.

JDBC drivers and the Kafka jars are not dependencies of this package,
so the builders return (format, options) pairs and ``load()`` is a
thin wrapper the tests don't execute; the normalizers are pure
DataFrame transforms, tested hermetically on literal JSON.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Debezium op → EventType (meilisync/enums.py:4-7). 'r' (snapshot read)
# becomes create, matching the reference's backfill-as-creates
# (meilisync/meili.py:30-32).
DEBEZIUM_OP_MAP: dict[str, str] = {
    "c": "create",
    "r": "create",
    "u": "update",
    "d": "delete",
}


def jdbc_snapshot_options(
    url: str,
    table: str,
    *,
    pk: str = "id",
    fields: dict[str, str | None] | None = None,
    num_partitions: int = 32,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    fetch_size: int = 10_000,
    **extra: str,
) -> tuple[str, dict[str, str]]:
    """Build the (format, options) for a partitioned JDBC snapshot scan.

    ``fields`` is the reference's projection/rename map (P1,
    meilisync/settings.py:44): pushed into the source query exactly as
    the reference builds its SELECT list (source/mysql.py:37-40).
    """
    if fields:
        select = ", ".join(
            f"{src} AS {alias}" if alias else src for src, alias in fields.items()
        )
        dbtable = f"(SELECT {select} FROM {table}) AS t"
    else:
        dbtable = table
    opts: dict[str, str] = {
        "url": url,
        "dbtable": dbtable,
        "fetchsize": str(fetch_size),
        **{k: str(v) for k, v in extra.items()},
    }
    if lower_bound is not None and upper_bound is not None:
        opts.update(
            partitionColumn=pk,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    return "jdbc", opts


def jdbc_snapshot(spark: SparkSession, url: str, table: str, **kw) -> DataFrame:
    fmt, opts = jdbc_snapshot_options(url, table, **kw)
    return spark.read.format(fmt).options(**opts).load()


def kafka_cdc_options(
    brokers: str,
    topics: str,
    *,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> tuple[str, dict[str, str]]:
    """(format, options) for the Kafka CDC stream (S4-S6's production
    transport). ``startingOffsets`` plays the resume-position role (S7);
    after the first run the checkpoint owns progress — exactly the
    reference's stored-progress-else-head rule (mysql.py:99-103)."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topics,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)  # T2 sizing
    return "kafka", opts


def kafka_cdc_stream(spark: SparkSession, brokers: str, topics: str, **kw) -> DataFrame:
    fmt, opts = kafka_cdc_options(brokers, topics, **kw)
    return spark.readStream.format(fmt).options(**opts).load()


# ---------------------------------------------------------------------------
# The envelope skeleton: one path from raw message to normalized change
# ---------------------------------------------------------------------------

_CORRUPT = "_corrupt_record"


def _bind(value: Column, fn) -> Column:
    """``fn(value)`` with ``value`` evaluated once per row: a one-element
    ``transform`` binds it to a lambda variable. Referenced field by
    field instead, Catalyst's per-field schema pruning splits a
    ``from_json`` into one parse per field, and alias substitution
    copies the parse into pushed-down filters
    (plans/r13/maxwell_roundtrip_before.txt)."""
    return F.element_at(F.transform(F.array(value), fn), 1)


def _normalize(df: DataFrame, value_schema: T.StructType, build) -> DataFrame:
    """The one envelope path: parse ``value`` once, ``build(v, offset)``
    the message's changes, ``inline`` them, drop unconsumed kinds (P5).
    ``offset`` is the Kafka partition offset when the frame has one,
    else a NULL literal that the optimizer folds out of the seq
    ``coalesce``. A malformed message yields no change: the parse keeps
    the fields it read before the error (a truncated line would carry
    its op without its pk), so the corrupt-record marker drops it."""
    offset = F.col("offset") if "offset" in df.columns else F.lit(None).cast("long")
    schema = T.StructType(value_schema.fields + [T.StructField(_CORRUPT, T.StringType())])
    parsed = F.from_json(F.col("value").cast("string"), schema,
                         {"columnNameOfCorruptRecord": _CORRUPT})
    changes = _bind(parsed, lambda v: F.when(
        v.getField(_CORRUPT).isNull(), build(v, offset)))
    return df.select(F.inline(changes)).where(F.col("op").isNotNull())


def _change(seq: Column, ts: Column, table: Column, op: Column, pk: Column,
            payload: Column) -> Column:
    """One normalized change; NULL for an unconsumed kind, so its seq
    pack and payload never evaluate (and never raise)."""
    return F.when(op.isNotNull(), F.struct(
        seq.alias("seq"), ts.alias("ts"), table.alias("table"), op.alias("op"),
        pk.alias("pk"), payload.alias("payload")))


def _op_from_map(op_src: Column, mapping: dict[str, str]) -> Column:
    """Source op token → EventType via a when-fold (NULL for anything
    not in the map — the P5 kind filter)."""
    op: Column = F.lit(None).cast("string")
    for src, dst in reversed(list(mapping.items())):
        op = F.when(op_src == src, F.lit(dst)).otherwise(op)
    return op


def _pack(msg_seq: Column, pos: Column, shift: int, what: str) -> Column:
    """``msg_seq·shift + pos``, failing the batch when ``pos ≥ shift``:
    the position would alias into the next message's range, and tied
    seqs make last-wins compaction (A5) pick an arbitrary winner."""
    checked = F.when(pos < shift, pos).otherwise(F.raise_error(F.format_string(
        f"{what} %s >= {shift}: the seq pack cannot totally order it",
        pos.cast("string"))).cast("long"))
    return msg_seq * F.lit(shift) + checked


def _typed(row_map: Column, payload_schema: T.StructType, fn) -> Column:
    """``fn(payload)`` for a stringly ``map<string,string>`` row (canal,
    wal2json): the map is bound once and each field of
    ``payload_schema`` cast out of it — Catalyst casts, per row, no
    UDF."""
    return _bind(row_map, lambda m: fn(F.struct(*[
        F.element_at(m, f.name).cast(f.dataType).alias(f.name)
        for f in payload_schema.fields])))


def debezium_value_schema(payload_schema: T.StructType) -> T.StructType:
    """Schema of a Debezium message value for a table whose row type is
    ``payload_schema``. ``source.lsn`` (postgres) / ``source.pos``
    (mysql binlog) are the connector's total-order position fields —
    absent fields simply decode as NULL, so one schema serves both."""
    return T.StructType(
        [
            T.StructField(
                "payload",
                T.StructType(
                    [
                        T.StructField("op", T.StringType()),
                        T.StructField("before", payload_schema),
                        T.StructField("after", payload_schema),
                        T.StructField("ts_ms", T.LongType()),
                        T.StructField(
                            "source",
                            T.StructType(
                                [
                                    T.StructField("table", T.StringType()),
                                    T.StructField("lsn", T.LongType()),
                                    T.StructField("pos", T.LongType()),
                                ]
                            ),
                        ),
                    ]
                ),
            )
        ]
    )


def normalize_debezium(
    df: DataFrame,
    payload_schema: T.StructType,
    *,
    pk: str = "id",
) -> DataFrame:
    """Kafka Debezium envelope → the normalized change frame.

    - op (P4): c/r/u/d → create/update/delete; unknown kinds dropped
      (P5) and the engine continues past them (reference quirk Q2,
      postgres.py:96-98, deliberately not replicated).
    - payload: ``after`` for create/update, ``before`` for delete (the
      delete path only needs the pk — meilisync/meili.py:136-137).
    - ``table``: ``source.table``.
    - ``seq``: postgres ``source.lsn``, else mysql ``source.pos``, else
      the Kafka offset (Debezium keys messages by pk, so a pk's events
      share a partition), else ``ts_ms`` — millisecond-granular and not
      unique per pk, so only a last resort.
    """
    def build(v, offset):
        p = v.getField("payload")
        src, op_src = p.getField("source"), p.getField("op")
        payload = F.when(op_src == "d", p.getField("before")).otherwise(p.getField("after"))
        return F.array(_change(
            F.coalesce(src.getField("lsn"), src.getField("pos"), offset, p.getField("ts_ms")),
            F.timestamp_millis(p.getField("ts_ms")), src.getField("table"),
            _op_from_map(op_src, DEBEZIUM_OP_MAP), payload.getField(pk), payload))

    return _normalize(df, debezium_value_schema(payload_schema), build)


# Mongo change-stream operationType → EventType: exactly the three ops
# the reference's $match pipeline admits (meilisync/source/mongo.py:44-50)
MONGO_OP_MAP: dict[str, str] = {
    "insert": "create",
    "update": "update",
    "delete": "delete",
}

# clusterTime packs as t·2^20 + i; the increment i is a uint32, so a
# second with ≥ 2^20 operations fails the batch rather than tie seqs
MONGO_INCREMENT_SHIFT = 1 << 20


def mongo_change_stream_schema(payload_schema: T.StructType) -> T.StructType:
    """Schema of a MongoDB change-stream event document (the shape the
    reference's ``db.watch`` yields, meilisync/source/mongo.py:55-74).
    ``updateDescription.updatedFields`` reuses ``payload_schema`` —
    absent fields decode as NULL, which is exactly the sparse-update
    payload the partial MERGE expects (Q4/S10)."""
    return T.StructType(
        [
            T.StructField("operationType", T.StringType()),
            T.StructField(
                "clusterTime", T.StructType([T.StructField("t", T.LongType()),
                                             T.StructField("i", T.LongType())])
            ),
            T.StructField(
                "ns",
                T.StructType(
                    [T.StructField("db", T.StringType()),
                     T.StructField("coll", T.StringType())]
                ),
            ),
            T.StructField(
                "documentKey", T.StructType([T.StructField("_id", T.StringType())])
            ),
            T.StructField("fullDocument", payload_schema),
            T.StructField(
                "updateDescription",
                T.StructType([T.StructField("updatedFields", payload_schema)]),
            ),
        ]
    )


def normalize_mongo_change_stream(
    df: DataFrame,
    payload_schema: T.StructType,
) -> DataFrame:
    """Mongo change-stream envelope → the normalized change frame
    (reference meilisync/source/mongo.py:55-74).

    - op (P4): insert/update/delete; other operationTypes (drop,
      rename, invalidate) dropped, as the reference's ``$match`` does
      server-side (mongo.py:44).
    - payload: ``fullDocument`` for insert,
      ``updateDescription.updatedFields`` for update (the sparse Q4
      payload, mongo.py:62-64), NULL for delete (only the pk,
      mongo.py:65-67).
    - pk: ``documentKey._id`` stringified on every op (F4, mongo.py:68).
    - ``table``: ``ns.coll``.
    - ``seq``: clusterTime ``t·2^20 + i`` (raising when ``i ≥ 2^20``),
      else the Kafka offset.
    """
    def build(v, offset):
        ct, op_src = v.getField("clusterTime"), v.getField("operationType")
        payload = F.when(
            op_src == "update", v.getField("updateDescription").getField("updatedFields")
        ).when(op_src == "insert", v.getField("fullDocument"))
        return F.array(_change(
            F.coalesce(_pack(ct.getField("t"), F.coalesce(ct.getField("i"), F.lit(0)),
                             MONGO_INCREMENT_SHIFT, "mongo clusterTime increment"),
                       offset),
            F.timestamp_seconds(ct.getField("t")), v.getField("ns").getField("coll"),
            _op_from_map(op_src, MONGO_OP_MAP),
            v.getField("documentKey").getField("_id").cast("string"), payload))

    return _normalize(df, mongo_change_stream_schema(payload_schema), build)


# Maxwell type → EventType. bootstrap-insert is Maxwell's snapshot
# phase — creates, same as Debezium 'r' / the reference's
# backfill-as-creates (meilisync/meili.py:30-32).
MAXWELL_OP_MAP: dict[str, str] = {
    "insert": "create",
    "bootstrap-insert": "create",
    "update": "update",
    "delete": "delete",
}

# Binlog offsets are normally < max_binlog_size (capped at 1 GiB), but a
# single transaction larger than the cap is written whole, so one file
# can exceed 4 GiB and a 2^32 shift would collide its tail into the next
# file's seq range. 2^40 (1 TiB per file) leaves 2^23 file numbers of
# headroom in int64 — far past mysql's 6-digit binlog numbering.
MAXWELL_POS_FILE_SHIFT = 1 << 40


def maxwell_value_schema(payload_schema: T.StructType) -> T.StructType:
    """Schema of a Maxwell daemon message (one JSON object per row
    change): ``data`` is the full new row (insert/update) or the
    deleted row (delete); ``old`` carries the prior values of changed
    columns on update; ``position`` is the binlog coordinate string
    ``file.NNNNNN:offset``."""
    return T.StructType(
        [
            T.StructField("database", T.StringType()),
            T.StructField("table", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("ts", T.LongType()),  # epoch seconds
            T.StructField("xid", T.LongType()),
            T.StructField("commit", T.BooleanType()),
            T.StructField("position", T.StringType()),
            T.StructField("data", payload_schema),
            T.StructField("old", payload_schema),
        ]
    )


def normalize_maxwell(
    df: DataFrame,
    payload_schema: T.StructType,
    *,
    pk: str = "id",
) -> DataFrame:
    """Maxwell envelope (the mysql binlog → JSON daemon; the reference
    reads the binlog itself, meilisync/source/mysql.py:81-126) → the
    normalized change frame.

    - op (P4): insert/bootstrap-insert/update/delete; other types
      (``table-create`` DDL, ``bootstrap-start/complete`` markers)
      dropped (P5).
    - payload: ``data`` on every kind (a delete carries the deleted
      row; only its pk is consumed, meilisync/meili.py:136-137).
    - ``seq``: the binlog coordinate parsed from ``position`` as
      ``file_number·2^40 + offset``, else the Kafka offset, else
      ``xid``, else second-granular ``ts``. The offset outranks xid so
      a topic where only some messages carry ``position`` keeps its
      fallback rows in one monotone domain; positioned and
      unpositioned rows still order coherently only within their own
      domain, so a deployment should be homogeneous.
    """
    def build(v, offset):
        pos = v.getField("position")
        file_num = F.regexp_extract(pos, r"\.(\d+):", 1)
        file_off = F.regexp_extract(pos, r":(\d+)$", 1)
        pos_seq = F.when((file_num != "") & (file_off != ""), _pack(
            file_num.cast("long"), file_off.cast("long"), MAXWELL_POS_FILE_SHIFT,
            "maxwell binlog offset"))
        data = v.getField("data")
        return F.array(_change(
            F.coalesce(pos_seq, offset, v.getField("xid"), v.getField("ts")),
            F.timestamp_seconds(v.getField("ts")), v.getField("table"),
            _op_from_map(v.getField("type"), MAXWELL_OP_MAP), data.getField(pk), data))

    return _normalize(df, maxwell_value_schema(payload_schema), build)


# Canal flat-message type → EventType (type is uppercase in canal-json)
CANAL_OP_MAP: dict[str, str] = {
    "INSERT": "create",
    "UPDATE": "update",
    "DELETE": "delete",
}

CANAL_BATCH_SHIFT = 1 << 20  # rows per canal batch message bound


def canal_value_schema() -> T.StructType:
    """Schema of a Canal flat-message (canal-json, the Alibaba
    binlog bridge's Kafka format, also consumed by Flink CDC):
    ``data`` is an ARRAY of row objects — Canal batches multiple rows
    of one statement into a single message — and every column value is
    rendered as a STRING (``mysqlType``/``sqlType`` carry the type
    info), so rows decode as ``map<string,string>`` and are re-typed
    against the caller's payload schema."""
    row = T.MapType(T.StringType(), T.StringType())
    return T.StructType(
        [
            T.StructField("database", T.StringType()),
            T.StructField("table", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("isDdl", T.BooleanType()),
            T.StructField("id", T.LongType()),  # monotone batch id
            T.StructField("es", T.LongType()),  # binlog event time, ms
            T.StructField("ts", T.LongType()),  # daemon processing time, ms
            T.StructField("pkNames", T.ArrayType(T.StringType())),
            T.StructField("data", T.ArrayType(row)),
            T.StructField("old", T.ArrayType(row)),
        ]
    )


def normalize_canal(
    df: DataFrame,
    payload_schema: T.StructType,
    *,
    pk: str = "id",
) -> DataFrame:
    """Canal flat-message envelope → the normalized change frame.

    - batched rows: one message carries an array of rows; row ``i``
      gets ``seq = id·2^20 + i`` (the Kafka offset replaces a missing
      ``id``), raising when a message holds ≥ 2^20 rows.
    - stringly values: every column value is a string, re-typed
      against ``payload_schema``.
    - op (P4): INSERT/UPDATE/DELETE; DDL messages (``isDdl``) and other
      types dropped (P5).
    - ``ts``: ``es``, the binlog event time — ``ts`` is the daemon's
      processing time, the wrong clock for event time (T6).
    """
    def build(v, offset):
        op = F.when(~F.coalesce(v.getField("isDdl"), F.lit(False)),
                    _op_from_map(v.getField("type"), CANAL_OP_MAP))
        msg_seq = F.coalesce(v.getField("id"), offset)
        return F.transform(v.getField("data"), lambda row, i: _typed(
            row, payload_schema, lambda p: _change(
                _pack(msg_seq, i, CANAL_BATCH_SHIFT, "canal message has a row at position"),
                F.timestamp_millis(v.getField("es")), v.getField("table"), op,
                p.getField(pk), p)))

    return _normalize(df, canal_value_schema(), build)


# wal2json change kind → EventType: exactly the three kinds the
# reference's _consumer admits (meilisync/source/postgres.py:104-119);
# other kinds ("message" logical decodings, "truncate") are dropped.
# Format version 2 names them I/U/D and adds B (begin), C (commit),
# T (truncate) and M (message) records, all dropped alike.
WAL2JSON_OP_MAP: dict[str, str] = {
    "insert": "create",
    "update": "update",
    "delete": "delete",
}
WAL2JSON_V2_OP_MAP: dict[str, str] = {
    "I": "create",
    "U": "update",
    "D": "delete",
}

# Intra-transaction ordering: one wal2json v1 message carries a whole
# transaction's change array and one nextlsn, so the change's array
# position joins the LSN in the total order. 2^12 positions leaves
# 2^51 bytes (~2 PiB) of WAL-lifetime headroom in int64. v1 has NO
# message size cap, so a change past position 4095 fails the batch
# (see _pack); v2 (one message per change, its own lsn each) never
# hits this.
WAL2JSON_CHANGE_SHIFT = 1 << 12
_LSN_LO_MOD = 1 << 32  # lsn = hi·2^32 + lo, both hex in "HI/LO"


def _lsn_to_long(lsn: Column) -> Column:
    """Postgres "HI/LO" hex LSN → ``hi·2^32 + lo`` (NULL when the
    string doesn't parse)."""
    hi = F.regexp_extract(lsn, r"^([0-9A-Fa-f]+)/", 1)
    lo = F.regexp_extract(lsn, r"/([0-9A-Fa-f]+)$", 1)
    return F.when(
        (hi != "") & (lo != ""),
        F.conv(hi, 16, 10).cast("long") * F.lit(_LSN_LO_MOD)
        + F.conv(lo, 16, 10).cast("long"),
    )


def wal2json_value_schema() -> T.StructType:
    """Schema of a wal2json message of either format version — the
    union of both, so one parse reads a mixed stream.

    Version 1 (the reference's replication consumer,
    meilisync/source/postgres.py:89-121): one object per transaction
    with a ``change`` array; each change carries parallel
    ``columnnames``/``columntypes``/``columnvalues`` arrays, deletes
    carry ``oldkeys`` instead (REPLICA IDENTITY columns); ``nextlsn``
    and ``timestamp`` come with the ``include-lsn`` /
    ``include-timestamp`` options. Version 2: one object per change —
    ``action`` one-letter kind, ``columns`` / ``identity`` as arrays of
    ``{name, type, value}``, per-change ``lsn`` / ``timestamp``.

    Values are heterogeneous typed JSON (numbers unquoted), decoded as
    strings (Spark renders each scalar token as its string form;
    doubles round-trip bit-exactly through the later cast) and re-typed
    against the caller's payload schema."""
    s = T.StringType()
    strings = T.ArrayType(s)
    keys = T.StructType([T.StructField(n, strings)
                         for n in ("keynames", "keytypes", "keyvalues")])
    change = T.StructType(
        [T.StructField(n, s) for n in ("kind", "schema", "table")]
        + [T.StructField(n, strings)
           for n in ("columnnames", "columntypes", "columnvalues")]
        + [T.StructField("oldkeys", keys)]
    )
    col = T.ArrayType(T.StructType([T.StructField(n, s) for n in ("name", "type", "value")]))
    return T.StructType(
        [T.StructField("change", T.ArrayType(change))]
        + [T.StructField(n, s)
           for n in ("nextlsn", "timestamp", "action", "schema", "table", "lsn")]
        + [T.StructField("columns", col), T.StructField("identity", col)]
    )


def normalize_wal2json(
    df: DataFrame,
    payload_schema: T.StructType,
    *,
    pk: str = "id",
) -> DataFrame:
    """Raw wal2json envelope, format version 1 or 2 per message (a
    message without ``action`` is v1) → the normalized change frame —
    the reference's own Postgres transport
    (meilisync/source/postgres.py:100-121) without Debezium in between.

    - op (P4): insert/update/delete (v2: I/U/D); other kinds dropped
      (P5). The reference ``return``s out of the whole message at an
      unconfigured table, discarding the rest of the transaction (quirk
      Q2, postgres.py:95-96); here every change comes out tagged with
      its own ``table`` — deliberately not replicated.
    - payload: column names and values zipped into a map and re-typed
      against ``payload_schema``; a delete without values falls back to
      its REPLICA IDENTITY columns (v1 ``oldkeys``, v2 ``identity``) —
      every key column, where the reference keeps the first
      (postgres.py:108-112). ``json`` columns stay JSON strings (the
      reference ``json.loads``es them, postgres.py:101-103).
    - ``seq``, one domain for both versions: a v1 change at position
      ``i`` of its transaction is ``nextlsn·2^12 + i`` (nextlsn's
      ``HI/LO`` hex as ``hi·2^32 + lo``, the reference's resume
      position, postgres.py:117), falling back to the Kafka offset,
      then epoch-micros of ``timestamp``; a v2 change is ``lsn·2^12``,
      falling back to the Kafka offset, else failing the batch — v2
      changes of one transaction share the commit timestamp, so it
      cannot order them.
    - ``ts``: ``timestamp``, with microseconds and zone offset.
    """
    def change(seq, ts, table, op, row_map):
        return _typed(row_map, payload_schema,
                      lambda p: _change(seq, ts, table, op, p.getField(pk), p))

    def as_map(cols):
        return F.map_from_arrays(F.transform(cols, lambda c: c.getField("name")),
                                 F.transform(cols, lambda c: c.getField("value")))

    def build(v, offset):
        ts = v.getField("timestamp").cast("timestamp")
        v1_seq = F.coalesce(_lsn_to_long(v.getField("nextlsn")), offset, F.unix_micros(ts))
        v1 = F.transform(v.getField("change"), lambda c, i: change(
            _pack(v1_seq, i, WAL2JSON_CHANGE_SHIFT,
                  "wal2json transaction (split it with write-in-chunks, or use "
                  "format version 2) has a change at position"),
            ts, c.getField("table"), _op_from_map(c.getField("kind"), WAL2JSON_OP_MAP),
            F.when(F.size(c.getField("columnvalues")) > 0, F.map_from_arrays(
                c.getField("columnnames"), c.getField("columnvalues"))
            ).otherwise(F.map_from_arrays(c.getField("oldkeys").getField("keynames"),
                                          c.getField("oldkeys").getField("keyvalues")))))
        v2_seq = F.coalesce(_lsn_to_long(v.getField("lsn")), offset, F.raise_error(F.lit(
            "wal2json v2 message carries no lsn and the frame has no Kafka offset: "
            "the commit timestamp cannot order the changes of one transaction. "
            "Enable include-lsn on the replication slot, or consume through Kafka."
        )).cast("long"))
        v2 = F.array(change(
            v2_seq * F.lit(WAL2JSON_CHANGE_SHIFT), ts, v.getField("table"),
            _op_from_map(v.getField("action"), WAL2JSON_V2_OP_MAP),
            F.when(F.size(v.getField("columns")) > 0, as_map(v.getField("columns")))
            .otherwise(as_map(v.getField("identity")))))
        return F.when(v.getField("action").isNull(), v1).otherwise(v2)

    return _normalize(df, wal2json_value_schema(), build)


# ---------------------------------------------------------------------------
# Driver-checkable envelope roundtrips: the fixture's events table is
# rendered into REAL Maxwell / Canal / wal2json envelopes in-engine,
# pushed through the normalizers, and the oracle computes the expected
# normalized rows directly from the source columns — so the JSON
# construction+parse path (the part a unit test could fake) is what the
# cross-engine hash actually certifies.
# ---------------------------------------------------------------------------

_RT_PAYLOAD = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("k", T.LongType()),
    ]
)
_RT_OPS = {"signup": "insert", "purchase": "update", "click": "update",
           "error": "delete"}
_RT_SQL_OP = ("CASE event_type WHEN 'signup' THEN 'create' "
              "WHEN 'purchase' THEN 'update' WHEN 'click' THEN 'update' "
              "WHEN 'error' THEN 'delete' END")
MAXWELL_RT_FILE_ROWS = 1_000_000  # events per synthetic binlog file


def _rt_source(events: DataFrame) -> DataFrame:
    from meilisync_spark.sources.events import PROPS_SCHEMA
    from meilisync_spark.sources.parquet import spread

    # spread: the render+parse pipeline is CPU-dense row-local work
    # (two JSON codecs per row) and maxwell's path has NO shuffle of its
    # own — without this a one-row-group fixture file runs the whole
    # roundtrip on a single core
    return spread(events).where(F.col("event_type").isin(*_RT_OPS)).select(
        "event_id",
        "ts",
        "user_id",
        "value",
        F.from_json(F.col("props"), PROPS_SCHEMA).getField("k").alias("k"),
        "event_type",
    )


def maxwell_roundtrip(events: DataFrame) -> DataFrame:
    """(seq, ts, table, op, pk, value, k) — events rendered as Maxwell
    envelopes (type map, epoch-second ts, a synthetic binlog coordinate
    ``master.%06d:offset`` rolling every 1M events) and normalized back
    via :func:`normalize_maxwell`. The parsed seq must reconstruct the
    file·2^40+offset coordinate and the doubles must round-trip through
    JSON bit-exactly (Jackson shortest-repr)."""
    src = _rt_source(events)
    env = src.select(
        F.to_json(
            F.struct(
                F.lit("app").alias("database"),
                F.lit("users").alias("table"),
                _op_from_map(F.col("event_type"), _RT_OPS).alias("type"),
                F.unix_timestamp("ts").alias("ts"),
                F.col("event_id").alias("xid"),
                F.format_string(
                    "master.%06d:%d",
                    (F.lit(1) + F.floor(
                        F.col("event_id") / F.lit(MAXWELL_RT_FILE_ROWS)
                    )).cast("long"),
                    F.col("event_id") % MAXWELL_RT_FILE_ROWS,
                ).alias("position"),
                F.struct("user_id", "value", "k").alias("data"),
            )
        ).alias("value")
    )
    out = normalize_maxwell(env, _RT_PAYLOAD, pk="user_id")
    return out.select(
        "seq", "ts", "table", "op", "pk",
        F.col("payload").getField("value").alias("value"),
        F.col("payload").getField("k").alias("k"),
    )


def maxwell_roundtrip_oracle_sql() -> str:
    return f"""
    SELECT (1 + event_id // {MAXWELL_RT_FILE_ROWS}) * {MAXWELL_POS_FILE_SHIFT}
               + (event_id % {MAXWELL_RT_FILE_ROWS}) AS seq,
           make_timestamp(CAST(floor(epoch(ts)) AS BIGINT) * 1000000) AS ts,
           'users' AS "table",
           {_RT_SQL_OP} AS op,
           user_id AS pk,
           value,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE event_type IN ('signup', 'purchase', 'click', 'error')
    """


CANAL_RT_BATCH = 4  # events per synthetic statement batch


def canal_roundtrip(events: DataFrame) -> DataFrame:
    """(seq, ts, table, op, pk, value, k) — events grouped into Canal
    flat-messages (rows of one op kind batched ``CANAL_RT_BATCH`` at a
    time into the ``data`` array, values rendered as strings the way
    canal-json does, message id = the batch's min event_id, ``es`` =
    the first row's event time) and normalized back via
    :func:`normalize_canal`. Exercises the per-row seq pack
    (id·2^20+pos), the stringly-value re-typing, and the es-vs-ts clock
    choice — end to end against an oracle computed straight from the
    source columns."""
    src = _rt_source(events)
    grouped = (
        src.withColumn("_batch", (F.col("event_id") / CANAL_RT_BATCH).cast("long"))
        # batch key is the RAW source op: a statement's rows share one
        # op kind, and purchase/click are distinct statements even
        # though both normalize to update
        .groupBy("event_type", "_batch")
        .agg(
            F.min("event_id").alias("_mid"),
            F.unix_millis(F.min_by("ts", "event_id")).alias("_es"),
            F.array_sort(
                F.collect_list(F.struct("event_id", "user_id", "value", "k"))
            ).alias("_rows"),
        )
    )
    # AQE coalesces the small batching shuffle to a few partitions by
    # BYTES, but the stage after it runs two JSON codecs per row —
    # CPU-dense work byte-sizing can't see. Fan the grouped frame back
    # out so render+parse use the full core count.
    grouped = grouped.repartition(
        grouped.sparkSession.sparkContext.defaultParallelism
    )
    canal_ops = {evt: typ.upper() for evt, typ in _RT_OPS.items()}
    env = grouped.withColumn(
        "_ctype", _op_from_map(F.col("event_type"), canal_ops)
    ).select(
        F.to_json(
            F.struct(
                F.lit("app").alias("database"),
                F.lit("users").alias("table"),
                F.col("_ctype").alias("type"),
                F.lit(False).alias("isDdl"),
                F.col("_mid").alias("id"),
                F.col("_es").alias("es"),
                (F.col("_es") + F.lit(500)).alias("ts"),
                F.array(F.lit("user_id")).alias("pkNames"),
                F.transform(
                    "_rows",
                    lambda r: F.struct(
                        r.getField("user_id").cast("string").alias("user_id"),
                        r.getField("value").cast("string").alias("value"),
                        r.getField("k").cast("string").alias("k"),
                    ),
                ).alias("data"),
            )
        ).alias("value")
    )
    out = normalize_canal(env, _RT_PAYLOAD, pk="user_id")
    return out.select(
        "seq", "ts", "table", "op", "pk",
        F.col("payload").getField("value").alias("value"),
        F.col("payload").getField("k").alias("k"),
    )


def canal_roundtrip_oracle_sql() -> str:
    return f"""
    WITH f AS (
        SELECT event_id, ts, user_id, value,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k,
               event_type
        FROM events
        WHERE event_type IN ('signup', 'purchase', 'click', 'error')
    ),
    w AS (
        SELECT *,
               min(event_id) OVER win AS mid,
               row_number() OVER (PARTITION BY event_type,
                                  event_id // {CANAL_RT_BATCH}
                                  ORDER BY event_id) - 1 AS pos,
               arg_min(ts, event_id) OVER win AS ts0
        FROM f
        WINDOW win AS (PARTITION BY event_type, event_id // {CANAL_RT_BATCH})
    )
    SELECT mid * {CANAL_BATCH_SHIFT} + pos AS seq,
           make_timestamp(epoch_ms(ts0) * 1000) AS ts,
           'users' AS "table",
           {_RT_SQL_OP} AS op,
           user_id AS pk,
           value,
           k
    FROM w
    """


WAL2JSON_RT_BATCH = 4  # events per synthetic transaction message


def wal2json_roundtrip(events: DataFrame) -> DataFrame:
    """(seq, ts, table, op, pk, value, k) — events grouped into
    wal2json transaction messages (rows of one kind batched
    ``WAL2JSON_RT_BATCH`` at a time into the ``change`` array, typed
    JSON columnvalues built verbatim — numbers unquoted, exactly what
    the plugin emits — ``nextlsn`` rendered in its ``HI/LO`` hex form
    from the batch's min event_id, ``timestamp`` with full microsecond
    precision) and normalized back via :func:`normalize_wal2json`.
    Deletes carry ONLY ``oldkeys`` (the REPLICA IDENTITY pk, the shape
    the reference's delete branch handles, postgres.py:108-112), so
    their non-pk payload fields come back NULL. Exercises the hex LSN
    parse + lsn·2^12+pos seq pack, the typed-value re-typing, the
    oldkeys fallback, and the microsecond timestamp cast — end to end
    against an oracle computed straight from the source columns."""
    src = _rt_source(events)
    env = _w2j_v1_envelopes(src)
    out = normalize_wal2json(env, _RT_PAYLOAD, pk="user_id")
    return out.select(
        "seq", "ts", "table", "op", "pk",
        F.col("payload").getField("value").alias("value"),
        F.col("payload").getField("k").alias("k"),
    )


def _w2j_num(c: Column) -> Column:
    # typed JSON values: numbers render unquoted; SQL NULL → null
    return F.coalesce(c.cast("string"), F.lit("null"))


def _w2j_v1_envelopes(src: DataFrame) -> DataFrame:
    """Render roundtrip-source rows as wal2json v1 transaction messages
    (``WAL2JSON_RT_BATCH`` changes per message; see
    :func:`wal2json_roundtrip` for the shape rationale)."""
    grouped = (
        src.withColumn("_batch", (F.col("event_id") / WAL2JSON_RT_BATCH).cast("long"))
        # batch key is the RAW source op (one statement = one kind),
        # same reasoning as canal_roundtrip
        .groupBy("event_type", "_batch")
        .agg(
            F.min("event_id").alias("_mid"),
            F.min_by("ts", "event_id").alias("_ts0"),
            F.array_sort(
                F.collect_list(F.struct("event_id", "user_id", "value", "k"))
            ).alias("_rows"),
        )
        .withColumn("_kind", _op_from_map(F.col("event_type"), _RT_OPS))
    )

    # same CPU-density fan-out as canal_roundtrip: the render below is
    # string building per row, the parse two JSON codecs — AQE's
    # byte-based coalesce would run both on a handful of cores
    grouped = grouped.repartition(
        grouped.sparkSession.sparkContext.defaultParallelism
    )

    _num = _w2j_num

    def _render(r: Column) -> Column:
        row_change = F.format_string(
            '{"kind":"%s","schema":"public","table":"users",'
            '"columnnames":["user_id","value","k"],'
            '"columntypes":["bigint","double precision","bigint"],'
            '"columnvalues":[%s,%s,%s]}',
            F.col("_kind"),
            _num(r.getField("user_id")),
            _num(r.getField("value")),
            _num(r.getField("k")),
        )
        del_change = F.format_string(
            '{"kind":"delete","schema":"public","table":"users",'
            '"oldkeys":{"keynames":["user_id"],"keytypes":["bigint"],'
            '"keyvalues":[%s]}}',
            _num(r.getField("user_id")),
        )
        return F.when(F.col("_kind") == "delete", del_change).otherwise(row_change)

    return grouped.select(
        F.concat(
            F.lit('{"change":['),
            F.array_join(F.transform("_rows", _render), ","),
            F.lit('],"nextlsn":"'),
            F.format_string(
                "%X/%X",
                F.floor(F.col("_mid") / F.lit(_LSN_LO_MOD)).cast("long"),
                F.col("_mid") % F.lit(_LSN_LO_MOD),
            ),
            F.lit('","timestamp":"'),
            F.date_format("_ts0", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
            F.lit('+00"}'),
        ).alias("value")
    )


def _w2j_v2_envelopes(src: DataFrame) -> DataFrame:
    """Render roundtrip-source rows as wal2json format-version-2
    messages: one JSON object per change, ``columns`` as
    ``{name,type,value}`` objects, deletes carrying only ``identity``
    (REPLICA IDENTITY pk), per-change ``lsn`` = the event_id in HI/LO
    hex and full-microsecond ``timestamp``."""
    _num = _w2j_num
    lsn = F.format_string(
        "%X/%X",
        F.floor(F.col("event_id") / F.lit(_LSN_LO_MOD)).cast("long"),
        F.col("event_id") % F.lit(_LSN_LO_MOD),
    )
    tail = F.concat(
        F.lit('"lsn":"'), lsn, F.lit('","timestamp":"'),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"), F.lit('+00"}'),
    )
    row_msg = F.concat(
        F.format_string(
            '{"action":"%s","schema":"public","table":"users",'
            '"columns":[{"name":"user_id","type":"bigint","value":%s},'
            '{"name":"value","type":"double precision","value":%s},'
            '{"name":"k","type":"bigint","value":%s}],',
            F.upper(F.substring(F.col("_kind"), 1, 1)),
            _num(F.col("user_id")),
            _num(F.col("value")),
            _num(F.col("k")),
        ),
        tail,
    )
    del_msg = F.concat(
        F.format_string(
            '{"action":"D","schema":"public","table":"users",'
            '"identity":[{"name":"user_id","type":"bigint","value":%s}],',
            _num(F.col("user_id")),
        ),
        tail,
    )
    return src.withColumn("_kind", _op_from_map(F.col("event_type"), _RT_OPS)).select(
        F.when(F.col("_kind") == "delete", del_msg).otherwise(row_msg).alias("value")
    )


def wal2json_v2_roundtrip(events: DataFrame) -> DataFrame:
    """(seq, ts, table, op, pk, value, k) — a MIXED-format wal2json
    stream pushed through :func:`normalize_wal2json`: even
    ``event_id // WAL2JSON_RT_BATCH`` batches render as v1 transaction
    messages (change array, nextlsn), odd batches as per-event v2
    messages (``action``/``columns[{name,type,value}]``/``identity``
    deletes, per-change lsn). Certifies the v2 branch, the per-message
    version choice, AND that both versions land in one shared
    ``lsn·2^12``-packed seq domain — end to end against an oracle
    computed straight from the source columns."""
    src = _rt_source(events)
    parity = (F.col("event_id") / WAL2JSON_RT_BATCH).cast("long") % 2
    env = _w2j_v1_envelopes(src.where(parity == 0)).unionByName(
        _w2j_v2_envelopes(src.where(parity == 1))
    )
    out = normalize_wal2json(env, _RT_PAYLOAD, pk="user_id")
    return out.select(
        "seq", "ts", "table", "op", "pk",
        F.col("payload").getField("value").alias("value"),
        F.col("payload").getField("k").alias("k"),
    )


def wal2json_v2_roundtrip_oracle_sql() -> str:
    return f"""
    WITH f AS (
        SELECT event_id, ts, user_id, value,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k,
               event_type
        FROM events
        WHERE event_type IN ('signup', 'purchase', 'click', 'error')
    ),
    w AS (
        SELECT *,
               (event_id // {WAL2JSON_RT_BATCH}) % 2 AS v2,
               min(event_id) OVER win AS mid,
               row_number() OVER (PARTITION BY event_type,
                                  event_id // {WAL2JSON_RT_BATCH}
                                  ORDER BY event_id) - 1 AS pos,
               arg_min(ts, event_id) OVER win AS ts0
        FROM f
        WINDOW win AS (PARTITION BY event_type, event_id // {WAL2JSON_RT_BATCH})
    )
    SELECT CASE WHEN v2 = 1 THEN event_id * {WAL2JSON_CHANGE_SHIFT}
                ELSE mid * {WAL2JSON_CHANGE_SHIFT} + pos END AS seq,
           make_timestamp(epoch_us(CASE WHEN v2 = 1 THEN ts ELSE ts0 END)) AS ts,
           'users' AS "table",
           {_RT_SQL_OP} AS op,
           user_id AS pk,
           CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value,
           CASE WHEN event_type = 'error' THEN NULL ELSE k END AS k
    FROM w
    """


def wal2json_roundtrip_oracle_sql() -> str:
    return f"""
    WITH f AS (
        SELECT event_id, ts, user_id, value,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k,
               event_type
        FROM events
        WHERE event_type IN ('signup', 'purchase', 'click', 'error')
    ),
    w AS (
        SELECT *,
               min(event_id) OVER win AS mid,
               row_number() OVER (PARTITION BY event_type,
                                  event_id // {WAL2JSON_RT_BATCH}
                                  ORDER BY event_id) - 1 AS pos,
               arg_min(ts, event_id) OVER win AS ts0
        FROM f
        WINDOW win AS (PARTITION BY event_type, event_id // {WAL2JSON_RT_BATCH})
    )
    SELECT mid * {WAL2JSON_CHANGE_SHIFT} + pos AS seq,
           make_timestamp(epoch_us(ts0)) AS ts,
           'users' AS "table",
           {_RT_SQL_OP} AS op,
           user_id AS pk,
           CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value,
           CASE WHEN event_type = 'error' THEN NULL ELSE k END AS k
    FROM w
    """
