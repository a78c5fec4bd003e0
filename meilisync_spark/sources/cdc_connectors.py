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
- **CDC stream** → Kafka topics carrying Debezium envelopes
  (``spark.readStream.format("kafka")``), the standard production
  transport for binlog/wal2json; :func:`normalize_debezium` maps the
  envelope onto the engine's normalized event schema (op
  classification P4, op-kind filter P5, table routing P3 — same
  contract as sources/events.py, so everything downstream — compaction,
  MERGE apply, streaming shell — is transport-agnostic).

This container ships neither JDBC drivers nor Kafka jars, so the
builders return (format, options) pairs and ``load()`` is a thin
wrapper the tests don't execute; ``normalize_debezium`` is a pure
DataFrame transform and IS tested hermetically on literal JSON.
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
    """Kafka Debezium envelope → the engine's normalized event schema
    ``(seq, ts, table, op, pk, payload struct)``.

    - op classification (P4): Debezium c/r/u/d → create/update/delete;
      unknown kinds dropped (P5) — note the engine *continues* past
      them rather than aborting the batch (reference quirk Q2,
      postgres.py:96-98, deliberately not replicated).
    - payload: ``after`` for create/update, ``before`` for delete (the
      delete path only needs the pk — meilisync/meili.py:136-137).
    - routing (P3): ``table`` is ``source.table``; the pipeline routes
      each sync its table's rows (≡ binlog ``only_tables``,
      mysql.py:92).
    - ``seq`` (the last-wins total order, A5): the source's log
      position — postgres ``source.lsn``, else mysql ``source.pos``,
      else the Kafka partition offset when the frame carries one
      (Debezium keys messages by pk, so a pk's events share a
      partition and the offset totally orders them), else ``ts_ms``.
      ts_ms alone is millisecond-granular and NOT unique per pk — two
      same-key changes in one millisecond would make last-wins
      arbitrary.
    """
    v = F.from_json(F.col("value").cast("string"), debezium_value_schema(payload_schema))
    p = v.getField("payload")
    op_src = p.getField("op")
    op: Column = F.lit(None).cast("string")
    for src, dst in reversed(list(DEBEZIUM_OP_MAP.items())):
        op = F.when(op_src == src, F.lit(dst)).otherwise(op)
    payload = F.when(op_src == "d", p.getField("before")).otherwise(p.getField("after"))
    source = p.getField("source")
    seq_candidates = [source.getField("lsn"), source.getField("pos")]
    if "offset" in df.columns:  # kafka frame
        seq_candidates.append(F.col("offset"))
    seq_candidates.append(p.getField("ts_ms"))
    return df.select(
        F.coalesce(*seq_candidates).alias("seq"),
        F.timestamp_millis(p.getField("ts_ms")).alias("ts"),
        source.getField("table").alias("table"),
        op.alias("op"),
        payload.getField(pk).alias("pk"),
        payload.alias("payload"),
    ).where(F.col("op").isNotNull())


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
    """Maxwell envelope → the engine's normalized event schema
    ``(seq, ts, table, op, pk, payload struct)`` — the same contract as
    :func:`normalize_debezium`, so every downstream operator (routing
    P3, compaction A5, MERGE apply S9-S11) is transport-agnostic.
    Maxwell is the lightweight mysql-binlog-to-JSON daemon many shops
    run instead of Debezium; the reference reads the binlog directly
    (meilisync/source/mysql.py:81-126) — this is that stream one hop
    downstream.

    - op classification (P4): insert/bootstrap-insert/update/delete →
      create/update/delete; other types (``table-create`` DDL,
      ``bootstrap-start/complete`` markers) are dropped (P5), and the
      engine continues past them (quirk Q2 not replicated).
    - payload: ``data`` on every kind — Maxwell's delete carries the
      full deleted row there (only the pk is consumed downstream,
      meilisync/meili.py:136-137).
    - ``seq`` (last-wins total order, A5): the binlog coordinate parsed
      from ``position`` — ``file_number·2^40 + offset`` (the shift
      clears even an oversized single-transaction binlog file, so the
      pack is collision-free and totally ordered across file rolls);
      falling back to the Kafka partition offset, then ``xid``, then
      ``ts``. The Kafka offset outranks xid because a topic where only
      SOME messages carry ``position`` (e.g. bootstrap-insert rows)
      must keep its fallback rows in ONE monotone domain — the offset
      is monotone for every message on the partition, while xid
      interleaves a different counter. Note the positioned/unpositioned
      domains themselves still differ: a deployment should be
      homogeneous (either all rows carry ``position`` — normal Maxwell
      — or none do); mixed streams order coherently only within each
      domain. ts alone is second-granular — never sufficient for
      same-pk ordering, same reasoning as normalize_debezium's ts_ms
      fallback.
    """
    # The parsed envelope is bound ONCE through a one-element
    # ``transform`` lambda (the quality_keep/shingles_col idiom, round
    # 13): referencing ``from_json(value).field`` per output column
    # lets Catalyst's per-field schema pruning split the parse into
    # ~8 separate from_json evaluations per row, and alias
    # substitution then copies the whole render+parse chain into the
    # pushed-down op filter — the composed roundtrip row ran the
    # codec serially 3× below its spread exchange
    # (plans/r13/maxwell_roundtrip_before.txt). With the lambda
    # binding every output field reads one lambda variable: one parse
    # per row by construction, and the substituted filter carries one
    # parse, not three.
    parsed = F.from_json(
        F.col("value").cast("string"), maxwell_value_schema(payload_schema)
    )
    kafka_offset = F.col("offset") if "offset" in df.columns else None

    def _build(v):
        op: Column = F.lit(None).cast("string")
        for src, dst in reversed(list(MAXWELL_OP_MAP.items())):
            op = F.when(v.getField("type") == src, F.lit(dst)).otherwise(op)
        pos = v.getField("position")
        file_num = F.regexp_extract(pos, r"\.(\d+):", 1)
        offset = F.regexp_extract(pos, r":(\d+)$", 1)
        pos_seq = F.when(
            (file_num != "") & (offset != ""),
            file_num.cast("long") * F.lit(MAXWELL_POS_FILE_SHIFT)
            + offset.cast("long"),
        )
        seq_candidates = [pos_seq]
        if kafka_offset is not None:  # kafka frame
            seq_candidates.append(kafka_offset)
        seq_candidates.extend([v.getField("xid"), v.getField("ts")])
        return F.struct(
            F.coalesce(*seq_candidates).alias("seq"),
            F.timestamp_seconds(v.getField("ts")).alias("ts"),
            v.getField("table").alias("table"),
            op.alias("op"),
            v.getField("data").getField(pk).alias("pk"),
            v.getField("data").alias("payload"),
        )

    bound = F.element_at(F.transform(F.array(parsed), _build), 1)
    return (
        df.select(bound.alias("_norm"))
        .select("_norm.*")
        .where(F.col("op").isNotNull())
    )


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
    """Canal flat-message envelope → the engine's normalized event
    schema ``(seq, ts, table, op, pk, payload struct)``.

    Two format quirks handled here and nowhere downstream:

    - **batched rows**: one message carries an array of rows, so the
      message is ``posexplode``d and the row's array position joins the
      batch id in the total order: ``seq = id·2^20 + pos`` (statement
      row counts are far below 2^20; the pack preserves binlog order
      across and within batches). Kafka offset replaces a missing
      ``id`` with the same pos pack.
    - **stringly values**: canal-json renders every column value as a
      string; the typed payload is rebuilt by casting each field of the
      caller's ``payload_schema`` out of the row map — Catalyst casts,
      per row, no UDF.

    DDL messages (``isDdl: true``) and non-DML types are dropped (P5);
    op classification (P4) is INSERT/UPDATE/DELETE → create/update/
    delete; ``es`` (binlog event time) is the event timestamp — ``ts``
    is the daemon's processing time, the wrong clock for event-time
    semantics (T6).
    """
    # Parsed envelope bound once through a one-element transform (round
    # 13, same idiom as normalize_maxwell): per-field references
    # otherwise split the parse into ~6 pruned from_json evaluations
    # per message, and the DML filter's alias substitution duplicated
    # the parse again. The keep-flag rides the bound struct so the
    # filter reads a struct field of the single parse.
    parsed = F.from_json(F.col("value").cast("string"), canal_value_schema())
    kafka_offset = F.col("offset") if "offset" in df.columns else None

    def _build(v):
        op_src = v.getField("type")
        op: Column = F.lit(None).cast("string")
        for src, dst in reversed(list(CANAL_OP_MAP.items())):
            op = F.when(op_src == src, F.lit(dst)).otherwise(op)
        seq_base_candidates = [v.getField("id")]
        if kafka_offset is not None:  # kafka frame
            seq_base_candidates.append(kafka_offset)
        return F.struct(
            F.coalesce(*seq_base_candidates).alias("_msg_seq"),
            F.timestamp_millis(v.getField("es")).alias("ts"),
            v.getField("table").alias("table"),
            op.alias("op"),
            (
                op.isNotNull()
                & ~F.coalesce(v.getField("isDdl"), F.lit(False))
            ).alias("_keep"),
            v.getField("data").alias("_data"),
        )

    bound = F.element_at(F.transform(F.array(parsed), _build), 1)
    exploded = (
        df.select(bound.alias("_p"))
        .where(F.col("_p").getField("_keep"))
        .select(
            F.col("_p").getField("_msg_seq").alias("_msg_seq"),
            F.col("_p").getField("ts").alias("ts"),
            F.col("_p").getField("table").alias("table"),
            F.col("_p").getField("op").alias("op"),
            F.posexplode(F.col("_p").getField("_data")).alias("_pos", "_row"),
        )
    )
    typed = F.struct(
        *[
            F.element_at(F.col("_row"), f.name).cast(f.dataType).alias(f.name)
            for f in payload_schema.fields
        ]
    )
    return exploded.select(
        (F.col("_msg_seq") * F.lit(CANAL_BATCH_SHIFT) + F.col("_pos")).alias("seq"),
        "ts",
        "table",
        "op",
        typed.getField(pk).alias("pk"),
        typed.alias("payload"),
    )


# wal2json change kind → EventType: exactly the three kinds the
# reference's _consumer admits (meilisync/source/postgres.py:104-119);
# other kinds ("message" logical decodings, "truncate") are dropped.
WAL2JSON_OP_MAP: dict[str, str] = {
    "insert": "create",
    "update": "update",
    "delete": "delete",
}

# Intra-transaction ordering: one wal2json (v1) message carries a whole
# transaction's change array and one nextlsn, so the change's array
# position joins the LSN in the total order. 2^12 positions leaves
# 2^51 bytes (~2 PiB) of WAL-lifetime headroom in int64. v1 has NO
# message size cap — a bulk transaction can exceed 4096 changes, and a
# clamped tail position would silently tie seqs, making last-wins
# compaction (A5, max_by) pick a nondeterministic winner for a pk
# touched twice past position 4095. The normalizer therefore FAILS
# LOUDLY on oversized transactions instead of clamping; v2 (one message
# per change, its own lsn each) never hits this.
WAL2JSON_CHANGE_SHIFT = 1 << 12
_LSN_LO_MOD = 1 << 32  # lsn = hi·2^32 + lo, both hex in "HI/LO"


def _lsn_to_long(lsn: Column) -> Column:
    """Postgres "HI/LO" hex LSN → ``hi·2^32 + lo`` (NULL when the
    string doesn't parse) — the ONE implementation both wal2json format
    versions pack their seq from, so the shared total-order domain
    cannot silently diverge between them."""
    hi = F.regexp_extract(lsn, r"^([0-9A-Fa-f]+)/", 1)
    lo = F.regexp_extract(lsn, r"/([0-9A-Fa-f]+)$", 1)
    return F.when(
        (hi != "") & (lo != ""),
        F.conv(hi, 16, 10).cast("long") * F.lit(_LSN_LO_MOD)
        + F.conv(lo, 16, 10).cast("long"),
    )


def _op_from_map(op_src: Column, mapping: dict[str, str]) -> Column:
    """Source op token → EventType via a when-fold (NULL for anything
    not in the map — the P5 kind filter)."""
    op: Column = F.lit(None).cast("string")
    for src, dst in reversed(list(mapping.items())):
        op = F.when(op_src == src, F.lit(dst)).otherwise(op)
    return op


def wal2json_value_schema() -> T.StructType:
    """Schema of a wal2json (format version 1) message — the payload
    the reference's replication consumer receives
    (meilisync/source/postgres.py:89-121): one JSON object per
    transaction with a ``change`` array; each change carries parallel
    ``columnnames``/``columntypes``/``columnvalues`` arrays, deletes
    carry ``oldkeys`` instead (REPLICA IDENTITY pk columns), and
    ``nextlsn``/``timestamp`` appear under the ``include-lsn`` /
    ``include-timestamp`` plugin options the reference turns on.

    ``columnvalues`` are heterogeneous typed JSON (numbers unquoted) —
    decoded as ``array<string>`` (Spark renders each scalar token as
    its string form; doubles round-trip bit-exactly through the later
    cast) and re-typed against the caller's payload schema, the same
    stringly-value pattern as :func:`normalize_canal`."""
    keys = T.StructType(
        [
            T.StructField("keynames", T.ArrayType(T.StringType())),
            T.StructField("keytypes", T.ArrayType(T.StringType())),
            T.StructField("keyvalues", T.ArrayType(T.StringType())),
        ]
    )
    change = T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("schema", T.StringType()),
            T.StructField("table", T.StringType()),
            T.StructField("columnnames", T.ArrayType(T.StringType())),
            T.StructField("columntypes", T.ArrayType(T.StringType())),
            T.StructField("columnvalues", T.ArrayType(T.StringType())),
            T.StructField("oldkeys", keys),
        ]
    )
    return T.StructType(
        [
            T.StructField("change", T.ArrayType(change)),
            T.StructField("nextlsn", T.StringType()),
            T.StructField("timestamp", T.StringType()),
        ]
    )


def normalize_wal2json(
    df: DataFrame,
    payload_schema: T.StructType,
    *,
    pk: str = "id",
) -> DataFrame:
    """Raw wal2json envelope → the engine's normalized event schema
    ``(seq, ts, table, op, pk, payload struct)`` — the direct parser
    for the reference's own Postgres transport
    (meilisync/source/postgres.py:100-121), for users tailing a
    wal2json drop-dir/topic without Debezium in between. Same contract
    as the other normalizers, so everything downstream (routing P3,
    compaction A5, MERGE apply S9-S11) is transport-agnostic.

    Reference parity, and the deliberate divergences:

    - op classification (P4): insert/update/delete → create/update/
      delete; other kinds (``truncate``, logical ``message``) dropped
      (P5). The reference ``return``s out of the whole message when it
      meets an unconfigured table, silently discarding the REST of that
      transaction's changes (quirk Q2, postgres.py:95-96); here every
      change comes out tagged with its own ``table`` and the pipeline
      routes per change — deliberately not replicated.
    - payload: ``columnnames``/``columnvalues`` zipped into a map and
      re-typed against ``payload_schema`` with per-field Catalyst casts
      (no UDF). Deletes fall back to ``oldkeys`` when columnvalues are
      absent — the reference keeps only the FIRST oldkey
      (postgres.py:108-112); here every oldkey column is mapped (a
      strict superset; downstream consumes only the pk either way,
      meilisync/meili.py:136-137).
    - ``json``-typed columns: the reference ``json.loads``es them into
      dicts (postgres.py:101-103); here they stay JSON strings in a
      string-typed payload field (the engine's payload contract is
      typed scalars — parse downstream with ``from_json`` when the
      structure matters).
    - ``seq`` (last-wins total order, A5): ``nextlsn`` parsed from its
      ``HI/LO`` hex form into ``hi·2^32 + lo`` — the same position the
      reference stores as resume progress (``start_lsn``,
      postgres.py:117) — then packed with the change's position in the
      transaction (``lsn·2^12 + pos``); falls back to the Kafka
      partition offset, then epoch-micros of ``timestamp``.
    - ``ts``: the commit ``timestamp`` string (include-timestamp), cast
      with full microsecond + zone-offset fidelity.
    """
    v = F.from_json(F.col("value").cast("string"), wal2json_value_schema())
    lsn_seq = _lsn_to_long(v.getField("nextlsn"))
    ts = v.getField("timestamp").cast("timestamp")
    base_candidates = [lsn_seq]
    if "offset" in df.columns:  # kafka frame
        base_candidates.append(F.col("offset"))
    base_candidates.append(F.unix_micros(ts))
    exploded = df.select(
        F.coalesce(*base_candidates).alias("_msg_seq"),
        ts.alias("ts"),
        F.posexplode(v.getField("change")).alias("_pos", "_c"),
    )
    c = F.col("_c")
    op = _op_from_map(c.getField("kind"), WAL2JSON_OP_MAP)
    ok = c.getField("oldkeys")
    row_map = F.when(
        F.size(c.getField("columnvalues")) > 0,
        F.map_from_arrays(c.getField("columnnames"), c.getField("columnvalues")),
    ).otherwise(
        F.map_from_arrays(ok.getField("keynames"), ok.getField("keyvalues"))
    )
    typed = F.struct(
        *[
            F.element_at(row_map, f.name).cast(f.dataType).alias(f.name)
            for f in payload_schema.fields
        ]
    )
    # Positions ≥ 2^12 would alias under the seq pack (tied seqs ⇒
    # nondeterministic last-wins winner); fail the batch loudly rather
    # than corrupt final row state. See WAL2JSON_CHANGE_SHIFT.
    checked_pos = F.when(
        F.col("_pos") < WAL2JSON_CHANGE_SHIFT, F.col("_pos")
    ).otherwise(
        F.raise_error(
            F.format_string(
                "wal2json transaction has a change at position %s >= %s: "
                "the lsn*2^12+pos seq pack cannot totally order it. "
                "Split the transaction (wal2json write-in-chunks) or "
                "switch to format version 2 (one message per change).",
                F.col("_pos").cast("string"),
                F.lit(str(WAL2JSON_CHANGE_SHIFT)),
            )
        ).cast("int")
    )
    seq = F.col("_msg_seq") * F.lit(WAL2JSON_CHANGE_SHIFT) + checked_pos
    return (
        exploded.where(op.isNotNull())
        .select(
            seq.alias("seq"),
            "ts",
            c.getField("table").alias("table"),
            op.alias("op"),
            typed.getField(pk).alias("pk"),
            typed.alias("payload"),
        )
    )


# wal2json format version 2 action → EventType. v2 additionally emits
# B (begin), C (commit), T (truncate), M (logical message) records —
# all dropped, matching the v1 kind filter (P5).
WAL2JSON_V2_OP_MAP: dict[str, str] = {
    "I": "create",
    "U": "update",
    "D": "delete",
}


def wal2json_v2_value_schema() -> T.StructType:
    """Schema of a wal2json **format version 2** message: one JSON
    object per *change* (not per transaction) — ``action`` one-letter
    kind, ``columns`` as an array of ``{name, type, value}`` objects
    (v1's parallel arrays zipped), ``identity`` (REPLICA IDENTITY
    columns, same shape) on updates/deletes, and per-change ``lsn`` /
    ``timestamp`` under the ``include-lsn`` / ``include-timestamp``
    options. This is the widely-deployed modern format the reference's
    v1-only consumer (meilisync/source/postgres.py:100-121) cannot
    parse.

    ``value`` decodes as string exactly like v1's ``columnvalues``
    (typed JSON scalars rendered to their string form; re-typed against
    the caller's payload schema with Catalyst casts downstream)."""
    col = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("value", T.StringType()),
        ]
    )
    return T.StructType(
        [
            T.StructField("action", T.StringType()),
            T.StructField("schema", T.StringType()),
            T.StructField("table", T.StringType()),
            T.StructField("columns", T.ArrayType(col)),
            T.StructField("identity", T.ArrayType(col)),
            T.StructField("lsn", T.StringType()),
            T.StructField("timestamp", T.StringType()),
        ]
    )


def normalize_wal2json_v2(
    df: DataFrame,
    payload_schema: T.StructType,
    *,
    pk: str = "id",
) -> DataFrame:
    """wal2json format-version-2 envelope → the engine's normalized
    event schema ``(seq, ts, table, op, pk, payload struct)``.

    Same contract as :func:`normalize_wal2json` (v1); differences that
    follow from the format:

    - one message per change ⇒ no posexplode and no intra-transaction
      position: ``seq = lsn · 2^12`` — the SAME packed domain as v1, so
      a mixed v1/v2 stream (``normalize_wal2json_auto``) totally orders
      consistently. Each v2 change carries its own LSN, so the pack is
      collision-free without a position term (and the v1 >4096-change
      failure mode cannot occur).
    - payload: ``columns[{name,value}]`` → map; deletes carry only
      ``identity`` (REPLICA IDENTITY columns) and fall back to it, the
      analogue of v1's ``oldkeys``.
    - op (P4/P5): I/U/D → create/update/delete; B/C/T/M records are
      dropped.
    """
    # Two-level lambda binding (round 13, same idiom as
    # normalize_maxwell): the OUTER transform binds the parsed envelope
    # (one from_json per row — per-field schema pruning otherwise split
    # it into ~10 separate parses), the INNER one binds the assembled
    # row_map (otherwise re-expanded, from_json included, once per
    # payload field by alias substitution inside the typed struct).
    parsed = F.from_json(F.col("value").cast("string"), wal2json_v2_value_schema())
    kafka_offset = F.col("offset") if "offset" in df.columns else None

    def _as_map(cols: Column) -> Column:
        return F.map_from_arrays(
            F.transform(cols, lambda c: c.getField("name")),
            F.transform(cols, lambda c: c.getField("value")),
        )

    def _build(v):
        lsn_seq = _lsn_to_long(v.getField("lsn"))
        ts = v.getField("timestamp").cast("timestamp")
        # packed domain shared with v1 (lsn·2^12, position 0 — one
        # change per message). Fallback ladder: Kafka offset (a real
        # per-change total order), then FAIL LOUDLY. v1 can fall back
        # to the commit timestamp because its array position
        # disambiguates changes within a transaction; v2 without lsn
        # has NOTHING to order two changes of one transaction — every
        # change shares the commit timestamp, seqs tie, and last-wins
        # compaction picks a nondeterministic winner. Silent wrong
        # final row state is never acceptable (same stance as the v1
        # >4096-position guard).
        base_candidates = [lsn_seq]
        if kafka_offset is not None:  # kafka frame
            base_candidates.append(kafka_offset)
        base_candidates.append(
            F.raise_error(
                F.lit(
                    "wal2json v2 message carries no lsn and the frame has no "
                    "Kafka offset: the commit timestamp cannot totally order "
                    "multiple changes of one transaction (tied seqs make "
                    "last-wins nondeterministic). Enable include-lsn on the "
                    "replication slot, or consume through Kafka."
                )
            ).cast("long")
        )
        seq = F.coalesce(*base_candidates) * F.lit(WAL2JSON_CHANGE_SHIFT)
        op = _op_from_map(v.getField("action"), WAL2JSON_V2_OP_MAP)
        row_map = F.when(
            F.size(v.getField("columns")) > 0, _as_map(v.getField("columns"))
        ).otherwise(_as_map(v.getField("identity")))

        def _typed(rm):
            typed = F.struct(
                *[
                    F.element_at(rm, f.name).cast(f.dataType).alias(f.name)
                    for f in payload_schema.fields
                ]
            )
            return F.struct(
                seq.alias("seq"),
                ts.alias("ts"),
                v.getField("table").alias("table"),
                op.alias("op"),
                typed.getField(pk).alias("pk"),
                typed.alias("payload"),
            )

        return F.element_at(F.transform(F.array(row_map), _typed), 1)

    bound = F.element_at(F.transform(F.array(parsed), _build), 1)
    return (
        df.select(bound.alias("_norm"))
        .select("_norm.*")
        .where(F.col("op").isNotNull())
    )


def normalize_wal2json_auto(
    df: DataFrame,
    payload_schema: T.StructType,
    *,
    pk: str = "id",
) -> DataFrame:
    """Per-row wal2json format dispatch: v1 messages carry a ``change``
    array, v2 messages carry ``action`` — a user pointing the drop-dir
    tail at either slot kind (or a stream that upgraded mid-retention)
    parses correctly without declaring the version. The marker probe is
    one cheap ``get_json_object``; each branch's full parse runs only
    on its own rows (the filter sits under the parse), and both
    branches emit the same ``lsn·2^12``-packed seq domain so the union
    totally orders consistently."""
    marker = F.get_json_object(F.col("value").cast("string"), "$.action")
    v1 = normalize_wal2json(df.where(marker.isNull()), payload_schema, pk=pk)
    v2 = normalize_wal2json_v2(df.where(marker.isNotNull()), payload_schema, pk=pk)
    return v1.unionByName(v2)


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
    op_src: Column = F.lit(None).cast("string")
    for evt, mop in reversed(list(_RT_OPS.items())):
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
    :func:`normalize_canal`. Exercises the posexplode seq pack
    (id·2^20+pos), the stringly-value re-typing, and the es-vs-ts clock
    choice — end to end against an oracle computed straight from the
    source columns."""
    src = _rt_source(events)
    op_src: Column = F.lit(None).cast("string")
    for evt, dst in reversed(
        [("signup", "INSERT"), ("purchase", "UPDATE"), ("click", "UPDATE"),
         ("error", "DELETE")]
    ):
        op_src = F.when(F.col("event_type") == evt, F.lit(dst)).otherwise(op_src)
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
    env = grouped.withColumn("_ctype", op_src).select(
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


def _w2j_kind_col() -> Column:
    kind: Column = F.lit(None).cast("string")
    for evt, w2j_kind in reversed(
        [("signup", "insert"), ("purchase", "update"), ("click", "update"),
         ("error", "delete")]
    ):
        kind = F.when(F.col("event_type") == evt, F.lit(w2j_kind)).otherwise(kind)
    return kind


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
        .withColumn("_kind", _w2j_kind_col())
    )

    # same CPU-density fan-out as canal_roundtrip: the render below is
    # string building per row, the parse two JSON codecs — AQE's
    # byte-based coalesce would run both on a handful of cores
    grouped = grouped.repartition(
        grouped.sparkSession.sparkContext.defaultParallelism
    )

    _num = _w2j_num

    def _change(r: Column) -> Column:
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
            F.array_join(F.transform("_rows", _change), ","),
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
    return src.withColumn("_kind", _w2j_kind_col()).select(
        F.when(F.col("_kind") == "delete", del_msg).otherwise(row_msg).alias("value")
    )


def wal2json_v2_roundtrip(events: DataFrame) -> DataFrame:
    """(seq, ts, table, op, pk, value, k) — a MIXED-format wal2json
    stream pushed through :func:`normalize_wal2json_auto`: even
    ``event_id // WAL2JSON_RT_BATCH`` batches render as v1 transaction
    messages (change array, nextlsn), odd batches as per-event v2
    messages (``action``/``columns[{name,type,value}]``/``identity``
    deletes, per-change lsn). Certifies the v2 parser, the per-row
    format dispatch, AND that both parsers land in one shared
    ``lsn·2^12``-packed seq domain — end to end against an oracle
    computed straight from the source columns."""
    from meilisync_spark.pin import SER as _SER

    src = _rt_source(events)
    parity = (F.col("event_id") / WAL2JSON_RT_BATCH).cast("long") % 2
    env = _w2j_v1_envelopes(src.where(parity == 0)).unionByName(
        _w2j_v2_envelopes(src.where(parity == 1))
    )
    # pin the rendered envelopes: normalize_wal2json_auto forks the
    # union into v1/v2 marker branches, and without a plan barrier each
    # branch re-runs BOTH render subtrees with the marker probe's
    # get_json_object substituted over the full to_json render — the
    # row's decomposition showed three serial map stages re-rendering
    # the same envelopes (round 13). The pin renders once; the auto
    # dispatch then probes materialized strings.
    env = env.localCheckpoint(False, storageLevel=_SER)
    out = normalize_wal2json_auto(env, _RT_PAYLOAD, pk="user_id")
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


# Mongo change-stream operationType → EventType: exactly the three ops
# the reference's $match pipeline admits (meilisync/source/mongo.py:44-50)
MONGO_OP_MAP: dict[str, str] = {
    "insert": "create",
    "update": "update",
    "delete": "delete",
}


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
    """Mongo change-stream envelope → the engine's normalized event
    schema ``(seq, ts, table, op, pk, payload struct)`` — completing
    S4-S6's production trio beside :func:`normalize_debezium`.

    Reference parity (meilisync/source/mongo.py:55-74):

    - op classification (P4): insert/update/delete → create/update/
      delete; other operationTypes (drop, rename, invalidate) are
      filtered out — the reference's ``$match`` pipeline does the same
      server-side (mongo.py:44).
    - payload: ``fullDocument`` for insert,
      ``updateDescription.updatedFields`` for update (the sparse
      partial-update payload, Q4 — mongo.py:62-64), ``documentKey``
      alone for delete (mongo.py:65-67: the delete path carries only
      the pk).
    - pk: ``documentKey._id`` stringified on every op, exactly the
      reference's ``data["_id"] = str(change["documentKey"]["_id"])``
      (mongo.py:68, F4 pk stringification).
    - ``seq``: clusterTime (t, i) packed into one 64-bit position —
      Mongo's own total order (t = epoch seconds, i = intra-second
      counter); the Kafka partition offset, when the frame carries
      one, is appended as a tiebreak-free fallback.
    - routing (P3): ``table`` is ``ns.coll``; the pipeline routes each
      sync its collection's rows, ≡ the reference's per-sync collection
      routing.
    """
    v = F.from_json(
        F.col("value").cast("string"), mongo_change_stream_schema(payload_schema)
    )
    op_src = v.getField("operationType")
    op: Column = F.lit(None).cast("string")
    for src, dst in reversed(list(MONGO_OP_MAP.items())):
        op = F.when(op_src == src, F.lit(dst)).otherwise(op)
    payload = (
        F.when(op_src == "update", v.getField("updateDescription").getField("updatedFields"))
        .when(op_src == "insert", v.getField("fullDocument"))
        .otherwise(F.lit(None).cast(payload_schema))
    )
    ct = v.getField("clusterTime")
    seq_candidates = [
        ct.getField("t") * F.lit(2**20) + F.coalesce(ct.getField("i"), F.lit(0))
    ]
    if "offset" in df.columns:  # kafka frame
        seq_candidates.append(F.col("offset"))
    return df.select(
        F.coalesce(*seq_candidates).alias("seq"),
        F.timestamp_seconds(ct.getField("t")).alias("ts"),
        v.getField("ns").getField("coll").alias("table"),
        op.alias("op"),
        # F4: pk stringification on every op kind (mongo.py:68)
        v.getField("documentKey").getField("_id").cast("string").alias("pk"),
        payload.alias("payload"),
    ).where(F.col("op").isNotNull())
