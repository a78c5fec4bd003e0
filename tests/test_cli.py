"""Drive the CLI surface in-process (start → check → refresh → version)."""

from __future__ import annotations

import json
import os

import pytest

from meilisync_spark.cli import main
from tests.conftest import SF_SMOKE


def test_cli_start_check_refresh(spark, tmp_path, capsys):
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    rc = main([
        "start",
        "--events", f"{SF_SMOKE}/events.parquet",
        "--index", index,
        "--checkpoint", ckpt,
    ])
    assert rc == 0
    out = capsys.readouterr().out
    # fresh indexes default to the bucketed layout (bootstrap on the
    # first micro-batch); the flat backfill is the --buckets 0 path
    assert "bootstrap: bucketed index" in out and "sync complete" in out
    from meilisync_spark.operators.bucketed import read_meta

    assert read_meta(index) is not None

    rc = main(["check", "--source", index, "--index", index, "--table", "users"])
    assert rc == 0
    assert "consistent" in capsys.readouterr().out

    cust_index = str(tmp_path / "cust")
    rc = main(["refresh", "--source", f"{SF_SMOKE}/customer.parquet", "--index", cust_index])
    assert rc == 0
    assert spark.read.parquet(cust_index).count() == 150

    # drifted check exits nonzero (the reference logs error per sync)
    rc = main(["check", "--source", f"{SF_SMOKE}/customer.parquet", "--index", index])
    assert rc == 1


def test_cli_start_cut_by_timeout_exits_nonzero(tmp_path, capsys):
    rc = main([
        "start",
        "--events", f"{SF_SMOKE}/events.parquet",
        "--index", str(tmp_path / "index"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--timeout", "0.01",
    ])
    assert rc == 1
    captured = capsys.readouterr()
    assert "sync complete" not in captured.out
    assert "timeout" in captured.err


def test_cli_version(capsys):
    assert main(["version"]) == 0
    assert "meilisync_spark" in json.loads(capsys.readouterr().out.strip())


def test_cli_start_config_plugin_chain(spark, tmp_path, capsys):
    """`start --config` with sync rules + chained plugins: the global
    hook runs before the per-sync hook (U1 order, meili.py:95-106) and
    each sync lands in its own index under sink.index_path."""
    sink_root = str(tmp_path / "indexes")
    cfg = tmp_path / "config.yml"
    cfg.write_text(
        "\n".join([
            "sink:",
            f"  index_path: {sink_root}",
            "plugins:",
            "  - tests.plugin_hooks.double_value",
            "sync:",
            "  - table: users",
            "    pk: user_id",
            "    full: true",
            "    plugins:",
            "      - tests.plugin_hooks.add_one_value",
        ])
    )
    rc = main([
        "start",
        "--events", f"{SF_SMOKE}/events.parquet",
        "--checkpoint", str(tmp_path / "ckpt"),
        "--config", str(cfg),
    ])
    assert rc == 0
    assert "sync complete" in capsys.readouterr().out

    # order-sensitive: 2v+1 (double then +1), not 2(v+1)
    plain_index = str(tmp_path / "plain")
    main([
        "start",
        "--events", f"{SF_SMOKE}/events.parquet",
        "--index", plain_index,
        "--checkpoint", str(tmp_path / "ckpt2"),
    ])
    capsys.readouterr()
    expected = {
        r.pk: (None if r.value is None else r.value * 2 + 1)
        for r in spark.read.parquet(plain_index).collect()
    }
    got = {
        r.pk: r.value
        for r in spark.read.parquet(f"{sink_root}/users").collect()
    }
    assert got == expected


def test_cli_check_config_mode(spark, tmp_path, capsys):
    """`check --config` audits every sync rule in one run (reference
    main.py:179-208) and exits nonzero when any sync drifts."""
    import duckdb

    sink_root = str(tmp_path / "indexes")
    sources = str(tmp_path / "sources")
    os.makedirs(sources)
    con = duckdb.connect()
    # two "source tables" + matching indexes; drift the second index
    con.sql(f"COPY (SELECT range AS id FROM range(10)) TO '{sources}/users.parquet'")
    con.sql(f"COPY (SELECT range AS id FROM range(7)) TO '{sources}/orders.parquet'")
    os.makedirs(sink_root)
    con.sql(f"COPY (SELECT range AS id FROM range(10)) TO '{sink_root}/users.parquet'")
    con.sql(f"COPY (SELECT range AS id FROM range(6)) TO '{sink_root}/ord_idx.parquet'")

    cfg = tmp_path / "config.yml"
    cfg.write_text(
        "\n".join([
            "sink:",
            f"  index_path: {sink_root}",
            "sync:",
            "  - table: users",
            "    index: users.parquet",
            "  - table: orders",
            "    index: ord_idx.parquet",
        ])
    )
    rc = main(["check", "--config", str(cfg), "--sources", sources])
    out = capsys.readouterr().out
    assert rc == 1
    assert "users: source=10 index=10 consistent" in out
    assert "orders: source=7 index=6 INCONSISTENT" in out


def test_cli_rebucket(spark, tmp_path, capsys):
    """start --buckets N, then rebucket to M: state identical, meta
    updated, merges continue under the new layout via the CLI default
    pk from meta."""
    from meilisync_spark.operators.bucketed import read_buckets, read_meta

    index = str(tmp_path / "index")
    rc = main([
        "start",
        "--events", f"{SF_SMOKE}/events.parquet",
        "--index", index,
        "--checkpoint", str(tmp_path / "ckpt"),
        "--buckets", "4",
    ])
    assert rc == 0
    before = {r.pk: (r.value, r.k) for r in read_buckets(spark, index).collect()}

    rc = main(["rebucket", "--index", index, "--buckets", "16"])
    assert rc == 0
    assert "num_buckets=16" in capsys.readouterr().out
    assert read_meta(index)["num_buckets"] == 16
    assert {r.pk: (r.value, r.k)
            for r in read_buckets(spark, index).collect()} == before


def test_cli_compact(spark, tmp_path, capsys):
    from meilisync_spark.operators.refresh import refresh_data

    index = str(tmp_path / "tbl")
    refresh_data(spark.range(0, 1000).repartition(10), index)
    rc = main(["compact", "--index", index, "--target-bytes", str(1 << 30)])
    assert rc == 0
    assert "1 files" in capsys.readouterr().out
    assert spark.read.parquet(index).count() == 1000


def test_init_ops_tolerates_missing_sentry(spark, capsys):
    """sentry configured but sdk absent (this container): warn and
    continue — error reporting must never take down the sync. debug
    dumps the settings and restores nothing (log level is best-effort
    ops sugar)."""
    import sys

    from meilisync_spark.cli import _init_ops
    from meilisync_spark.config import Sentry, Settings

    assert "sentry_sdk" not in sys.modules
    s = Settings.from_dict({"debug": True})
    s.sentry = Sentry(dsn="https://k@sentry.example/1")
    _init_ops(spark, s)  # must not raise
    err = capsys.readouterr().err
    assert "sentry" in err and "debug" in err
    spark.sparkContext.setLogLevel("WARN")


def test_cli_start_maxwell_envelope_drop_dir(tmp_path):
    """`start --source-format text --envelope maxwell` tails a raw
    Maxwell drop directory into an index — the CLI face of the
    envelope-normalizer streaming path."""
    import json

    from meilisync_spark.cli import main

    drop = tmp_path / "drop"
    drop.mkdir()

    def mxw(i, typ, pk, v):
        return json.dumps(
            {"database": "app", "table": "users", "type": typ,
             "ts": 1700000000 + i, "position": f"master.000001:{i}",
             "data": {"id": pk, "v": v}})

    (drop / "f1.jsonl").write_text("\n".join([
        mxw(1, "insert", 1, 1.0),
        mxw(2, "insert", 2, 2.0),
        mxw(3, "update", 1, 1.5),
        mxw(4, "delete", 2, 2.0),
    ]) + "\n")
    index = str(tmp_path / "index")
    rc = main([
        "start", "--events", str(drop), "--index", index,
        "--checkpoint", str(tmp_path / "ckpt"),
        "--source-format", "text", "--envelope", "maxwell",
        "--payload-schema", "id long, v double",
    ])
    assert rc == 0
    from meilisync_spark.session import get_spark

    spark = get_spark("t")
    assert {(r.pk, r.v) for r in spark.read.parquet(index).collect()} == {(1, 1.5)}


def test_cli_start_envelope_requires_schema(tmp_path):
    from meilisync_spark.cli import main

    rc = main([
        "start", "--events", str(tmp_path), "--index", str(tmp_path / "i"),
        "--checkpoint", str(tmp_path / "c"),
        "--source-format", "text", "--envelope", "maxwell",
    ])
    assert rc == 2


def _routed_changes(seed: int) -> list[tuple]:
    """(ord, table, op, key, v) changes over two configured tables and
    one unconfigured one (``audit``); users are keyed by ``id``, orders
    by ``oid``. Keys repeat, so last-wins matters."""
    import random

    rng = random.Random(seed)
    out = []
    for i in range(90):
        table = rng.choice(["users", "orders", "audit"])
        out.append((i, table, rng.choice(["insert", "update", "delete"]),
                    rng.randrange(8), round(rng.uniform(0, 100), 2)))
    return out


def _render_envelopes(changes: list[tuple], envelope: str) -> list[str]:
    """One text line per Maxwell row change, or per wal2json v1
    transaction of three changes (so transactions mix tables)."""
    def row(table, key, v):
        return {"oid": key, "v": v} if table == "orders" else {"id": key, "v": v}

    if envelope == "maxwell":
        return [json.dumps({"database": "app", "table": t, "type": op,
                            "ts": 1700000000 + i, "position": f"master.000001:{i}",
                            "data": row(t, k, v)}) for i, t, op, k, v in changes]
    lines = []
    for j in range(0, len(changes), 3):
        tx = []
        for _, t, op, k, v in changes[j:j + 3]:
            r = row(t, k, v)
            c = {"kind": op, "schema": "public", "table": t}
            if op == "delete":
                pk = next(iter(r))
                c["oldkeys"] = {"keynames": [pk], "keytypes": ["bigint"],
                                "keyvalues": [r[pk]]}
            else:
                c.update(columnnames=list(r), columntypes=["bigint", "double"],
                         columnvalues=list(r.values()))
            tx.append(c)
        lines.append(json.dumps({"change": tx, "nextlsn": f"0/{16 * (j + 1):X}",
                                 "timestamp": "2023-11-14 22:13:20+00"}))
    return lines


def _last_change_per_key(changes: list[tuple], table: str) -> set:
    """DuckDB oracle: the last change per key of ``table``, deletes
    removed."""
    import duckdb

    con = duckdb.connect()
    con.sql("CREATE TABLE ch (ord BIGINT, tbl VARCHAR, op VARCHAR, k BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO ch VALUES (?, ?, ?, ?, ?)", changes)
    return set(con.sql(f"""
        SELECT k, x.v FROM (
            SELECT k, arg_max(struct_pack(op := op, v := v), ord) AS x
            FROM ch WHERE tbl = '{table}' GROUP BY k
        ) WHERE x.op <> 'delete'""").fetchall())


@pytest.mark.parametrize("envelope", ["maxwell", "wal2json"])
def test_cli_start_envelope_routes_syncs_config(spark, tmp_path, envelope):
    """`start --config` over an envelope log routes each change to its
    table's sync: two indexes, each keyed by its own sync's pk and equal
    to a last-change-per-key oracle; the unconfigured table's changes
    (inside the same wal2json transactions) reach no index and publish
    no progress."""
    changes = _routed_changes(7)
    lines = _render_envelopes(changes, envelope)
    drop = tmp_path / "drop"
    drop.mkdir()
    half = len(lines) // 2
    for i, part in enumerate([lines[:half], lines[half:]]):
        path = drop / f"f{i}.jsonl"
        path.write_text("\n".join(part) + "\n")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    sink_root = tmp_path / "indexes"
    progress = tmp_path / "progress.json"
    cfg = tmp_path / "config.yml"
    cfg.write_text("\n".join([
        "sink:",
        f"  index_path: {sink_root}",
        "progress:",
        "  type: file",
        f"  path: {progress}",
        "sync:",
        "  - table: users",
        "    full: true",
        "  - table: orders",
        "    pk: oid",
        "    full: true",
        "    index: orders_idx",
    ]))
    rc = main([
        "start", "--events", str(drop), "--checkpoint", str(tmp_path / "c"),
        "--config", str(cfg), "--max-files", "1",
        "--source-format", "text", "--envelope", envelope,
        "--payload-schema", "id long, oid long, v double",
    ])
    assert rc == 0
    assert sorted(os.listdir(sink_root)) == ["orders_idx", "users"]
    users = spark.read.parquet(str(sink_root / "users"))
    orders = spark.read.parquet(str(sink_root / "orders_idx"))
    assert {(r.pk, r.v) for r in users.collect()} == _last_change_per_key(changes, "users")
    assert {(r.pk, r.v) for r in orders.collect()} == _last_change_per_key(changes, "orders")
    assert "oid" not in orders.columns  # the sync's pk became the key
    assert set(json.loads(progress.read_text())) == {"users", "orders"}


def test_cli_start_envelope_tail_sync_records_head_in_seq_domain(spark, tmp_path):
    """A `full: false` sync over a text envelope log records the log
    head as the max normalized seq (a binlog position here), then
    applies only the changes past it."""
    changes = _routed_changes(11)
    lines = _render_envelopes(changes, "maxwell")
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "f0.jsonl").write_text("\n".join(lines[:40]) + "\n")
    os.utime(drop / "f0.jsonl", (1_700_000_000, 1_700_000_000))
    sink_root = tmp_path / "indexes"
    cfg = tmp_path / "config.yml"
    cfg.write_text("\n".join([
        "sink:",
        f"  index_path: {sink_root}",
        "sync:",
        "  - table: users",
        "    full: false",
    ]))
    argv = [
        "start", "--events", str(drop), "--checkpoint", str(tmp_path / "c"),
        "--config", str(cfg), "--source-format", "text", "--envelope", "maxwell",
        "--payload-schema", "id long, oid long, v double",
    ]
    assert main(argv) == 0
    with open(tmp_path / "c" / "head_marker.json") as fh:
        # maxwell seq = binlog file number * 2^40 + offset
        assert json.load(fh)["head_seq"] == (1 << 40) + 39
    assert not os.path.exists(sink_root / "users")  # history skipped

    (drop / "f1.jsonl").write_text("\n".join(lines[40:]) + "\n")
    os.utime(drop / "f1.jsonl", (1_700_000_001, 1_700_000_001))
    assert main(argv) == 0
    got = {(r.pk, r.v) for r in spark.read.parquet(str(sink_root / "users")).collect()}
    assert got == _last_change_per_key(changes[40:], "users")


@pytest.mark.parametrize("fmt", ["json", "csv"])
def test_cli_start_rejects_schemaless_source_formats(tmp_path, capsys, fmt):
    """json/csv logs need a schema the CLI cannot pass: argparse refuses
    them before Spark starts (the API keeps them, with a schema)."""
    with pytest.raises(SystemExit) as exc:
        main([
            "start", "--events", str(tmp_path), "--index", str(tmp_path / "i"),
            "--checkpoint", str(tmp_path / "c"), "--source-format", fmt,
        ])
    assert exc.value.code == 2
    assert "invalid choice" in capsys.readouterr().err


def test_cli_start_buckets_conflicts_with_delta(tmp_path, capsys):
    """--buckets with --sink-format delta must error loudly (rc 2) —
    Delta manages its own layout, and silently dropping the flag would
    let a user believe the table is pk-bucketed (fail-loud convention)."""
    rc = main([
        "start", "--events", str(tmp_path), "--index", str(tmp_path / "i"),
        "--checkpoint", str(tmp_path / "c"),
        "--sink-format", "delta", "--buckets", "16",
    ])
    assert rc == 2
    assert "--buckets" in capsys.readouterr().err


def test_cli_check_lag_multi_sync_defaults_to_table_column(spark, tmp_path, capsys):
    """Multi-sync lag needs no --table-col when the event log carries a
    `table` column (the fixture and every normalizer emit one): heads
    are attributed per table and each sync's lag is reported."""
    import duckdb

    from meilisync_spark.progress import FileProgress

    sink_root = str(tmp_path / "indexes")
    sources = str(tmp_path / "sources")
    os.makedirs(sources)
    con = duckdb.connect()
    # two tables, same source/index parquet so counts audit green
    for t in ("users", "orders"):
        con.sql(f"COPY (SELECT 1 AS pk) TO '{sources}/{t}.parquet' (FORMAT PARQUET)")
    os.makedirs(sink_root)
    for t in ("users", "orders"):
        con.sql(f"COPY (SELECT 1 AS pk) TO '{sink_root}/{t}_idx.parquet' "
                f"(FORMAT PARQUET)")
    # event log WITH a table column: heads users=7, orders=12
    log = str(tmp_path / "log.parquet")
    con.sql("COPY (SELECT * FROM (VALUES (5, 'users'), (7, 'users'), "
            "(12, 'orders')) t(event_id, \"table\")) "
            f"TO '{log}' (FORMAT PARQUET)")
    progress_path = str(tmp_path / "progress.json")
    FileProgress(progress_path).set(users=7, orders=10)
    cfg = tmp_path / "config.yml"
    cfg.write_text("\n".join([
        "sink:",
        f"  index_path: {sink_root}",
        "progress:",
        "  type: file",
        f"  path: {progress_path}",
        "sync:",
        "  - table: users",
        "    index: users_idx.parquet",
        "    pk: pk",
        "  - table: orders",
        "    index: orders_idx.parquet",
        "    pk: pk",
    ]))
    rc = main(["check", "--config", str(cfg), "--sources", sources,
               "--events", log])
    out = capsys.readouterr().out
    assert rc == 0
    assert "users: applied=7 head=7 lag=0" in out
    assert "orders: applied=10 head=12 lag=2" in out


def test_cli_check_lag_declines_log_without_event_id(spark, tmp_path, capsys):
    """An event log without event_id (an envelope drop log publishes
    binlog/LSN seqs the raw log can't reproduce) gets a clean decline,
    not an AnalysisException mid-report."""
    import duckdb

    from meilisync_spark.progress import FileProgress

    sink_root = str(tmp_path / "indexes")
    sources = str(tmp_path / "sources")
    os.makedirs(sources)
    os.makedirs(sink_root)
    con = duckdb.connect()
    con.sql(f"COPY (SELECT 1 AS pk) TO '{sources}/users.parquet' (FORMAT PARQUET)")
    con.sql(f"COPY (SELECT 1 AS pk) TO '{sink_root}/users_idx.parquet' "
            f"(FORMAT PARQUET)")
    log = str(tmp_path / "log.parquet")
    con.sql(f"COPY (SELECT 'x' AS value) TO '{log}' (FORMAT PARQUET)")
    progress_path = str(tmp_path / "progress.json")
    FileProgress(progress_path).set(users=7)
    cfg = tmp_path / "config.yml"
    cfg.write_text("\n".join([
        "sink:",
        f"  index_path: {sink_root}",
        "progress:",
        "  type: file",
        f"  path: {progress_path}",
        "sync:",
        "  - table: users",
        "    index: users_idx.parquet",
        "    pk: pk",
    ]))
    rc = main(["check", "--config", str(cfg), "--sources", sources,
               "--events", log])
    captured = capsys.readouterr()
    assert rc == 0  # the count audit itself passed
    assert "no event_id column" in captured.err
    assert "lag=" not in captured.out

    # an explicitly wrong --table-col is an argument error, not a
    # silent fall-through to the global head
    con.sql(f"COPY (SELECT 1 AS event_id) TO '{log}' (FORMAT PARQUET, "
            f"OVERWRITE_OR_IGNORE)")
    rc = main(["check", "--config", str(cfg), "--sources", sources,
               "--events", log, "--table-col", "nope"])
    captured = capsys.readouterr()
    assert rc == 2
    assert "nope" in captured.err


def test_cli_start_wal2json_envelope_drop_dir(tmp_path):
    """`start --source-format text --envelope wal2json` tails a raw
    wal2json drop directory (the reference's own Postgres transport,
    one JSON object per transaction) through the streaming shell into
    an index — multi-change messages, an oldkeys-only delete, and the
    lsn·2^12+pos seq pack end to end."""
    import json

    from meilisync_spark.cli import main

    drop = tmp_path / "drop"
    drop.mkdir()

    def row(kind, pk, v):
        return {"kind": kind, "schema": "public", "table": "users",
                "columnnames": ["id", "v"],
                "columntypes": ["bigint", "double precision"],
                "columnvalues": [pk, v]}

    msgs = [
        {"change": [row("insert", 1, 1.0), row("insert", 2, 2.0)],
         "nextlsn": "0/10", "timestamp": "2023-11-14 22:13:20.000001+00"},
        {"change": [row("update", 1, 1.5)],
         "nextlsn": "0/20", "timestamp": "2023-11-14 22:13:21+00"},
        {"change": [{"kind": "delete", "schema": "public", "table": "users",
                     "oldkeys": {"keynames": ["id"], "keytypes": ["bigint"],
                                 "keyvalues": [2]}}],
         "nextlsn": "0/30", "timestamp": "2023-11-14 22:13:22+00"},
    ]
    (drop / "wal.jsonl").write_text("\n".join(json.dumps(m) for m in msgs) + "\n")
    index = str(tmp_path / "index")
    rc = main([
        "start", "--events", str(drop), "--index", index,
        "--checkpoint", str(tmp_path / "ckpt"),
        "--source-format", "text", "--envelope", "wal2json",
        "--payload-schema", "id long, v double",
    ])
    assert rc == 0
    from meilisync_spark.session import get_spark

    spark = get_spark("t")
    assert {(r.pk, r.v) for r in spark.read.parquet(index).collect()} == {(1, 1.5)}


def test_cli_start_flat_backfill_when_forced(spark, tmp_path, capsys):
    """--buckets 0 keeps the flat full-rewrite layout: the first batch
    of the fresh checkpoint is the backfill, no bucket layout written,
    and the index holds the same rows as a default (bucketed) start."""
    from meilisync_spark.operators.bucketed import read_buckets, read_meta

    index = str(tmp_path / "flat")
    rc = main([
        "start",
        "--events", f"{SF_SMOKE}/events.parquet",
        "--index", index,
        "--checkpoint", str(tmp_path / "ckpt"),
        "--buckets", "0",
    ])
    assert rc == 0
    assert "sync complete" in capsys.readouterr().out
    assert read_meta(index) is None

    b_index = str(tmp_path / "bucketed")
    rc = main([
        "start",
        "--events", f"{SF_SMOKE}/events.parquet",
        "--index", b_index,
        "--checkpoint", str(tmp_path / "ckpt_b"),
    ])
    assert rc == 0
    cols = ["pk", "ts", "value", "k"]
    flat = spark.read.parquet(index).select(*cols).collect()
    assert flat
    assert sorted(flat) == sorted(read_buckets(spark, b_index).select(*cols).collect())


def test_cli_start_max_files_flag_overrides_insert_size(spark, tmp_path):
    """Flags override config: --max-files 1 wins over sink.insert_size,
    so a 3-file drop dir commits 3 batches, not 1."""
    import duckdb

    drops = tmp_path / "drops"
    drops.mkdir()
    con = duckdb.connect()
    for i in range(3):
        path = drops / f"part-{i}.parquet"
        con.sql(f"COPY (SELECT * FROM '{SF_SMOKE}/events.parquet' "
                f"WHERE event_id % 3 = {i}) TO '{path}' (FORMAT PARQUET)")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    cfg = tmp_path / "config.yml"
    cfg.write_text("sink:\n  insert_size: 5\n")
    ckpt = tmp_path / "ckpt"
    rc = main([
        "start", "--events", str(drops), "--index", str(tmp_path / "index"),
        "--checkpoint", str(ckpt), "--config", str(cfg), "--max-files", "1",
    ])
    assert rc == 0
    assert len([c for c in os.listdir(ckpt / "commits") if c.isdigit()]) == 3


@pytest.mark.parametrize("mode", ["config", "single_index"])
def test_cli_check_reports_progress_lag(spark, tmp_path, capsys, mode):
    """check with a configured progress store and --events reports
    applied-position-vs-head lag per sync (the ops-mirror consumer):
    after a caught-up start, lag is 0 — in config mode, and in
    single-index mode over a log whose last event is a `view` (a kind
    the sync does not consume, but whose position it has passed)."""
    import duckdb

    sink_root = str(tmp_path / "indexes")
    progress_path = str(tmp_path / "progress.json")
    progress_cfg = [
        "progress:",
        "  type: file",
        f"  path: {progress_path}",
    ]
    con = duckdb.connect()
    if mode == "single_index":
        events = str(tmp_path / "events.parquet")
        src = f"'{SF_SMOKE}/events.parquet'"
        con.sql(f"COPY (SELECT * FROM {src} UNION ALL "
                f"(SELECT event_id + 1, ts, user_id, 'view', value, props "
                f"FROM {src} ORDER BY event_id DESC LIMIT 1)) "
                f"TO '{events}' (FORMAT PARQUET)")
        cfg = tmp_path / "progress.yml"
        cfg.write_text("\n".join(progress_cfg))
        index = str(tmp_path / "index")
        rc = main([
            "start", "--events", events, "--index", index,
            "--checkpoint", str(tmp_path / "ckpt"), "--config", str(cfg),
        ])
        assert rc == 0
        capsys.readouterr()
        rc = main([
            "check", "--source", index, "--index", index, "--table", "users",
            "--config", str(cfg), "--events", events,
        ])
        out = capsys.readouterr().out
        assert rc == 0
        assert "users: applied=" in out and "lag=0" in out, out
        return

    cfg = tmp_path / "config.yml"
    cfg.write_text("\n".join([
        "sink:",
        f"  index_path: {sink_root}",
        *progress_cfg,
        "sync:",
        "  - table: users",
        "    pk: user_id",
        "    full: true",
    ]))
    rc = main([
        "start",
        "--events", f"{SF_SMOKE}/events.parquet",
        "--checkpoint", str(tmp_path / "ckpt"),
        "--config", str(cfg),
    ])
    assert rc == 0
    capsys.readouterr()

    # sources dir for the count audit: the index itself (counts match)
    sources = str(tmp_path / "sources")
    os.makedirs(sources)
    con.sql(f"COPY (SELECT * FROM '{sink_root}/users/**/*.parquet') "
            f"TO '{sources}/users.parquet' (FORMAT PARQUET)")
    con.sql(f"COPY (SELECT * FROM '{sink_root}/users/**/*.parquet') "
            f"TO '{sink_root}/users_flat.parquet' (FORMAT PARQUET)")
    cfg2 = tmp_path / "config2.yml"
    cfg2.write_text("\n".join([
        "sink:",
        f"  index_path: {sink_root}",
        *progress_cfg,
        "sync:",
        "  - table: users",
        "    index: users_flat.parquet",
        "    pk: user_id",
    ]))
    rc = main([
        "check", "--config", str(cfg2), "--sources", sources,
        "--events", f"{SF_SMOKE}/events.parquet",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "users: applied=" in out and "lag=0" in out


def test_cli_ann_build_and_query(spark, tmp_path, capsys):
    """ann-build persists the servable IVF+PQ index (codes partitioned
    by cluster + quantizer metadata); ann-query routes a query batch
    through the stored centroids, probes pruned partitions, and with
    --refine returns exact-cosine top-k as JSON lines."""
    index = str(tmp_path / "ann")
    rc = main([
        "ann-build",
        "--embeddings", f"{SF_SMOKE}/embeddings.parquet",
        "--index", index,
    ])
    assert rc == 0
    assert "vectors" in capsys.readouterr().out
    assert os.path.exists(os.path.join(index, "_ann_meta.json"))

    rc = main([
        "ann-query", "--index", index,
        "--corpus", f"{SF_SMOKE}/embeddings.parquet",
        "--query-ids", "3,7", "-k", "3", "--nprobe", "2", "--refine",
    ])
    assert rc == 0
    rows = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert {r["q_id"] for r in rows} == {3, 7}
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    for q, rs in by_q.items():
        assert [r["rank"] for r in rs] == [1, 2, 3]
        # refined output carries exact cosine, descending
        cos = [r["cosine"] for r in rs]
        assert cos == sorted(cos, reverse=True)
        assert all(r["neighbor_id"] != q for r in rs)

    # unknown query id errors loudly
    rc = main([
        "ann-query", "--index", index,
        "--corpus", f"{SF_SMOKE}/embeddings.parquet",
        "--query-ids", "999999",
    ])
    assert rc == 1


def test_cli_ann_query_foreign_vectors_file(spark, tmp_path, capsys):
    """ann-query --vectors-file serves caller-supplied foreign vectors:
    routing via the stored centroids, no self-exclusion for the
    caller's ids (a corpus row sharing the number stays eligible)."""
    index = str(tmp_path / "ann")
    main([
        "ann-build",
        "--embeddings", f"{SF_SMOKE}/embeddings.parquet",
        "--index", index,
    ])
    capsys.readouterr()
    # the foreign "query" is corpus row 3's own vector labeled q_id=3 —
    # with --vectors-file, vec_id 3 itself must be allowed as a hit
    row = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").where(
        "vec_id = 3").collect()[0]
    vf = tmp_path / "queries.json"
    vf.write_text(json.dumps([{"q_id": 3, "vector": list(row.embedding)}]))
    rc = main([
        "ann-query", "--index", index,
        "--corpus", f"{SF_SMOKE}/embeddings.parquet",
        "--vectors-file", str(vf), "-k", "3", "--refine",
    ])
    assert rc == 0
    rows = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert rows and rows[0]["neighbor_id"] == 3  # own vector tops the list

    import pytest
    with pytest.raises(SystemExit):  # argparse: the query source group
        main(["ann-query", "--index", index,
              "--corpus", f"{SF_SMOKE}/embeddings.parquet"])
    with pytest.raises(SystemExit):  # ... is mutually exclusive too
        main(["ann-query", "--index", index,
              "--corpus", f"{SF_SMOKE}/embeddings.parquet",
              "--query-ids", "1", "--vectors-file", str(vf)])

    # malformed vectors files error cleanly, not with a numpy traceback
    empty = tmp_path / "empty.json"
    empty.write_text("[]")
    rc = main(["ann-query", "--index", index,
               "--corpus", f"{SF_SMOKE}/embeddings.parquet",
               "--vectors-file", str(empty)])
    assert rc == 1
    dup = tmp_path / "dup.json"
    dup.write_text(json.dumps([
        {"q_id": 1, "vector": list(row.embedding)},
        {"q_id": 1, "vector": list(row.embedding)},
    ]))
    rc = main(["ann-query", "--index", index,
               "--corpus", f"{SF_SMOKE}/embeddings.parquet",
               "--vectors-file", str(dup)])
    assert rc == 1
    bad_dim = tmp_path / "bad_dim.json"
    bad_dim.write_text(json.dumps([{"q_id": 1, "vector": [1.0, 2.0]}]))
    rc = main(["ann-query", "--index", index,
               "--corpus", f"{SF_SMOKE}/embeddings.parquet",
               "--vectors-file", str(bad_dim)])
    assert rc == 1


def test_cli_ann_add_and_stats(spark, tmp_path, capsys):
    """ann-add folds new vectors into a built index without retraining
    and is replay-idempotent; ann-stats reports per-cell growth and the
    retrain-due verdict; adding to a non-index errors loudly."""
    import duckdb

    index = str(tmp_path / "ann")
    base = str(tmp_path / "base.parquet")
    extra = str(tmp_path / "extra.parquet")
    con = duckdb.connect()
    src = f"{SF_SMOKE}/embeddings.parquet"
    con.sql(f"COPY (SELECT vec_id, embedding FROM '{src}' WHERE vec_id % 4 != 3) "
            f"TO '{base}' (FORMAT PARQUET)")
    con.sql(f"COPY (SELECT vec_id, embedding FROM '{src}' WHERE vec_id % 4 = 3) "
            f"TO '{extra}' (FORMAT PARQUET)")
    rc = main(["ann-build", "--embeddings", base, "--index", index])
    assert rc == 0
    capsys.readouterr()

    rc = main(["ann-add", "--vectors", extra, "--index", index])
    out = capsys.readouterr().out
    assert rc == 0
    n_extra = con.sql(f"SELECT count(*) FROM '{extra}'").fetchone()[0]
    assert f"added {n_extra} vectors" in out

    # replay: nothing new
    rc = main(["ann-add", "--vectors", extra, "--index", index])
    assert rc == 0
    assert "added 0 vectors" in capsys.readouterr().out

    rc = main(["ann-stats", "--index", index, "--max-growth", "0.2"])
    out = capsys.readouterr().out
    assert rc == 0
    lines = [json.loads(line) for line in out.splitlines()]
    verdict = lines[-1]
    assert verdict["retrain_due"] is True  # 1/3 growth > 0.2
    assert sum(r["added"] for r in lines[:-1]) == n_extra

    # not-an-index errors loudly
    rc = main(["ann-add", "--vectors", extra, "--index", str(tmp_path / "no")])
    assert rc == 2
    assert "ann-build" in capsys.readouterr().err


def test_cli_pipeline_refuses_unseeded_sidecar(spark, tmp_path):
    """pipeline against a pre-existing index whose raw-vector sidecar
    was never seeded (e.g. built by ann-build) must fail loudly BEFORE
    appending anything: appending only this run's embeddings would
    create an incomplete sidecar, and a later --retrain-growth rebuild
    would retrain on it and silently drop every originally-indexed
    vector (PQ is lossy — the originals are unrecoverable)."""
    import glob

    import pytest

    from pyspark.sql import functions as F

    from meilisync_spark.operators.ivfpq import save_index
    from meilisync_spark.operators.similarity import clustered_embeddings
    from meilisync_spark.sources.parquet import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = str(tmp_path / "ann")
    save_index(clustered_embeddings(emb), index)  # no seed_index_vectors

    texts = [
        r.text
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("text").limit(5).collect()
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    out = str(tmp_path / "stage_b0")
    spark.createDataFrame(
        [(i, t, "en", "crawl", len(t)) for i, t in enumerate(texts)], schema
    ).coalesce(1).write.parquet(out)
    os.rename(glob.glob(f"{out}/part-*.parquet")[0], f"{src}/b0.parquet")

    with pytest.raises(FileNotFoundError, match="seed_index_vectors"):
        main(["pipeline", "--source", src, "--corpus", str(tmp_path / "corpus"),
              "--index", index, "--checkpoint", str(tmp_path / "ckpt")])
    # nothing was appended to the served index either
    assert spark.read.parquet(index).where(F.col("vec_id") < 100).count() == \
        clustered_embeddings(emb).where(F.col("vec_id") < 100).count()


def test_cli_pipeline_docs_to_served_index(spark, tmp_path, capsys):
    """The one-command pipeline: two dropped batches stream through
    ingest (near-dups absent from the corpus), every surviving doc's
    feature-hash embedding is served by the ANN index (exhaustive-probe
    recall 1.0 vs brute-force cosine), later adds fold in through the
    same checkpointed command, and crossing --retrain-growth swaps in
    retrained quantizers."""
    import glob

    from pyspark.sql import functions as F

    from meilisync_spark.operators.ivfpq import load_index_meta, query_index
    from meilisync_spark.operators.similarity import (
        _recall_against_brute,
        text_embeddings,
    )
    from meilisync_spark.sources.parquet import load_table

    texts = [
        r.text
        for r in load_table(spark, SF_SMOKE, "documents")
        .where(F.length("text") > 120)
        .select("text")
        .limit(45)
        .collect()
    ]
    assert len(texts) == 45
    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def rows(ids_texts):
        return [(i, t, "en", "crawl", len(t)) for i, t in ids_texts]

    src = str(tmp_path / "incoming")
    os.makedirs(src)

    def stage(name, batch):
        out = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(out)
        part = glob.glob(f"{out}/part-*.parquet")[0]
        os.rename(part, f"{src}/{name}.parquet")

    # batch 0: 30 distinct docs + a near-dup variant of doc 10
    stage("b0", rows([(i, texts[i]) for i in range(30)]
                     + [(900_000, texts[10] + " extra")]))
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "ann")
    args = ["pipeline", "--source", src, "--corpus", corpus,
            "--index", index, "--checkpoint", str(tmp_path / "ckpt"),
            "--retrain-growth", "0.25"]
    assert main(args) == 0

    kept = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}
    # the planted near-dup is absent; the fixture corpus itself carries
    # planted near-dup pairs, so a few of the 30 may legitimately drop
    # too — lower ids win, so the query batch 0..7 survives
    assert 900_000 not in kept
    assert kept <= set(range(30)) and set(range(8)) <= kept
    n1 = len(kept)

    def served_recall() -> float:
        docs = spark.read.parquet(corpus).select("doc_id", "text")
        emb = text_embeddings(docs).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        ).withColumn("label", F.lit(0)).localCheckpoint(True)
        # (cosine_topk's brute side wants a label column; one flat
        # label = plain brute force over everything)
        qs = [(r.vec_id, list(r.embedding))
              for r in emb.where("vec_id < 8").collect()]
        kcells = len(load_index_meta(index)[1])
        topk = query_index(spark, index, qs, k=5, nprobe=kcells, refine=emb)
        rec = _recall_against_brute(emb, topk, 5).collect()
        return sum(r.recall for r in rec) / len(rec)

    assert spark.read.parquet(index).count() == n1
    assert served_recall() >= 0.999

    # batch 1: 15 new docs + a near-dup of doc 3 — rerun resumes the
    # checkpoint, embeds only the new corpus docs, and the 50% growth
    # crosses --retrain-growth 0.4: quantizers swap atomically
    stage("b1", rows([(100 + j, texts[30 + j]) for j in range(15)]
                     + [(900_001, texts[3] + " another")]))
    assert main(args) == 0
    kept2 = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}
    assert 900_001 not in kept2
    new_kept = kept2 - kept
    assert kept <= kept2 and new_kept <= {100 + j for j in range(15)}
    assert len(new_kept) / n1 > 0.25  # growth really crossed the trigger
    assert spark.read.parquet(index).count() == len(kept2)
    assert os.path.islink(index)  # the retrain swapped a fresh build in
    assert served_recall() >= 0.999
    out = capsys.readouterr().out
    assert "retrained 1" in out

    # third run with nothing new: idempotent no-op, no second retrain
    assert main(args) == 0
    assert spark.read.parquet(index).count() == len(kept2)
    assert "0 new, retrained 0" in capsys.readouterr().out


def test_cli_maintain(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    from meilisync_spark.operators import maintenance as M

    path = str(tmp_path / "aged")
    for b in range(9):
        df = spark.range(b * 20, (b + 1) * 20).select(
            F.col("id"), (F.col("id") % 4).alias("hb")
        )
        df.repartition(F.col("hb")).write.mode("append").partitionBy(
            "hb"
        ).parquet(path)
    before_rows = spark.read.parquet(path).count()
    n_before = M.table_file_count(path)
    rc = main(["maintain", "--index", path])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["dirs_compacted"] > 0 and stats["healed"] == 0
    assert M.table_file_count(path) < n_before
    assert spark.read.parquet(path).count() == before_rows


def test_cli_check_never_materialized_index_counts_zero(spark, tmp_path, capsys):
    """A log of only `view` events leaves no index on disk (an empty
    bucketed index is removed); `check` reads the absent index as
    empty — `index=0` — in single-index and config mode alike."""
    import duckdb

    con = duckdb.connect()
    events = str(tmp_path / "events.parquet")
    con.sql(f"COPY (SELECT event_id, ts, user_id, 'view' AS event_type, value, props "
            f"FROM '{SF_SMOKE}/events.parquet' ORDER BY event_id LIMIT 1) "
            f"TO '{events}' (FORMAT PARQUET)")
    sources = tmp_path / "sources"
    sources.mkdir()
    source = str(sources / "users.parquet")
    con.sql(f"COPY (SELECT 1::BIGINT AS user_id WHERE false) TO '{source}' (FORMAT PARQUET)")
    index = str(tmp_path / "index")
    rc = main(["start", "--events", events, "--index", index,
               "--checkpoint", str(tmp_path / "ckpt")])
    assert rc == 0 and not os.path.exists(index)
    capsys.readouterr()

    rc = main(["check", "--source", source, "--index", index, "--table", "users"])
    assert rc == 0
    assert "users: source=0 index=0 consistent" in capsys.readouterr().out

    cfg = tmp_path / "config.yml"
    cfg.write_text("\n".join([
        "sink:",
        f"  index_path: {tmp_path / 'indexes'}",
        "sync:",
        "  - table: users",
        "    pk: user_id",
        "    full: true",
    ]))
    rc = main(["check", "--config", str(cfg), "--sources", str(sources)])
    assert rc == 0
    assert "users: source=0 index=0 consistent" in capsys.readouterr().out


def test_cli_start_killed_mid_batch_resumes_to_oracle(spark, tmp_path):
    """A real SIGKILL of a `start` process while its second micro-batch
    is applied, then a re-run of `start` on the same checkpoint: the
    index equals the DuckDB oracle (last change per key) over the whole
    wal2json log. The --plugin hook marks batch 2; the kill takes the
    process group, so Spark's JVM dies with it."""
    import contextlib
    import random
    import signal
    import subprocess
    import sys
    import time

    import duckdb

    drop = tmp_path / "drop"
    drop.mkdir()
    rng = random.Random(7)
    live, changes, lsn = set(), [], 0
    for f in range(4):
        msgs = []
        for _ in range(3):
            rows = []
            for _ in range(50):
                pk = min(int(rng.paretovariate(1.2)), 100)
                op = rng.choice(["update", "update", "delete"]) if pk in live else "insert"
                v = round(rng.random() * 100, 2)
                live.symmetric_difference_update({pk} if op != "update" else set())
                changes.append((len(changes), pk, op, v))
                if op == "delete":
                    rows.append({"kind": "delete", "schema": "public", "table": "users",
                                 "oldkeys": {"keynames": ["id"], "keytypes": ["bigint"],
                                             "keyvalues": [pk]}})
                else:
                    rows.append({"kind": op, "schema": "public", "table": "users",
                                 "columnnames": ["id", "v"],
                                 "columntypes": ["bigint", "double precision"],
                                 "columnvalues": [pk, v]})
            lsn += 16
            msgs.append({"change": rows, "nextlsn": f"0/{lsn:X}",
                         "timestamp": "2023-11-14 22:13:20+00"})
        path = drop / f"wal-{f}.jsonl"
        path.write_text("\n".join(json.dumps(m) for m in msgs) + "\n")
        os.utime(path, (1_700_000_000 + 2 * f, 1_700_000_000 + 2 * f))

    index, ckpt = str(tmp_path / "index"), tmp_path / "ckpt"
    args = [
        "start", "--events", str(drop), "--index", index,
        "--checkpoint", str(ckpt), "--max-files", "1",
        "--source-format", "text", "--envelope", "wal2json",
        "--payload-schema", "id long, v double",
    ]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    with open(tmp_path / "start.log", "w") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "meilisync_spark.cli", *args,
             "--plugin", "tests.plugin_hooks.mark_second_batch"],
            cwd=tmp_path, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            deadline = time.monotonic() + 300
            while not (tmp_path / "batch2.marker").exists():
                assert proc.poll() is None, (tmp_path / "start.log").read_text()[-3000:]
                assert time.monotonic() < deadline, "batch 2 never started"
                time.sleep(0.05)
        finally:
            with contextlib.suppress(ProcessLookupError):  # the child may be gone already
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    assert len([c for c in os.listdir(ckpt / "commits") if c.isdigit()]) < 4

    assert main(args) == 0
    con = duckdb.connect()
    con.execute("CREATE TABLE ch (ord INT, pk BIGINT, op VARCHAR, v DOUBLE)")
    con.executemany("INSERT INTO ch VALUES (?, ?, ?, ?)", changes)
    oracle = set(con.sql(
        "SELECT pk, v FROM (SELECT *, row_number() OVER "
        "(PARTITION BY pk ORDER BY ord DESC) AS rn FROM ch) "
        "WHERE rn = 1 AND op <> 'delete'"
    ).fetchall())
    assert oracle
    assert {(r.pk, r.v) for r in spark.read.parquet(index).select("pk", "v").collect()} == oracle
