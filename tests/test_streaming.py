"""Streaming shell tests: micro-batch ordering, checkpoint resume, and
equivalence with the batch operators (SURVEY.md §5 style, hermetic)."""

from __future__ import annotations

import glob
import os
import shutil
import time

import duckdb
import pytest
from pyspark.sql import functions as F

from meilisync_spark.operators.apply import apply_changes
from meilisync_spark.operators.compaction import compact_last_wins
from meilisync_spark.config import Settings
from meilisync_spark.sources.events import normalize_events
from meilisync_spark.sources.parquet import load_table
from meilisync_spark.streaming.pipeline import run_cdc_pipeline
from tests.conftest import PAYLOAD_COLS, SF_SMOKE


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path)


def _chunked_events_dir(workdir: str) -> str:
    """Split the fixture event log into 3 files in seq order with
    strictly increasing mtimes so the file source replays them as 3
    ordered micro-batches."""
    con = duckdb.connect()
    out = os.path.join(workdir, "events_stream")
    os.makedirs(out)
    bounds = con.sql(
        f"SELECT max(event_id) FROM '{SF_SMOKE}/events.parquet'"
    ).fetchone()[0]
    cuts = [0, bounds // 3, 2 * bounds // 3, bounds + 1]
    for i in range(3):
        path = os.path.join(out, f"chunk_{i}.parquet")
        con.sql(
            f"COPY (SELECT * FROM '{SF_SMOKE}/events.parquet' "
            f"WHERE event_id >= {cuts[i]} AND event_id < {cuts[i + 1]} "
            f"ORDER BY event_id) TO '{path}' (FORMAT PARQUET)"
        )
        os.utime(path, (time.time() - 100 + i, time.time() - 100 + i))
    return out


def test_single_batch_stream_equals_batch_apply(spark, workdir):
    index = os.path.join(workdir, "index")
    run_cdc_pipeline(
        spark,
        f"{SF_SMOKE}/events.parquet",
        Settings.for_index(index),
        os.path.join(workdir, "ckpt"),
        available_now=True,
    )
    got = {r.pk: r for r in spark.read.parquet(index).collect()}

    ev = normalize_events(load_table(spark, SF_SMOKE, "events"))
    expected = {
        r.pk: r
        for r in compact_last_wins(ev, ["pk"], "seq")
        .where(F.col("op") != "delete")
        .select("pk", *PAYLOAD_COLS)
        .collect()
    }
    assert set(got) == set(expected)
    for pk, row in expected.items():
        assert (got[pk].value, got[pk].k) == (row.value, row.k)


def test_multi_batch_stream_equals_sequential_folds(spark, workdir):
    """3 ordered micro-batches == 3 sequential batch applies (the
    reference's flush-point semantics, meilisync/event.py:10-36)."""
    stream_dir = _chunked_events_dir(workdir)
    index = os.path.join(workdir, "index")
    run_cdc_pipeline(
        spark,
        stream_dir,
        Settings.for_index(index),
        os.path.join(workdir, "ckpt"),
        max_files_per_trigger=1,
        available_now=True,
    )
    got = {(r.pk): (r.value, r.k) for r in spark.read.parquet(index).collect()}

    # batch fold, chunk by chunk
    base = spark.createDataFrame([], "pk long, ts timestamp, value double, k long")
    for f in sorted(glob.glob(os.path.join(stream_dir, "*.parquet"))):
        ev = normalize_events(spark.read.parquet(f))
        base = apply_changes(base, ev, pk="pk", payload_cols=PAYLOAD_COLS)
        base = spark.createDataFrame(base.collect(), base.schema)  # pin
    expected = {r.pk: (r.value, r.k) for r in base.collect()}
    assert got == expected


def test_catch_up_cut_by_timeout_raises(spark, workdir):
    """An availableNow run still behind at its timeout raises instead
    of returning as if caught up; the next run resumes from the
    checkpoint and finishes."""
    stream_dir = _chunked_events_dir(workdir)
    index = os.path.join(workdir, "index")
    ckpt = os.path.join(workdir, "ckpt")

    def slow(df):
        time.sleep(4)
        return df

    with pytest.raises(TimeoutError, match="batches committed"):
        run_cdc_pipeline(
            spark, stream_dir, Settings.for_index(index), ckpt, max_files_per_trigger=1,
            available_now=True, pre_batch=slow, timeout_sec=2.0,
        )

    def commits():
        d = os.path.join(ckpt, "commits")
        return len([c for c in os.listdir(d) if c.isdigit()]) if os.path.isdir(d) else 0

    assert commits() < 3
    run_cdc_pipeline(
        spark, stream_dir, Settings.for_index(index), ckpt, max_files_per_trigger=1, available_now=True
    )
    assert commits() == 3


def test_checkpoint_resume_no_reprocessing(spark, workdir):
    """T1/T8: restarting from the checkpoint neither loses nor
    re-applies events — adding a new file after a completed run only
    applies the new file."""
    stream_dir = _chunked_events_dir(workdir)
    files = sorted(glob.glob(os.path.join(stream_dir, "*.parquet")))
    staged = os.path.join(workdir, "staged")
    os.makedirs(staged)
    # hold back the last chunk
    held = files[-1]
    shutil.move(held, os.path.join(staged, os.path.basename(held)))

    index = os.path.join(workdir, "index")
    ckpt = os.path.join(workdir, "ckpt")
    run_cdc_pipeline(spark, stream_dir, Settings.for_index(index), ckpt, available_now=True)
    partial = {r.pk: (r.value, r.k) for r in spark.read.parquet(index).collect()}

    # resume with the held-back chunk now present
    back = os.path.join(stream_dir, os.path.basename(held))
    shutil.move(os.path.join(staged, os.path.basename(held)), back)
    os.utime(back, None)
    run_cdc_pipeline(spark, stream_dir, Settings.for_index(index), ckpt, available_now=True)
    final = {r.pk: (r.value, r.k) for r in spark.read.parquet(index).collect()}

    # full-log batch reference
    ev = normalize_events(load_table(spark, SF_SMOKE, "events"))
    # sequential: first two chunks then the third must equal the
    # streaming result exactly
    base = spark.createDataFrame([], "pk long, ts timestamp, value double, k long")
    for f in sorted(glob.glob(os.path.join(stream_dir, "*.parquet"))):
        evf = normalize_events(spark.read.parquet(f))
        base = apply_changes(base, evf, pk="pk", payload_cols=PAYLOAD_COLS)
        base = spark.createDataFrame(base.collect(), base.schema)
    expected = {r.pk: (r.value, r.k) for r in base.collect()}
    assert final == expected
    assert partial != final or len(partial) == len(final)


def test_json_event_stream_equals_parquet(spark, workdir, duck):
    """A newline-JSON CDC drop directory lands on exactly the same
    final index state as the parquet source — the transport never
    changes semantics (S4-S6 via another file format)."""
    import duckdb as _duck
    from pyspark.sql import types as T

    con = _duck.connect()
    json_dir = os.path.join(workdir, "events_json")
    os.makedirs(json_dir)
    # ISO-8601 ts so the streaming json reader parses timestamps directly
    con.sql(
        f"COPY (SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') AS ts, "
        f"user_id, event_type, value, props "
        f"FROM '{SF_SMOKE}/events.parquet' ORDER BY event_id) "
        f"TO '{json_dir}/events.json' (FORMAT JSON)"
    )
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])
    j_index = os.path.join(workdir, "idx_json")
    run_cdc_pipeline(
        spark, json_dir, Settings.for_index(j_index), os.path.join(workdir, "ckpt_j"),
        available_now=True, source_format="json", source_schema=schema,
    )
    p_index = os.path.join(workdir, "idx_parquet")
    run_cdc_pipeline(
        spark, f"{SF_SMOKE}/events.parquet", Settings.for_index(p_index),
        os.path.join(workdir, "ckpt_p"), available_now=True,
    )
    got_j = {r.pk: (r.value, r.k, r.ts) for r in spark.read.parquet(j_index).collect()}
    got_p = {r.pk: (r.value, r.k, r.ts) for r in spark.read.parquet(p_index).collect()}
    assert got_j == got_p


def test_orc_event_stream_equals_parquet(spark, workdir):
    """An ORC CDC drop directory lands on exactly the same final index
    state as the parquet source — ORC is self-describing, so no
    explicit schema is needed (S4-S6 via another columnar format)."""
    orc_dir = os.path.join(workdir, "events_orc")
    # Spark writes the ORC copy (DuckDB has no ORC writer); timestamps
    # already micros after the loader's nanos conversion
    from meilisync_spark.sources.parquet import load_table

    load_table(spark, SF_SMOKE, "events").write.orc(orc_dir)
    o_index = os.path.join(workdir, "idx_orc")
    run_cdc_pipeline(
        spark, orc_dir, Settings.for_index(o_index), os.path.join(workdir, "ckpt_o"),
        available_now=True, source_format="orc",
    )
    p_index = os.path.join(workdir, "idx_parquet2")
    run_cdc_pipeline(
        spark, f"{SF_SMOKE}/events.parquet", Settings.for_index(p_index),
        os.path.join(workdir, "ckpt_p2"), available_now=True,
    )
    got_o = {r.pk: (r.value, r.k, r.ts) for r in spark.read.parquet(o_index).collect()}
    got_p = {r.pk: (r.value, r.k, r.ts) for r in spark.read.parquet(p_index).collect()}
    assert got_o == got_p


def test_maxwell_drop_dir_tails_end_to_end(spark, tmp_path):
    """The reference tails mysql's binlog socket (source/mysql.py:81-126);
    the closest fully-runnable Spark analogue is a raw-envelope drop
    directory: Maxwell JSON lines stream in via the text source, a
    connector normalizer replaces normalize_events, and the same
    compact->MERGE shell lands the same final state — multi-batch, with
    checkpoint-resumed tailing across a second drop."""
    import json

    from pyspark.sql import types as T

    from meilisync_spark.sources.cdc_connectors import normalize_maxwell

    payload_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )

    def mxw(i, typ, pk, v):
        return json.dumps(
            {"database": "app", "table": "users", "type": typ,
             "ts": 1700000000 + i, "position": f"master.000001:{i}",
             "data": {"id": pk, "v": v}})

    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "f1.jsonl").write_text("\n".join([
        mxw(1, "insert", 1, 1.0),
        mxw(2, "insert", 2, 2.0),
        mxw(3, "update", 1, 1.5),
    ]) + "\n")

    def norm(df):
        ev = normalize_maxwell(df, payload_schema, pk="id")
        return ev.select("seq", "table", "op", "pk", F.col("payload.v").alias("v"))

    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    kw = dict(source_format="text", normalizer=norm,
              available_now=True, max_files_per_trigger=1)
    run_cdc_pipeline(spark, str(drop), Settings.for_index(index, pk="id"), ckpt, **kw)
    assert {(r.pk, r.v) for r in spark.read.parquet(index).collect()} == {
        (1, 1.5), (2, 2.0)}

    # second drop: delete 2, update 1 — the checkpoint resumes past f1
    (drop / "f2.jsonl").write_text("\n".join([
        mxw(4, "delete", 2, 2.0),
        mxw(5, "update", 1, 9.0),
    ]) + "\n")
    run_cdc_pipeline(spark, str(drop), Settings.for_index(index, pk="id"), ckpt, **kw)
    assert {(r.pk, r.v) for r in spark.read.parquet(index).collect()} == {(1, 9.0)}
