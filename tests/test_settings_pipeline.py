"""Multi-sync config pipeline + bucketed incremental apply.

Covers the round-2 wiring: Settings.syncs routing (P3) with per-sync
fields maps (P1) and pks, ordered plugin chains (U1), and the
pk-bucketed index layout where a micro-batch rewrites only the buckets
it touches (the O(batch)-not-O(index) CDC shape)."""

from __future__ import annotations

import glob
import hashlib
import os
import zlib

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from meilisync_spark.config import Settings, Sync, SinkSettings
from meilisync_spark.operators.apply import apply_changes
from meilisync_spark.operators.bucketed import (
    BUCKET_COL,
    apply_changes_bucketed,
    read_buckets,
)
from meilisync_spark.operators.compaction import compact_last_wins
from meilisync_spark.operators.project import apply_envelope_fields
from meilisync_spark.sources.events import normalize_events
from meilisync_spark.sources.parquet import load_table
from meilisync_spark.streaming.pipeline import run_cdc_pipeline
from tests.conftest import PAYLOAD_COLS, SF_SMOKE

N_BUCKETS = 8


def _bucket_of(pk: int) -> int:
    # mirror of operators/bucketed.bucket_expr: crc32 of the
    # stringified pk — Spark's crc32 over UTF-8 == zlib.crc32
    return zlib.crc32(str(pk).encode()) % N_BUCKETS


def _file_hashes(index: str) -> dict[str, str]:
    out = {}
    for f in glob.glob(os.path.join(index, "**", "*.parquet"), recursive=True):
        with open(f, "rb") as fh:
            out[os.path.relpath(f, index)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _state(spark, index: str) -> dict:
    return {
        r.pk: (r.value, r.k)
        for r in read_buckets(spark, index).select("pk", "value", "k").collect()
    }


def test_bucketed_apply_touches_only_batch_buckets(spark, tmp_path):
    index = str(tmp_path / "index")
    ev = normalize_events(load_table(spark, SF_SMOKE, "events")).select(
        "pk", "seq", "op", *PAYLOAD_COLS
    )
    # bootstrap from the full log
    apply_changes_bucketed(
        spark, index, ev, pk="pk", payload_cols=PAYLOAD_COLS, num_buckets=N_BUCKETS
    )
    before = _file_hashes(index)
    state_before = _state(spark, index)
    assert len(before) >= N_BUCKETS // 2  # layout actually bucketed

    # delta touching exactly one bucket: updates for pks in bucket 0
    pks = [pk for pk in state_before if _bucket_of(pk) == 0][:3]
    assert pks, "fixture has no pk in bucket 0"
    delta = spark.createDataFrame(
        [(pk, 10_000_000 + i, "update", None, 123.0, None) for i, pk in enumerate(pks)],
        "pk long, seq long, op string, ts timestamp, value double, k long",
    )
    touched = apply_changes_bucketed(
        spark, index, delta, pk="pk", payload_cols=PAYLOAD_COLS, num_buckets=N_BUCKETS
    )
    assert touched == [0]

    after = _file_hashes(index)
    changed = {f for f in before if before[f] != after.get(f)}
    for f in set(before) | set(after):
        in_bucket0 = f.startswith(f"{BUCKET_COL}=0{os.sep}")
        if in_bucket0:
            continue  # the touched bucket may rewrite freely
        assert before.get(f) == after.get(f), f"untouched bucket file changed: {f}"
    assert any(f.startswith(f"{BUCKET_COL}=0{os.sep}") for f in changed | set(after))

    # final state equals the batch MERGE on the pre-delta state
    expected = dict(state_before)
    for pk in pks:
        expected[pk] = (123.0, expected[pk][1])  # partial update keeps k
    assert _state(spark, index) == expected


@pytest.mark.parametrize("num_buckets", [N_BUCKETS, 64])
def test_bucketed_stream_equals_full_rewrite(spark, tmp_path, num_buckets):
    """run_cdc_pipeline(num_buckets=N) lands on exactly the same final
    state as the full-rewrite form (the oracle-checked baseline,
    forced with num_buckets=0 now that fresh indexes bucket by
    default), over a bootstrap batch and then per-batch MERGEs.

    64 buckets is more than the test session's shuffle partitions and
    more than Spark's 32-path listing threshold: a write task then
    carries several buckets, and each bucket directory must still hold
    exactly one data file."""
    events = pq.read_table(
        os.path.join(os.path.dirname(SF_SMOKE), "sf0.01", "events.parquet")
    ).sort_by("event_id")
    drops = tmp_path / "drops"
    drops.mkdir()
    step = -(-events.num_rows // 3)
    for i in range(3):
        path = str(drops / f"part-{i}.parquet")
        pq.write_table(events.slice(i * step, step), path)
        os.utime(path, (1_700_000_000 + 2 * i, 1_700_000_000 + 2 * i))

    flat_index = str(tmp_path / "flat")
    run_cdc_pipeline(
        spark, str(drops), Settings.for_index(flat_index), str(tmp_path / "ckpt_flat"),
        available_now=True, num_buckets=0, max_files_per_trigger=1,
    )
    flat = {r.pk: (r.value, r.k) for r in spark.read.parquet(flat_index).collect()}

    b_index = str(tmp_path / "bucketed")
    run_cdc_pipeline(
        spark, str(drops), Settings.for_index(b_index), str(tmp_path / "ckpt_b"),
        available_now=True, num_buckets=num_buckets, max_files_per_trigger=1,
    )
    commits = os.listdir(tmp_path / "ckpt_b" / "commits")
    assert len([c for c in commits if c.isdigit()]) == 3
    assert _state(spark, b_index) == flat

    dirs = {
        int(d.split("=")[1]): d for d in os.listdir(b_index)
        if d.startswith(f"{BUCKET_COL}=")
    }
    assert set(dirs) == {
        zlib.crc32(str(pk).encode()) % num_buckets for pk in flat
    }
    for d in dirs.values():
        data = [f for f in os.listdir(os.path.join(b_index, d)) if f.endswith(".parquet")]
        assert len(data) == 1, (d, data)


def test_fresh_index_buckets_by_default(spark, tmp_path):
    """Layout defaults (resolve_num_buckets): a FRESH index comes up
    bucketed with no flag; a restart keeps the recorded layout without
    re-passing --buckets; a pre-existing flat index stays flat; 0
    forces flat."""
    from meilisync_spark.operators.bucketed import (
        DEFAULT_NUM_BUCKETS,
        read_meta,
        resolve_num_buckets,
    )

    index = str(tmp_path / "auto")
    run_cdc_pipeline(
        spark, f"{SF_SMOKE}/events.parquet", Settings.for_index(index),
        str(tmp_path / "ckpt_a"), available_now=True,
    )
    meta = read_meta(index)
    assert meta and meta["num_buckets"] == DEFAULT_NUM_BUCKETS

    # same final state as the forced-flat baseline
    flat_index = str(tmp_path / "flat0")
    run_cdc_pipeline(
        spark, f"{SF_SMOKE}/events.parquet", Settings.for_index(flat_index),
        str(tmp_path / "ckpt_f"), available_now=True, num_buckets=0,
    )
    flat = {r.pk: (r.value, r.k) for r in spark.read.parquet(flat_index).collect()}
    assert _state(spark, index) == flat
    assert read_meta(flat_index) is None  # forced flat: no bucket layout

    # restart with no flag keeps the recorded layout (meta intact)
    run_cdc_pipeline(
        spark, f"{SF_SMOKE}/events.parquet", Settings.for_index(index),
        str(tmp_path / "ckpt_a"), available_now=True,
    )
    assert read_meta(index)["num_buckets"] == DEFAULT_NUM_BUCKETS
    assert _state(spark, index) == flat

    # a pre-existing flat index never silently converts
    assert resolve_num_buckets(flat_index, None) == 0
    run_cdc_pipeline(
        spark, f"{SF_SMOKE}/events.parquet", Settings.for_index(flat_index),
        str(tmp_path / "ckpt_f"), available_now=True,
    )
    assert read_meta(flat_index) is None


def _multi_table_events(spark, tmp_path) -> str:
    """Raw event log carrying a source-table column: even user_ids are
    'users' rows, odd are 'accounts' rows."""
    raw = load_table(spark, SF_SMOKE, "events").withColumn(
        "tbl", F.when(F.col("user_id") % 2 == 0, "users").otherwise("accounts")
    )
    path = str(tmp_path / "raw_events")
    raw.write.mode("overwrite").parquet(path)
    return path


def test_settings_pipeline_routes_two_syncs(spark, tmp_path):
    """Each table lands in its own index with its own fields map and pk
    (reference start loop, meilisync/main.py:107-109)."""
    events_path = _multi_table_events(spark, tmp_path)
    sink_root = str(tmp_path / "indexes")
    settings = Settings(
        sink=SinkSettings(index_path=sink_root),
        syncs=[
            Sync(full=True, table="users", pk="user_id",
                 fields={"ts": None, "value": "amount", "k": None}),
            Sync(full=True, table="accounts", pk="event_id", index="acct_idx"),
        ],
    )
    run_cdc_pipeline(
        spark, events_path, settings, str(tmp_path / "ckpt"),
        table_col="tbl", available_now=True,
    )

    users_idx = os.path.join(sink_root, "users")
    acct_idx = os.path.join(sink_root, "acct_idx")
    assert os.path.exists(users_idx) and os.path.exists(acct_idx)

    raw = spark.read.parquet(events_path)

    # users: fields-renamed payload, pk=user_id
    ev_u = apply_envelope_fields(
        normalize_events(raw.where(F.col("tbl") == "users"), table="users",
                         pk_col="user_id"),
        {"ts": None, "value": "amount", "k": None},
    )
    base = spark.createDataFrame([], ev_u.select("pk", "ts", "amount", "k").schema)
    exp_u = {
        r.pk: (r.amount, r.k)
        for r in apply_changes(base, ev_u, pk="pk",
                               payload_cols=["ts", "amount", "k"]).collect()
    }
    got_u = {r.pk: (r.amount, r.k) for r in spark.read.parquet(users_idx).collect()}
    assert got_u == exp_u
    assert "amount" in spark.read.parquet(users_idx).columns  # rename applied

    # accounts: identity payload, pk=event_id (every event unique)
    ev_a = normalize_events(raw.where(F.col("tbl") == "accounts"),
                            table="accounts", pk_col="event_id")
    exp_a = {
        r.pk: (r.value, r.k)
        for r in compact_last_wins(ev_a, ["pk"], "seq")
        .where(F.col("op") != "delete").collect()
    }
    got_a = {r.pk: (r.value, r.k) for r in spark.read.parquet(acct_idx).collect()}
    assert got_a == exp_a


def test_plugin_chain_order(spark, tmp_path):
    """Global chain runs before the per-sync chain, in declaration order
    (reference meili.py:95-106): value*2 then +1 ⇒ 2v+1, not 2(v+1)."""
    events_path = f"{SF_SMOKE}/events.parquet"
    sink_root = str(tmp_path / "indexes")
    settings = Settings(
        sink=SinkSettings(index_path=sink_root),
        plugins=["tests.plugin_hooks.double_value"],
        syncs=[Sync(full=True, table="users", pk="user_id",
                    plugins=["tests.plugin_hooks.add_one_value"])],
    )
    run_cdc_pipeline(
        spark, events_path, settings, str(tmp_path / "ckpt"), available_now=True,
    )

    plain = str(tmp_path / "plain")
    run_cdc_pipeline(
        spark, events_path, Settings.for_index(plain), str(tmp_path / "ckpt2"), available_now=True
    )
    expected = {
        r.pk: (None if r.value is None else r.value * 2 + 1)
        for r in spark.read.parquet(plain).collect()
    }
    got = {
        r.pk: r.value
        for r in spark.read.parquet(os.path.join(sink_root, "users")).collect()
    }
    assert got == expected


def test_settings_pipeline_bucketed_mode(spark, tmp_path):
    """Multi-sync routing composes with the bucketed index layout: same
    final state as the flat settings run, bucketed directory layout."""
    events_path = _multi_table_events(spark, tmp_path)
    flat_root = str(tmp_path / "flat")
    b_root = str(tmp_path / "bucketed")
    syncs = [
        Sync(full=True, table="users", pk="user_id"),
        Sync(full=True, table="accounts", pk="event_id", index="acct_idx"),
    ]
    run_cdc_pipeline(
        spark, events_path,
        Settings(sink=SinkSettings(index_path=flat_root), syncs=syncs),
        str(tmp_path / "ckpt_f"), table_col="tbl", available_now=True,
    )
    run_cdc_pipeline(
        spark, events_path,
        Settings(sink=SinkSettings(index_path=b_root), syncs=syncs),
        str(tmp_path / "ckpt_b"), table_col="tbl", available_now=True,
        num_buckets=N_BUCKETS,
    )
    for name in ("users", "acct_idx"):
        flat = {
            r.pk: (r.value, r.k)
            for r in spark.read.parquet(os.path.join(flat_root, name)).collect()
        }
        assert _state(spark, os.path.join(b_root, name)) == flat
        assert any(
            e.startswith(f"{BUCKET_COL}=")
            for e in os.listdir(os.path.join(b_root, name))
        )


def test_settings_pipeline_checkpoint_resume(spark, tmp_path):
    """Restarting the multi-sync pipeline from its checkpoint applies
    only new files — per-sync indexes neither lose nor re-apply events
    (T1/S7 in config mode)."""
    import duckdb

    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir)
    con = duckdb.connect()
    cut = con.sql(f"SELECT max(event_id)/2 FROM '{SF_SMOKE}/events.parquet'").fetchone()[0]
    con.sql(
        f"COPY (SELECT * FROM '{SF_SMOKE}/events.parquet' WHERE event_id <= {cut} "
        f"ORDER BY event_id) TO '{stream_dir}/part1.parquet' (FORMAT PARQUET)"
    )
    sink_root = str(tmp_path / "indexes")
    settings = Settings(
        sink=SinkSettings(index_path=sink_root),
        syncs=[Sync(full=True, table="users", pk="user_id")],
    )
    ckpt = str(tmp_path / "ckpt")
    run_cdc_pipeline(spark, stream_dir, settings, ckpt, available_now=True)
    partial = {
        r.pk: (r.value, r.k)
        for r in spark.read.parquet(os.path.join(sink_root, "users")).collect()
    }

    con.sql(
        f"COPY (SELECT * FROM '{SF_SMOKE}/events.parquet' WHERE event_id > {cut} "
        f"ORDER BY event_id) TO '{stream_dir}/part2.parquet' (FORMAT PARQUET)"
    )
    run_cdc_pipeline(spark, stream_dir, settings, ckpt, available_now=True)
    final = {
        r.pk: (r.value, r.k)
        for r in spark.read.parquet(os.path.join(sink_root, "users")).collect()
    }

    # sequential batch fold over the two chunks = the expected state
    base = spark.createDataFrame([], "pk long, ts timestamp, value double, k long")
    for part in ("part1.parquet", "part2.parquet"):
        ev = normalize_events(spark.read.parquet(os.path.join(stream_dir, part)))
        base = apply_changes(base, ev, pk="pk", payload_cols=["ts", "value", "k"])
        base = spark.createDataFrame(base.collect(), base.schema)
    expected = {r.pk: (r.value, r.k) for r in base.collect()}
    assert final == expected
    assert partial != final  # the second chunk really changed state


def test_apply_changes_schema_drift(spark):
    """Schema drift in both directions (reference sink is schemaless —
    meilisync/schemas.py:16 carries an untyped dict, so an upstream
    ALTER TABLE just starts emitting the new field):

    - column only in changes → existing rows NULL, events carry it;
    - column only in base → updates keep the sink value, creates null
      it (full-document replace)."""
    base = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")],
        "pk long, value double, legacy string",
    )
    changes = spark.createDataFrame(
        [
            (1, 1, "update", 11.0, "x"),   # update: gains tag, keeps legacy
            (3, 2, "create", 33.0, "y"),   # create: full replace nulls legacy
            (4, 3, "create", 44.0, "z"),   # brand-new pk
        ],
        "pk long, seq long, op string, value double, tag string",
    )
    out = {r.pk: r for r in apply_changes(base, changes, pk="pk").collect()}
    assert set(out) == {1, 2, 3, 4}
    # union schema, base-first order
    assert list(out[1].asDict()) == ["pk", "value", "legacy", "tag"]
    assert (out[1].value, out[1].legacy, out[1].tag) == (11.0, "a", "x")
    assert (out[2].value, out[2].legacy, out[2].tag) == (20.0, "b", None)
    assert (out[3].value, out[3].legacy, out[3].tag) == (33.0, None, "y")
    assert (out[4].value, out[4].legacy, out[4].tag) == (44.0, None, "z")


def test_apply_changes_type_widening_drift(spark):
    """Type drift of an existing column: the safe ALTER TABLE widenings
    (int→long, float→double, decimal growth) resolve to the wider type
    on either side of the merge; incompatible drift fails loudly."""
    import pytest
    from decimal import Decimal

    base = spark.createDataFrame(
        [(1, 10, 1.5, Decimal("99.99"))],
        "pk long, n int, x float, amt decimal(10,2)",
    )
    changes = spark.createDataFrame(
        [
            (1, 1, "update", 2**40, None, None),
            (2, 2, "create", 7, 2.25, Decimal("123.456")),
        ],
        "pk long, seq long, op string, n long, x double, amt decimal(12,3)",
    )
    out = apply_changes(base, changes, pk="pk")
    got = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert got == {
        "pk": "bigint", "n": "bigint", "x": "double", "amt": "decimal(12,3)"
    }
    rows = {r.pk: r for r in out.collect()}
    # widened update lands; untouched base values survive the cast
    assert rows[1].n == 2**40 and rows[1].x == 1.5
    assert rows[1].amt == Decimal("99.990")
    assert rows[2].amt == Decimal("123.456")

    # round-trip: the widened state merges again with the ORIGINAL
    # narrow change schema (changes narrower than base also widen up)
    more = spark.createDataFrame(
        [(1, 3, "update", 5, None, None)],
        "pk long, seq long, op string, n int, x float, amt decimal(10,2)",
    )
    out2 = apply_changes(out, more, pk="pk")
    assert {f.name: f.dataType.simpleString() for f in out2.schema.fields} == got
    assert {r.pk: r.n for r in out2.collect()}[1] == 5

    # incompatible drift: loud failure, not a silent cast
    bad = spark.createDataFrame(
        [(1, 4, "update", "oops")], "pk long, seq long, op string, n string"
    )
    with pytest.raises(ValueError, match="incompatible type drift"):
        apply_changes(base, bad, pk="pk")


def test_bucketed_apply_schema_drift(spark, tmp_path):
    """A drifted micro-batch only rewrites its touched buckets: old
    buckets keep the old parquet schema on disk, and read_buckets's
    mergeSchema view unifies them (missing column = NULL)."""
    index = str(tmp_path / "index")
    b0 = spark.createDataFrame(
        [(pk, pk, "create", float(pk)) for pk in range(40)],
        "pk long, seq long, op string, value double",
    )
    apply_changes_bucketed(spark, index, b0, pk="pk", num_buckets=N_BUCKETS)
    before = _file_hashes(index)

    # drifted delta: new 'tag' column, pks confined to bucket 0
    pks = [pk for pk in range(40) if _bucket_of(pk) == 0]
    assert pks
    delta = spark.createDataFrame(
        [(pk, 100 + pk, "update", None, "new") for pk in pks],
        "pk long, seq long, op string, value double, tag string",
    )
    touched = apply_changes_bucketed(spark, index, delta, pk="pk",
                                     num_buckets=N_BUCKETS)
    assert touched == [0]

    after = _file_hashes(index)
    for f in before:
        if not f.startswith(f"{BUCKET_COL}=0{os.sep}"):
            assert before[f] == after.get(f), f"untouched bucket rewrote: {f}"

    got = {r.pk: (r.value, r.tag)
           for r in read_buckets(spark, index).select("pk", "value", "tag").collect()}
    for pk in range(40):
        if pk in pks:
            assert got[pk] == (float(pk), "new")   # update kept value, gained tag
        else:
            assert got[pk] == (float(pk), None)    # old-schema bucket: NULL tag


def test_rebucket_and_layout_guard(spark, tmp_path):
    """rebucket_index changes N with identical final state; a merge with
    the wrong N fails loudly instead of silently splitting pks across
    layouts."""
    import pytest

    from meilisync_spark.operators.bucketed import rebucket_index

    index = str(tmp_path / "index")
    b0 = spark.createDataFrame(
        [(pk, pk, "create", float(pk)) for pk in range(40)],
        "pk long, seq long, op string, value double",
    )
    apply_changes_bucketed(spark, index, b0, pk="pk", num_buckets=4)
    before = _state_v = {r.pk: r.value for r in read_buckets(spark, index).collect()}

    with pytest.raises(ValueError, match="rebucket_index"):
        apply_changes_bucketed(spark, index, b0, pk="pk", num_buckets=16)

    rebucket_index(spark, index, pk="pk", new_num_buckets=16)
    dirs = {e for e in os.listdir(index) if e.startswith(f"{BUCKET_COL}=")}
    assert len(dirs) > 4  # actually re-spread
    assert {r.pk: r.value for r in read_buckets(spark, index).collect()} == before

    # merges continue under the new layout
    delta = spark.createDataFrame(
        [(1, 1000, "update", 99.0)], "pk long, seq long, op string, value double"
    )
    apply_changes_bucketed(spark, index, delta, pk="pk", num_buckets=16)
    after = {r.pk: r.value for r in read_buckets(spark, index).collect()}
    assert after[1] == 99.0 and after[2] == 2.0


def test_rebucket_crash_window_rolls_back_not_bootstraps(spark, tmp_path):
    """A crash between rebucket's park-old and move-in-new renames must
    NOT lose the index: the parked _old-* copy is restored by the next
    batch's sweep instead of the absent path reading as empty (total
    silent index loss + fresh bootstrap)."""
    import shutil

    index = str(tmp_path / "index")
    b0 = spark.createDataFrame(
        [(pk, pk, "create", float(pk)) for pk in range(40)],
        "pk long, seq long, op string, value double",
    )
    apply_changes_bucketed(spark, index, b0, pk="pk", num_buckets=4)
    before = {r.pk: r.value for r in read_buckets(spark, index).collect()}

    # reconstruct the mid-swap crash state: old layout parked, index
    # path absent, staging half-written
    os.rename(index, index + "_old-deadbeef")
    os.makedirs(index + "_stg-deadbeef/bucket=0")

    delta = spark.createDataFrame(
        [(1, 1000, "update", 99.0)], "pk long, seq long, op string, value double"
    )
    apply_changes_bucketed(spark, index, delta, pk="pk", num_buckets=4)
    got = {r.pk: r.value for r in read_buckets(spark, index).collect()}
    assert got == {**before, 1: 99.0}  # rolled back, then merged — nothing lost
    leftovers = [
        e for e in os.listdir(tmp_path) if "_old-" in e or "_stg-" in e
    ]
    assert leftovers == []

    # crash AFTER the swap completed: live index + stale _old copy →
    # the sweep drops the stale copy and leaves the live index alone
    shutil.copytree(index, index + "_old-cafecafe")
    apply_changes_bucketed(spark, index, delta, pk="pk", num_buckets=4)
    assert not os.path.exists(index + "_old-cafecafe")
    assert {r.pk: r.value for r in read_buckets(spark, index).collect()} == {
        **before, 1: 99.0
    }


def test_prev_park_of_an_older_rebucket_is_restored(spark, tmp_path):
    """Older releases parked a rebucketed index as ``{index}_prev-<tag>``.
    A crash they left in that window (index path absent, new layout
    staged) is restored by the sweep like any parked directory, not
    read as an empty index and bootstrapped from one batch."""
    index = str(tmp_path / "index")
    schema = "pk long, seq long, op string, value double"
    b0 = spark.createDataFrame([(pk, pk, "create", float(pk)) for pk in range(40)], schema)
    apply_changes_bucketed(spark, index, b0, pk="pk", num_buckets=4)
    before = {r.pk: r.value for r in read_buckets(spark, index).collect()}
    os.rename(index, index + "_prev-deadbeef")
    os.makedirs(index + "_stg-deadbeef/bucket=0")

    delta = spark.createDataFrame([(1, 1000, "update", 99.0)], schema)
    apply_changes_bucketed(spark, index, delta, pk="pk", num_buckets=4)
    assert {r.pk: r.value for r in read_buckets(spark, index).collect()} == {**before, 1: 99.0}
    assert os.listdir(tmp_path) == ["index"]


def test_sweep_spares_sibling_indexes_named_like_leftovers(spark, tmp_path):
    """Leftover names carry a dash after their kind. Sibling indexes
    that share the sink directory and are named ``{index}_old``,
    ``{index}_v`` etc. are not leftovers: a batch on ``index`` keeps
    them, and an absent ``index`` is not restored from ``index_old``."""
    from meilisync_spark.operators.bucketed import DEFAULT_NUM_BUCKETS, resolve_num_buckets

    index = str(tmp_path / "index")
    siblings = [f"index_{kind}" for kind in ("old", "prev", "stg", "tmp", "lnk", "v")]
    for name in siblings:
        os.makedirs(tmp_path / name)
        (tmp_path / name / "keep").write_text(name)
    assert resolve_num_buckets(index, None) == DEFAULT_NUM_BUCKETS
    assert not os.path.lexists(index)

    schema = "pk long, seq long, op string, value double"
    for seq in (1, 2):  # bootstrap, then a per-batch MERGE
        batch = spark.createDataFrame([(pk, seq, "create", 1.0) for pk in range(8)], schema)
        apply_changes_bucketed(spark, index, batch, pk="pk", num_buckets=4)
    assert sorted(os.listdir(tmp_path)) == sorted(["index", *siblings])
    assert all((tmp_path / name / "keep").read_text() == name for name in siblings)


def test_cli_rebucket_missing_index_is_an_error(tmp_path, capsys):
    from meilisync_spark.cli import main

    rc = main([
        "rebucket", "--index", str(tmp_path / "nope"), "--buckets", "8",
    ])
    assert rc == 1
    assert "no index at" in capsys.readouterr().err


def test_settings_pipeline_fields_drift_across_restarts(spark, tmp_path):
    """A fields-map edit between runs is the config-level ALTER TABLE:
    restarting with a widened map adds the new column (old rows NULL,
    new events carry it); the narrowed-then-widened index never loses a
    column it already had. Stream schemas are fixed within a run, so
    drift always arrives exactly this way — across restarts."""
    import duckdb

    con = duckdb.connect()
    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir)
    cut = con.sql(
        f"SELECT quantile_cont(event_id, 0.5) FROM '{SF_SMOKE}/events.parquet'"
    ).fetchone()[0]
    con.sql(
        f"COPY (SELECT * FROM '{SF_SMOKE}/events.parquet' WHERE event_id <= {cut} "
        f"ORDER BY event_id) TO '{stream_dir}/part1.parquet' (FORMAT PARQUET)"
    )

    sink_root = str(tmp_path / "indexes")
    ckpt = str(tmp_path / "ckpt")
    narrow = Settings(
        sink=SinkSettings(index_path=sink_root),
        syncs=[Sync(full=True, table="users", pk="user_id", fields={"ts": None, "value": None})],
    )
    run_cdc_pipeline(spark, stream_dir, narrow, ckpt, available_now=True)
    idx = os.path.join(sink_root, "users")
    data_cols = [c for c in spark.read.parquet(idx).columns if c != "bucket"]
    assert sorted(data_cols) == ["pk", "ts", "value"]

    # widen: second chunk replayed through the full payload (adds k)
    con.sql(
        f"COPY (SELECT * FROM '{SF_SMOKE}/events.parquet' WHERE event_id > {cut} "
        f"ORDER BY event_id) TO '{stream_dir}/part2.parquet' (FORMAT PARQUET)"
    )
    wide = Settings(
        sink=SinkSettings(index_path=sink_root),
        syncs=[Sync(full=True, table="users", pk="user_id")],  # full payload: ts, value, k
    )
    run_cdc_pipeline(spark, stream_dir, wide, ckpt, available_now=True)
    out = spark.read.parquet(idx).drop("bucket")
    assert sorted(out.columns) == ["k", "pk", "ts", "value"]
    rows = {r.pk: r for r in out.collect()}

    # expected: fold chunk1 (narrow fields) then chunk2 (full) through
    # the same union-schema MERGE
    ev1 = apply_envelope_fields(
        normalize_events(spark.read.parquet(os.path.join(stream_dir, "part1.parquet"))),
        {"ts": None, "value": None},
    ).drop("table")
    base = spark.createDataFrame([], "pk long, ts timestamp, value double")
    base = apply_changes(base, ev1, pk="pk", payload_cols=None)
    base = spark.createDataFrame(base.collect(), base.schema)  # pin
    ev2 = normalize_events(
        spark.read.parquet(os.path.join(stream_dir, "part2.parquet"))
    ).drop("table")
    expected = {
        r.pk: r for r in apply_changes(base, ev2, pk="pk", payload_cols=None).collect()
    }
    assert set(rows) == set(expected)
    for pk in rows:
        assert (rows[pk].ts, rows[pk].value, rows[pk].k) == (
            expected[pk].ts, expected[pk].value, expected[pk].k
        ), pk
    # drift really happened: the run-1 index had no k at all, the final
    # one carries real values
    assert any(r.k is not None for r in rows.values())


def test_per_sync_bucket_count(spark, tmp_path):
    """Sync.buckets overrides the pipeline-level bucket count per table:
    each index lands with its own layout (meta records it), same final
    state as the flat settings run."""
    from meilisync_spark.operators.bucketed import read_meta

    events_path = _multi_table_events(spark, tmp_path)
    b_root = str(tmp_path / "bucketed")
    flat_root = str(tmp_path / "flat")
    syncs = lambda: [
        Sync(full=True, table="users", pk="user_id", buckets=4),
        Sync(full=True, table="accounts", pk="event_id", index="acct_idx"),  # inherits 8
    ]
    run_cdc_pipeline(
        spark, events_path,
        Settings(sink=SinkSettings(index_path=b_root), syncs=syncs()),
        str(tmp_path / "ckpt_b"), table_col="tbl", available_now=True,
        num_buckets=8,
    )
    assert read_meta(os.path.join(b_root, "users"))["num_buckets"] == 4
    assert read_meta(os.path.join(b_root, "acct_idx"))["num_buckets"] == 8

    run_cdc_pipeline(
        spark, events_path,
        Settings(sink=SinkSettings(index_path=flat_root), syncs=syncs()),
        str(tmp_path / "ckpt_f"), table_col="tbl", available_now=True,
    )
    for name in ("users", "acct_idx"):
        got = {
            r.pk: (r.value, r.k)
            for r in read_buckets(spark, os.path.join(b_root, name)).collect()
        }
        exp = {
            r.pk: (r.value, r.k)
            for r in spark.read.parquet(os.path.join(flat_root, name)).collect()
        }
        assert got == exp, name


def test_full_false_tails_from_head_not_history(spark, tmp_path):
    """Reference main.py:86-101: ``full: false`` starts at the current
    head of the log — pre-existing events are never replayed; a
    ``full: true`` sync over the same stream still backfills. Events
    appended after the first start reach both syncs, and a checkpoint
    restart keeps the recorded origin."""
    import duckdb

    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir)
    con = duckdb.connect()
    cut = con.sql(
        f"SELECT max(event_id)/2 FROM '{SF_SMOKE}/events.parquet'"
    ).fetchone()[0]
    con.sql(
        f"COPY (SELECT * FROM '{SF_SMOKE}/events.parquet' WHERE event_id <= {cut} "
        f"ORDER BY event_id) TO '{stream_dir}/part1.parquet' (FORMAT PARQUET)"
    )
    sink_root = str(tmp_path / "indexes")
    settings = Settings(
        sink=SinkSettings(index_path=sink_root),
        syncs=[
            Sync(full=False, table="users", pk="user_id", index="tail_idx"),
            Sync(full=True, table="users", pk="user_id", index="full_idx"),
        ],
    )
    ckpt = str(tmp_path / "ckpt")
    run_cdc_pipeline(spark, stream_dir, settings, ckpt, available_now=True)
    # history skipped: the tail sync produced nothing, the full one all
    assert not os.path.exists(os.path.join(sink_root, "tail_idx"))
    full_1 = {
        r.pk: (r.value, r.k)
        for r in spark.read.parquet(os.path.join(sink_root, "full_idx")).collect()
    }
    assert full_1

    con.sql(
        f"COPY (SELECT * FROM '{SF_SMOKE}/events.parquet' WHERE event_id > {cut} "
        f"ORDER BY event_id) TO '{stream_dir}/part2.parquet' (FORMAT PARQUET)"
    )
    run_cdc_pipeline(spark, stream_dir, settings, ckpt, available_now=True)

    # the tail sync saw exactly the post-head events
    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet").where(
        F.col("event_id") > cut
    )
    ev = normalize_events(raw, table="users", pk_col="user_id")
    base = spark.createDataFrame([], ev.select("pk", *PAYLOAD_COLS).schema)
    exp_tail = {
        r.pk: (r.value, r.k)
        for r in apply_changes(base, ev, pk="pk", payload_cols=PAYLOAD_COLS).collect()
    }
    got_tail = {
        r.pk: (r.value, r.k)
        for r in spark.read.parquet(os.path.join(sink_root, "tail_idx")).collect()
    }
    assert got_tail == exp_tail

    # the full sync folded history then tail (per-batch compaction —
    # same two flush points as the stream)
    raw_all = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    ev_1 = normalize_events(
        raw_all.where(F.col("event_id") <= cut), table="users", pk_col="user_id"
    )
    state_1 = apply_changes(base, ev_1, pk="pk", payload_cols=PAYLOAD_COLS)
    exp_full = {
        r.pk: (r.value, r.k)
        for r in apply_changes(state_1, ev, pk="pk", payload_cols=PAYLOAD_COLS).collect()
    }
    got_full = {
        r.pk: (r.value, r.k)
        for r in spark.read.parquet(os.path.join(sink_root, "full_idx")).collect()
    }
    assert got_full == exp_full


def test_file_progress_store_roundtrip(tmp_path):
    """FileProgress merges (independent syncs must not erase each
    other), survives a fresh handle (it's a file, not process state),
    and reads back {} before the first publish."""
    from meilisync_spark.progress import FileProgress, make_progress

    p = str(tmp_path / "ops" / "progress.json")
    store = FileProgress(p)
    assert store.get() == {}
    store.set(users=10)
    store.set(accounts=7)       # merge, not replace
    store.set(users=12)         # monotone update
    assert FileProgress(p).get() == {"users": 12, "accounts": 7}
    # no stray tmp files left behind by the atomic write (the
    # .progress.lock sidecar is the writer flock, not a leftover)
    assert [f for f in os.listdir(tmp_path / "ops")
            if f not in ("progress.json", ".progress.lock")] == []

    from meilisync_spark.config import ProgressSettings
    assert isinstance(make_progress(ProgressSettings(type="file", path=p)),
                      FileProgress)
    assert make_progress(None) is None
    try:
        make_progress(ProgressSettings(type="zookeeper"))
        raise AssertionError("unknown progress type must fail loudly")
    except ValueError:
        pass


def test_settings_pipeline_publishes_progress_mirror(spark, tmp_path):
    """The ops mirror: after the pipeline catches up, the store holds
    the max applied event_id per routed table — readable without Spark
    (the reference's progress-store role, meilisync/progress/file.py)."""
    import json

    from meilisync_spark.progress import FileProgress

    events_path = _multi_table_events(spark, tmp_path)
    settings = Settings(
        sink=SinkSettings(index_path=str(tmp_path / "indexes")),
        syncs=[
            Sync(full=True, table="users", pk="user_id"),
            Sync(full=True, table="accounts", pk="event_id"),
        ],
    )
    store = FileProgress(str(tmp_path / "progress.json"))
    run_cdc_pipeline(
        spark, events_path, settings, str(tmp_path / "ckpt"),
        table_col="tbl", available_now=True, progress=store,
    )
    raw = spark.read.parquet(events_path)
    exp = {
        r.tbl: r.h
        for r in raw.groupBy("tbl").agg(F.max("event_id").alias("h")).collect()
    }
    got = store.get()
    assert got == exp
    # and it is plain JSON on disk — the "dashboards read it without
    # the engine" contract
    with open(tmp_path / "progress.json") as fh:
        assert json.load(fh) == exp


def test_settings_ops_surface_parsing(tmp_path):
    """progress/debug/sentry parse from the reference YAML shape and
    default off; cmd_start's ops init tolerates a missing sentry_sdk."""
    import yaml

    from meilisync_spark.config import ProgressSettings, Sentry

    cfg = {
        "sink": {"index_path": str(tmp_path / "idx")},
        "sync": [{"table": "users"}],
        "progress": {"type": "file", "path": str(tmp_path / "p.json")},
        "debug": True,
        "sentry": {"dsn": "https://k@sentry.example/1"},
    }
    path = tmp_path / "config.yml"
    path.write_text(yaml.safe_dump(cfg))
    s = Settings.from_yaml(str(path))
    assert s.progress == ProgressSettings(type="file", path=str(tmp_path / "p.json"))
    assert s.debug is True
    assert s.sentry == Sentry(dsn="https://k@sentry.example/1",
                              environment="production")
    # defaults: all off
    s0 = Settings.from_dict({})
    assert s0.progress is None and s0.debug is False and s0.sentry is None


def test_cdc_pipeline_publishes_progress_mirror(spark, tmp_path):
    """The single-sync shell mirrors applied positions too (same
    apply-then-record order): after catch-up the store holds the max
    applied seq for the routed table."""
    from meilisync_spark.progress import FileProgress

    store = FileProgress(str(tmp_path / "p.json"))
    run_cdc_pipeline(
        spark, f"{SF_SMOKE}/events.parquet", Settings.for_index(str(tmp_path / "idx")),
        str(tmp_path / "ckpt"), available_now=True, progress=store,
    )
    ev = normalize_events(load_table(spark, SF_SMOKE, "events"))
    exp = ev.agg(F.max("seq")).first()[0]
    assert store.get() == {"users": exp}


def test_file_progress_concurrent_writers_keep_both_keys(tmp_path):
    """Two stores on one path interleaving set() must not drop each
    other's keys — the flock around read-merge-replace serializes them.
    (Thread-level check: flock is advisory cross-process too, but the
    merge-under-lock is what this pins.)"""
    import threading

    from meilisync_spark.progress import FileProgress

    p = str(tmp_path / "progress.json")

    def writer(prefix):
        store = FileProgress(p)
        for i in range(25):
            store.set(**{f"{prefix}{i}": i})

    ts = [threading.Thread(target=writer, args=(pfx,)) for pfx in ("a", "b")]
    [t.start() for t in ts]
    [t.join() for t in ts]
    got = FileProgress(p).get()
    assert len(got) == 50


def test_delta_sink_import_gate_is_actionable():
    """Without delta-spark the sink must fail at once with install +
    session-config instructions, not on first merge mid-pipeline."""
    import pytest

    from meilisync_spark.operators import table_format

    try:
        import delta  # noqa: F401
        pytest.skip("delta-spark installed; the gate test is for its absence")
    except ImportError:
        pass
    with pytest.raises(RuntimeError, match="delta-spark"):
        table_format._delta_table()


def test_delta_apply_matches_flat_apply(spark, tmp_path):
    """MERGE INTO on Delta == apply_changes + rewrite, fold-for-fold:
    random create/update/delete micro-batches (None values exercising
    the partial-update coalesce) land on identical final state.
    Skips where delta-spark is absent (this container); the flat side
    is the oracle-checked semantics either way."""
    import pytest

    pytest.importorskip("delta")
    from meilisync_spark.operators.apply import apply_changes
    from meilisync_spark.operators.table_format import apply_changes_delta

    table = str(tmp_path / "delta_idx")
    batches = [
        [(1, "create", 1.0, 10), (2, "create", 2.0, 20), (3, "create", 3.0, 30)],
        [(1, "update", 1.5, None), (2, "delete", None, None),
         (4, "create", 4.0, 40)],
        [(4, "update", None, 44), (1, "create", 9.0, 90), (5, "delete", None, None)],
    ]
    seq = 0
    flat = spark.createDataFrame([], "pk long, value double, k long")
    for batch in batches:
        data = []
        for pk, op, v, k in batch:
            data.append((pk, seq, op, v, k))
            seq += 1
        df = spark.createDataFrame(
            data, "pk long, seq long, op string, value double, k long"
        )
        apply_changes_delta(
            spark, table, df, pk="pk", payload_cols=["value", "k"]
        )
        nxt = apply_changes(flat, df, pk="pk", payload_cols=["value", "k"])
        flat = spark.createDataFrame(nxt.collect(), nxt.schema)  # pin
    got = {
        (r.pk, r.value, r.k)
        for r in spark.read.format("delta").load(table).collect()
    }
    assert got == {(r.pk, r.value, r.k) for r in flat.collect()}

    # an existing NON-delta path must refuse the bootstrap loudly, not
    # overwrite it with a delta log referencing only the new batch
    parquet_idx = str(tmp_path / "plain_parquet")
    spark.range(3).write.parquet(parquet_idx)
    with pytest.raises(ValueError, match="not a Delta table"):
        apply_changes_delta(
            spark, parquet_idx,
            spark.createDataFrame(
                [(1, 0, "create", 1.0, 1)],
                "pk long, seq long, op string, value double, k long",
            ),
            pk="pk", payload_cols=["value", "k"],
        )


def test_delta_sink_pipeline_fails_fast_without_package(spark, tmp_path):
    """run_cdc_pipeline(sink_format='delta') without delta-spark must
    raise the actionable install error at pipeline START, not as an
    opaque StreamingQueryException mid-batch. (With delta-spark
    present the streaming path runs the MERGE INTO twin verified by
    test_delta_apply_matches_flat_apply.)"""
    import pytest

    try:
        import delta  # noqa: F401
        pytest.skip("delta-spark installed")
    except ImportError:
        pass
    with pytest.raises(RuntimeError, match="delta-spark"):
        run_cdc_pipeline(
            spark, f"{SF_SMOKE}/events.parquet", Settings.for_index(str(tmp_path / "idx")),
            str(tmp_path / "ckpt"), available_now=True, sink_format="delta",
        )


def test_delta_stream_equals_full_rewrite(spark, tmp_path):
    """sink_format='delta' through the streaming shell lands on the same
    final state as the flat-parquet form. Skips without delta-spark."""
    import pytest

    pytest.importorskip("delta")
    flat_index = str(tmp_path / "flat")
    run_cdc_pipeline(
        spark, f"{SF_SMOKE}/events.parquet", Settings.for_index(flat_index),
        str(tmp_path / "ckpt_flat"), available_now=True, num_buckets=0,
    )
    flat = {r.pk: (r.value, r.k) for r in spark.read.parquet(flat_index).collect()}
    d_index = str(tmp_path / "delta")
    run_cdc_pipeline(
        spark, f"{SF_SMOKE}/events.parquet", Settings.for_index(d_index),
        str(tmp_path / "ckpt_d"), available_now=True, sink_format="delta",
    )
    got = {r.pk: (r.value, r.k)
           for r in spark.read.format("delta").load(d_index).collect()}
    assert got == flat


def test_single_file_flat_index_stays_flat(spark, tmp_path):
    """A pre-existing flat index that is a single parquet FILE (duckdb
    COPY output, a '.parquet' index_name) must resolve to the flat
    layout — the bucketed default would merge against an empty base and
    crash renaming under a non-directory."""
    import duckdb

    from meilisync_spark.operators.bucketed import read_meta, resolve_num_buckets

    idx = str(tmp_path / "users_flat.parquet")
    duckdb.connect().sql(
        f"COPY (SELECT CAST(999999 AS BIGINT) AS pk, "
        f"CAST('2024-01-01' AS TIMESTAMP) AS ts, CAST(1.5 AS DOUBLE) AS value, "
        f"CAST(1 AS BIGINT) AS k) TO '{idx}' (FORMAT PARQUET)"
    )
    assert resolve_num_buckets(idx, None) == 0
    run_cdc_pipeline(
        spark, f"{SF_SMOKE}/events.parquet", Settings.for_index(idx),
        str(tmp_path / "ckpt"), available_now=True,
    )
    assert read_meta(idx) is None  # stayed flat
    assert spark.read.parquet(idx).count() > 1  # merged, not dropped


class _Crash(Exception):
    """An injected crash: the process 'dies' at this point."""


def _crash_fs(m, op, pick, nth, crash, after=False):
    """Make the ``nth`` call of ``os.<op>`` whose (src, dst) satisfies
    ``pick`` crash: instead of the call, or just after it (``after``)."""
    real = getattr(os, op)
    hits = []

    def call(src, dst, *args, **kwargs):
        hit = pick(str(src), str(dst)) and len(hits) < nth
        if hit:
            hits.append(dst)
        if hit and len(hits) == nth and not after:
            crash(f"os.{op} -> {dst}")
        out = real(src, dst, *args, **kwargs)
        if hit and len(hits) == nth:
            crash(f"after os.{op} -> {dst}")
        return out

    m.setattr(os, op, call)


def _bucket_park(src, dst):  # index/bucket=K -> {index}_old-<tag>-K
    return os.path.basename(src).startswith("bucket=") and "_old-" in dst


def _bucket_move_in(src, dst):  # staging/bucket=K -> index/bucket=K
    return (os.path.basename(src).startswith("bucket=")
            and os.path.basename(dst).startswith("bucket="))


def _arm(m, point, index, crash):
    """Install the crash named ``point`` (see the parametrize below)."""
    from meilisync_spark.operators import bucketed
    from meilisync_spark.progress import FileProgress

    if point.startswith("bucket_"):
        pick = _bucket_park if "_park_" in point else _bucket_move_in
        _crash_fs(m, "rename", pick, 1 if point.endswith("first") else 3, crash)
    elif point.startswith("bootstrap_"):
        real_meta = bucketed._write_meta

        def write_meta(path, pk, n):
            if point == "bootstrap_after_meta":
                real_meta(path, pk, n)
            crash("_write_meta")

        m.setattr(bucketed, "_write_meta", write_meta)
    elif point.endswith("progress_set"):
        real_set = FileProgress.set
        calls = []

        def set_(self, **heads):
            calls.append(heads)
            if len(calls) == 2 and point == "before_progress_set":
                crash("progress.set")
            real_set(self, **heads)
            if len(calls) == 2:
                crash("after progress.set")

        m.setattr(FileProgress, "set", set_)
    elif point == "rebucket_park":
        _crash_fs(m, "rename", lambda src, dst: src == index, 1, crash, after=True)
    else:  # refresh_legacy_move_in: whatever moves into the parked-away path
        def into_absent(src, dst):
            return dst == index and not os.path.lexists(index)

        for op in ("rename", "symlink"):
            _crash_fs(m, op, into_absent, 1, crash)


def _crash_flow(spark, root, parts, point, crash_at=None):
    """Run the flow of crash point ``point`` over the 3-file log
    ``parts``; with ``crash_at`` set, the step under test crashes there
    and is re-run. Returns (layout meta, index rows, leftover kinds
    beside the index, progress store, crashes fired)."""
    import shutil

    from meilisync_spark.operators.bucketed import read_meta, rebucket_index
    from meilisync_spark.progress import FileProgress

    drops = root / "drops"
    drops.mkdir(parents=True)
    index = str(root / "idx" / "index")
    os.makedirs(os.path.dirname(index))
    store = FileProgress(str(root / "progress.json"))
    flat = point == "refresh_legacy_move_in"
    fired = []

    def drop(*ids):
        for i in ids:
            path = drops / f"part-{i}.parquet"
            shutil.copy(parts[i], path)
            os.utime(path, (1_700_000_000 + 2 * i, 1_700_000_000 + 2 * i))

    def stream():
        run_cdc_pipeline(
            spark, str(drops), Settings.for_index(index), str(root / "ckpt"),
            available_now=True, max_files_per_trigger=1, progress=store,
            num_buckets=0 if flat else None,
        )

    def crash(what):
        fired.append(what)
        raise _Crash(what)

    def step_under_test(step):
        with pytest.MonkeyPatch.context() as m:
            if crash_at:
                _arm(m, crash_at, index, crash)
            try:
                step()
            except Exception:
                if not fired:
                    raise
        if fired:
            step()  # restart: the same batch (or rebucket) again

    if point == "rebucket_park":
        drop(0, 1)
        stream()
        step_under_test(lambda: rebucket_index(spark, index, "pk", 16))
        drop(2)
        stream()
    elif flat:
        drop(0)
        stream()
        # a legacy flat index: a real directory, not a version symlink
        target = os.path.realpath(index)
        os.unlink(index)
        os.rename(target, index)
        drop(1, 2)
        step_under_test(stream)
    else:
        drop(0, 1, 2)
        step_under_test(stream)
    rows = {
        r.pk: (r.value, r.k)
        for r in spark.read.parquet(index).select("pk", "value", "k").collect()
    }
    kinds = sorted({e[len("index"):].split("-")[0] for e in os.listdir(os.path.dirname(index))})
    return read_meta(index), rows, kinds, store.get(), fired


@pytest.fixture(scope="module")
def crash_log(spark, tmp_path_factory):
    """The crash-point test's log: sf0.01 events (150 keys) in 3 files.
    The first key of each of the 64 buckets lives only in file 0, so
    every bucket a later batch rewrites also holds rows that batch does
    not carry: a bucket lost in a crash window cannot be rebuilt from
    the replayed batch alone. Returns the files and a function giving
    the crash-free result of a point's flow (run once per flow)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    root = tmp_path_factory.mktemp("crash_log")
    events = pq.read_table(
        os.path.join(os.path.dirname(SF_SMOKE), "sf0.01", "events.parquet")
    ).sort_by("event_id")
    first = {}
    for key in sorted(set(events.column("user_id").to_pylist())):
        first.setdefault(zlib.crc32(str(key).encode()) % 64, key)
    only_first = pc.is_in(events["user_id"], value_set=pa.array(list(first.values())))
    n = events.num_rows
    third = pa.array([j * 3 // n for j in range(n)])  # 0, 1, 2 by log position
    parts = []
    for i in range(3):
        keep = pc.and_(pc.invert(only_first), pc.equal(third, i))
        if i == 0:
            keep = pc.or_(only_first, keep)
        parts.append(str(root / f"log-{i}.parquet"))
        pq.write_table(events.filter(keep), parts[-1])

    free = {}

    def crash_free(point):
        flow = point if point in ("rebucket_park", "refresh_legacy_move_in") else "stream"
        if flow not in free:
            free[flow] = _crash_flow(spark, root / flow, parts, point)[:4]
        return free[flow]

    return parts, crash_free


@pytest.mark.parametrize("point", [
    "bucket_park_first", "bucket_park_middle",
    "bucket_move_in_first", "bucket_move_in_middle",
    "bootstrap_before_meta", "bootstrap_after_meta",
    "before_progress_set", "after_progress_set",
    "rebucket_park", "refresh_legacy_move_in",
])
def test_crash_at_every_point_resumes_to_crash_free_index(spark, tmp_path, crash_log, point):
    """A crash at any point of a batch — either rename of a bucket's
    park/move-in step (first bucket, a middle one), the bootstrap before
    or after ``_meta.json``, before or after the progress publish (i.e.
    before Spark's commit), the rebucket park, refresh's legacy
    dir-to-symlink move-in — then a restart of the same batch or step
    ends in exactly the index, layout, leftover set and progress of a
    crash-free run over the same log. The restart relies on the one
    sweep: a parked directory whose live path is absent is restored;
    every other leftover is reaped."""
    parts, crash_free = crash_log
    meta, rows, kinds, progress = crash_free(point)
    *got, fired = _crash_flow(spark, tmp_path, parts, point, crash_at=point)
    assert fired, f"crash point {point} never reached"
    assert rows and progress
    assert got == [meta, rows, kinds, progress]


def test_delete_everything_crash_before_drop_replays(spark, tmp_path, monkeypatch):
    """A batch that deletes every row and crashes after its bucket swaps
    but before it drops the now-empty index leaves a directory holding
    only _meta.json. The replayed batch must read that as an empty
    index, not fail to infer a schema from it."""
    from meilisync_spark.operators import bucketed

    index = str(tmp_path / "index")
    schema = "pk long, seq long, op string, value double"
    creates = spark.createDataFrame([(pk, pk, "create", 1.0) for pk in range(8)], schema)
    apply_changes_bucketed(spark, index, creates, pk="pk", num_buckets=4)
    deletes = spark.createDataFrame([(pk, 10 + pk, "delete", None) for pk in range(8)], schema)
    real_drop = bucketed._drop_if_empty

    def drop_if_empty(path):
        if path == index:
            raise _Crash("before _drop_if_empty")
        real_drop(path)

    with monkeypatch.context() as m:
        m.setattr(bucketed, "_drop_if_empty", drop_if_empty)
        with pytest.raises(_Crash):
            apply_changes_bucketed(spark, index, deletes, pk="pk", num_buckets=4)
    assert [e for e in os.listdir(index) if e.startswith(f"{BUCKET_COL}=")] == []
    apply_changes_bucketed(spark, index, deletes, pk="pk", num_buckets=4)
    assert not os.path.exists(index)
    one = spark.createDataFrame([(0, 20, "create", 1.0)], schema)
    apply_changes_bucketed(spark, index, one, pk="pk", num_buckets=4)
    assert {r.pk for r in read_buckets(spark, index).collect()} == {0}


def test_pipeline_normalizes_once_per_query(spark, tmp_path):
    """The frame is planned once on the stream: over a 3-file log with
    one file per batch, the normalizer is called once however many
    batches run, and the index equals the default normalizer's."""
    import duckdb

    from meilisync_spark.sources.events import classify_events

    drops = tmp_path / "drops"
    drops.mkdir()
    con = duckdb.connect()
    for i in range(3):
        path = drops / f"part-{i}.parquet"
        con.sql(f"COPY (SELECT * FROM '{SF_SMOKE}/events.parquet' "
                f"WHERE event_id % 3 = {i}) TO '{path}' (FORMAT PARQUET)")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    calls = []

    def counting(raw):
        calls.append(1)
        return classify_events(raw, table="users", pk_col="user_id")

    index, plain = str(tmp_path / "index"), str(tmp_path / "plain")
    kw = dict(available_now=True, max_files_per_trigger=1, num_buckets=N_BUCKETS)
    ckpt = tmp_path / "ckpt"
    run_cdc_pipeline(spark, str(drops), Settings.for_index(index), str(ckpt),
                     normalizer=counting, **kw)
    assert len([c for c in os.listdir(ckpt / "commits") if c.isdigit()]) == 3
    assert len(calls) == 1
    run_cdc_pipeline(spark, str(drops), Settings.for_index(plain),
                     str(tmp_path / "ckpt_p"), **kw)
    assert _state(spark, index) == _state(spark, plain)
