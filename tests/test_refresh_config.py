"""Tests for the shadow-refresh swap (S13), consistency check (A1-A3)
and the config surface (Settings/Sync, plugin loading)."""

from __future__ import annotations

import os

from pyspark.sql import Row

from meilisync_spark.config import Settings, Sync, load_plugin
from meilisync_spark.operators.check import count_check
from meilisync_spark.operators.refresh import read_index, refresh_data


def test_refresh_swap_atomic(spark, tmp_path):
    index = str(tmp_path / "index")
    n = refresh_data(spark.createDataFrame([Row(id=i, v=i * 10) for i in range(5)]), index)
    assert n == 5
    assert {r.id for r in read_index(spark, index).collect()} == set(range(5))
    # rebuild with different contents swaps atomically; old dirs cleaned
    n = refresh_data(spark.createDataFrame([Row(id=i, v=0) for i in range(3)]), index)
    assert n == 3
    assert read_index(spark, index).count() == 3
    leftovers = [d for d in os.listdir(tmp_path) if "_tmp" in d or "_old" in d]
    assert leftovers == []
    # symlink layout: the index path is a link that always resolves to
    # exactly one live version dir; superseded versions are gone
    assert os.path.islink(index)
    versions = [d for d in os.listdir(tmp_path) if d.startswith("index_v-")]
    assert len(versions) == 1
    assert os.path.realpath(index) == str(tmp_path / versions[0])


def test_refresh_sweeps_crash_leftovers(spark, tmp_path):
    """Stale staging/version dirs from a crashed writer disappear on
    the next refresh; the live version is untouched."""
    index = str(tmp_path / "index")
    refresh_data(spark.createDataFrame([Row(id=1, v=1)]), index)
    os.makedirs(str(tmp_path / "index_v-deadbeef"))
    os.makedirs(str(tmp_path / "index_tmp-deadbeef"))
    os.makedirs(str(tmp_path / "index_old-deadbeef"))
    refresh_data(spark.createDataFrame([Row(id=2, v=2)]), index)
    entries = set(os.listdir(tmp_path))
    assert "index_v-deadbeef" not in entries
    assert "index_tmp-deadbeef" not in entries
    assert "index_old-deadbeef" not in entries
    assert {r.id for r in read_index(spark, index).collect()} == {2}


def test_refresh_bucketing(spark, tmp_path):
    index = str(tmp_path / "bucketed")
    df = spark.createDataFrame([Row(id=i, v=i) for i in range(100)])
    refresh_data(df, index, bucket_by="id", num_buckets=4)
    files = [f for f in os.listdir(index) if f.endswith(".parquet")]
    assert len(files) == 4


def test_count_check(spark):
    a = spark.createDataFrame([Row(x=i) for i in range(10)])
    b = spark.createDataFrame([Row(x=i) for i in range(10)])
    c = spark.createDataFrame([Row(x=i) for i in range(7)])
    out = {r.table: r for r in count_check({"ok": (a, b), "drifted": (a, c)}).collect()}
    assert out["ok"].consistent and out["ok"].source_count == 10
    assert not out["drifted"].consistent and out["drifted"].index_count == 7


def test_settings_routing_and_defaults():
    s = Settings.from_dict(
        {
            "sink": {"index_path": "/tmp/idx", "insert_size": 1000},
            "sync": [
                {"table": "users", "pk": "user_id", "full": True,
                 "fields": {"user_id": None, "name": "full_name"}},
                {"table": "orders"},
            ],
        }
    )
    assert s.get_sync("users").pk == "user_id"
    assert s.get_sync("orders").pk == "id"  # reference default (settings.py:41)
    assert s.get_sync("orders").index_name == "orders"  # index defaults to table
    assert s.get_sync("missing") is None  # unrouted tables are dropped (P3)
    assert s.tables == ["users", "orders"]
    assert s.sink.insert_size == 1000 and s.sink.insert_interval is None


def test_plugin_loading_applies_batch_transform(spark):
    fn = load_plugin("pyspark.sql.functions.upper")  # any dotted callable
    assert callable(fn)


def test_compact_table_merges_small_files(spark, tmp_path):
    """Append-heavy layout (one file set per micro-batch) compacts to
    ~target-sized files behind the atomic symlink swap: same rows, far
    fewer files, still refreshable afterwards."""
    import glob
    import os

    from meilisync_spark.operators.refresh import compact_table, refresh_data

    index = str(tmp_path / "corpus")
    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    refresh_data(df.repartition(40), index)

    def files():
        return glob.glob(os.path.join(index, "**", "*.parquet"), recursive=True)

    before = {r.doc_id for r in spark.read.parquet(index).collect()}
    assert len(files()) == 40
    n = compact_table(spark, index, target_file_bytes=1 << 30)
    assert n == len(files()) == 1
    assert {r.doc_id for r in spark.read.parquet(index).collect()} == before
    # the swap stayed atomic: path is a live symlink, old version gone
    assert os.path.islink(index)


def test_compact_table_preserves_bucketed_cdc_layout(spark, tmp_path):
    """Compacting a bucket=-partitioned CDC index keeps the hive layout
    and the _meta.json layout contract, so the next bucketed apply still
    prunes to touched buckets instead of exploding on a flat layout."""
    import os

    from meilisync_spark.operators.bucketed import (
        apply_changes_bucketed,
        init_bucketed_index,
        read_meta,
    )
    from meilisync_spark.operators.refresh import compact_table

    index = str(tmp_path / "idx")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "pk int, val string"
    )
    init_bucketed_index(base, index, pk="pk", num_buckets=8)
    before = {(r.pk, r.val) for r in spark.read.parquet(index).drop("bucket").collect()}
    compact_table(spark, index, target_file_bytes=1 << 30)
    real = os.path.realpath(index)
    assert sorted(e for e in os.listdir(real) if e.startswith("bucket=")) == [
        f"bucket={b}" for b in sorted(range(8), key=str)
    ]
    assert read_meta(index) == {"num_buckets": 8, "pk": "pk"}
    # a post-compaction apply merges normally and sees every old row
    changes = spark.createDataFrame(
        [(0, 1, "update", "v0-new"), (999, 2, "create", "fresh")],
        "pk int, seq long, op string, val string",
    )
    apply_changes_bucketed(spark, index, changes, pk="pk", num_buckets=8)
    got = {(r.pk, r.val) for r in spark.read.parquet(index).drop("bucket").collect()}
    expected = (before - {(0, "v0")}) | {(0, "v0-new"), (999, "fresh")}
    assert got == expected


def test_compacted_bucketed_index_survives_deleting_every_row(spark, tmp_path):
    """After compact_table the bucketed index is a symlink. A batch that
    deletes every row must leave an absent index (unlink the link; the
    sweep reaps its version dir), not a link to a marker-only directory
    that the next batch cannot read (UNABLE_TO_INFER_SCHEMA)."""
    from meilisync_spark.operators.bucketed import (
        apply_changes_bucketed,
        init_bucketed_index,
        read_buckets,
    )
    from meilisync_spark.operators.refresh import compact_table

    index = str(tmp_path / "idx")
    schema = "pk int, seq long, op string, val string"
    base = spark.createDataFrame([(i, f"v{i}") for i in range(20)], "pk int, val string")
    init_bucketed_index(base, index, pk="pk", num_buckets=4)
    compact_table(spark, index, target_file_bytes=1 << 30)
    assert os.path.islink(index)
    deletes = spark.createDataFrame([(i, 100 + i, "delete", None) for i in range(20)], schema)
    apply_changes_bucketed(spark, index, deletes, pk="pk", num_buckets=4)
    assert not os.path.lexists(index)  # absent path == empty index
    create = spark.createDataFrame([(7, 200, "create", "back")], schema)
    apply_changes_bucketed(spark, index, create, pk="pk", num_buckets=4)
    assert {(r.pk, r.val) for r in read_buckets(spark, index).collect()} == {(7, "back")}
    assert os.listdir(tmp_path) == ["idx"]  # the orphaned version dir is reaped


def test_rebucket_compacted_index_leaves_no_orphans(spark, tmp_path):
    """rebucket_index over a compacted (symlinked) index parks the link,
    not a directory: afterwards the index is a real directory with the
    new layout, and neither the parked link nor the version directory
    it pointed at is left beside it."""
    from meilisync_spark.operators.bucketed import (
        init_bucketed_index,
        read_buckets,
        read_meta,
        rebucket_index,
    )
    from meilisync_spark.operators.refresh import compact_table

    index = str(tmp_path / "idx")
    rows = {(i, f"v{i}") for i in range(50)}
    init_bucketed_index(
        spark.createDataFrame(sorted(rows), "pk int, val string"), index, pk="pk", num_buckets=4
    )
    compact_table(spark, index, target_file_bytes=1 << 30)
    assert os.path.islink(index)
    rebucket_index(spark, index, pk="pk", new_num_buckets=8)
    assert not os.path.islink(index)
    assert read_meta(index) == {"num_buckets": 8, "pk": "pk"}
    assert {(r.pk, r.val) for r in read_buckets(spark, index).collect()} == rows
    assert os.listdir(tmp_path) == ["idx"]


def test_compact_crash_after_repoint_keeps_layout_meta(spark, tmp_path, monkeypatch):
    """compact_table publishes the layout record with the data: a crash
    just after the symlink repoint leaves a bucketed index that still
    has its _meta.json, so the next batch keeps the bucketed path
    instead of reading the hive layout as a flat index."""
    import pytest

    from meilisync_spark.operators.bucketed import init_bucketed_index, read_meta
    from meilisync_spark.operators.refresh import compact_table

    index = str(tmp_path / "idx")
    base = spark.createDataFrame([(i, f"v{i}") for i in range(40)], "pk int, val string")
    init_bucketed_index(base, index, pk="pk", num_buckets=8)
    compact_table(spark, index, target_file_bytes=1 << 30)
    real_rename = os.rename

    def rename(src, dst):
        real_rename(src, dst)
        if dst == index:
            raise OSError("crash just after the repoint")

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(OSError, match="after the repoint"):
        compact_table(spark, index, target_file_bytes=1 << 30)
    monkeypatch.undo()
    assert read_meta(index) == {"num_buckets": 8, "pk": "pk"}


def test_version_symlink_resolves_from_a_relative_index_path(tmp_path, monkeypatch):
    """The index symlink names its version as a sibling, so an index
    given as a relative path (``refresh --index sub/index``) resolves
    instead of dangling (the link's target is read relative to the
    link's own directory, not the cwd)."""
    from meilisync_spark.operators.refresh import write_version

    monkeypatch.chdir(tmp_path)
    os.makedirs("sub")
    for body in ("v1", "v2"):
        def write(version, body=body):
            os.makedirs(version)
            with open(os.path.join(version, "data"), "w") as fh:
                fh.write(body)

        write_version("sub/index", write)
        with open("sub/index/data") as fh:
            assert fh.read() == body
    assert len(os.listdir("sub")) == 2  # the link and its one live version
