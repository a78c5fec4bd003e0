"""Event-time streaming operators: multi-batch runs must converge to
the batch aggregate (windowed stats) and be batch-boundary-independent
(stateful user totals)."""

from __future__ import annotations

import os
import time

import duckdb
import pytest

from meilisync_spark.streaming.pipeline import CatchUpTimeout
from meilisync_spark.streaming.windowed import run_user_totals, run_windowed_stats
from tests.conftest import SF_SMOKE


def _ts_ordered_chunks(workdir: str, n: int = 3) -> str:
    """Split the event log into n files in *event-time* order with
    increasing mtimes — so a trailing watermark never drops rows."""
    con = duckdb.connect()
    out = os.path.join(workdir, "events_by_ts")
    os.makedirs(out)
    total = con.sql(f"SELECT count(*) FROM '{SF_SMOKE}/events.parquet'").fetchone()[0]
    per = (total + n - 1) // n
    for i in range(n):
        path = os.path.join(out, f"chunk_{i}.parquet")
        con.sql(
            f"COPY (SELECT * FROM '{SF_SMOKE}/events.parquet' "
            f"ORDER BY ts, event_id LIMIT {per} OFFSET {i * per}) "
            f"TO '{path}' (FORMAT PARQUET)"
        )
        os.utime(path, (time.time() - 100 + i, time.time() - 100 + i))
    return out


def test_windowed_stats_multibatch_equals_batch(spark, duck, tmp_path):
    stream_dir = _ts_ordered_chunks(str(tmp_path))
    out = str(tmp_path / "state")
    run_windowed_stats(
        spark, stream_dir, out, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    got = {
        (r.hour_start, r.event_type): (r.n, str(r.total_value))
        for r in spark.read.parquet(out).collect()
    }
    con = duck(SF_SMOKE)
    expected = {
        (hs, et): (n, str(tv))
        for hs, et, n, tv in con.sql(
            """
            SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT), event_type,
                   count(*), CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
            FROM events GROUP BY 1, 2
            """
        ).fetchall()
    }
    assert got == expected


def test_windowed_stats_cut_by_timeout_raises(spark, tmp_path):
    """A catch-up run stopped at its timeout fails loudly instead of
    leaving a partial state table for the caller to read as final."""
    with pytest.raises(CatchUpTimeout):
        run_windowed_stats(
            spark, f"{SF_SMOKE}/events.parquet", str(tmp_path / "state"),
            str(tmp_path / "ckpt"), timeout_sec=0.01,
        )


def test_user_totals_multibatch_equals_batch(spark, duck, tmp_path):
    stream_dir = _ts_ordered_chunks(str(tmp_path))
    out = str(tmp_path / "state")
    run_user_totals(
        spark, stream_dir, out, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    got = {
        r.user_id: (r.n_events, r.total_cents, r.last_event_id)
        for r in spark.read.parquet(out).collect()
    }
    con = duck(SF_SMOKE)
    expected = {
        u: (n, c, e)
        for u, n, c, e in con.sql(
            """
            SELECT user_id, count(*),
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT),
                   max(event_id)
            FROM events GROUP BY user_id
            """
        ).fetchall()
    }
    assert got == expected


def test_session_windows_multibatch_equals_batch(spark, duck, tmp_path):
    """Sessions spanning micro-batch boundaries must merge: the 3-chunk
    event-time-ordered replay converges to the batch gap-sessionization."""
    from meilisync_spark.streaming.windowed import run_session_windows

    stream_dir = _ts_ordered_chunks(str(tmp_path))
    out = str(tmp_path / "sessions")
    run_session_windows(
        spark, stream_dir, out, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    got = {
        (r.user_id, r.session_start_us): (r.last_event_us, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    con = duck(SF_SMOKE)
    expected = {
        (u, s): (e, n)
        for u, s, e, n in con.sql(
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
            SELECT user_id, epoch_us(min(ts)), epoch_us(max(ts)), count(*)
            FROM sess GROUP BY user_id, sid
            """
        ).fetchall()
    }
    assert got == expected
