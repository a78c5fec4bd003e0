"""Seeded input generator for the CDC sync benchmark.

Everything here runs in one thread, before the program's Spark session
starts, and renders files with pyarrow / json only: Spark never renders
its own inputs inside a timed or set-up window.

Drop files get strictly increasing mtimes, ``MTIME_STEP_S`` apart. The
file source orders a batch by millisecond mtime and breaks ties in any
order, so two files with one mtime could be applied in either order and
change the final index.
"""

from __future__ import annotations

import bisect
import datetime
import json
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

MTIME_STEP_S = 2

# the fixture ``events`` mix: four consumed kinds plus ``view`` noise
# that the op filter drops
EVENT_TYPES = ["signup", "purchase", "click", "error", "view"]

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_EPOCH = datetime.datetime(1970, 1, 1)


def _stamp_in_order(paths: list[str]) -> None:
    """Give ``paths`` strictly increasing mtimes in list order."""
    base = int(time.time()) - MTIME_STEP_S * (len(paths) + 1)
    for i, p in enumerate(paths):
        t = base + MTIME_STEP_S * i
        os.utime(p, (t, t))


def _events_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, EVENTS_SCHEMA)],
        schema=EVENTS_SCHEMA,
    )


def gen_trickle(
    out: str, seed: int, *, users: int, warmup: int, files: int,
    events_per_file: int,
) -> dict:
    """Fixture-shaped events: a snapshot with one ``signup`` per user,
    then ``warmup + files`` drop files of ``events_per_file`` events
    each, keys uniform over ``1.1 * users`` (so some events create new
    documents) and kinds uniform over :data:`EVENT_TYPES`.

    The snapshot and the first ``warmup`` drop files go to ``warmup/``
    (the start that builds the index); the other ``files`` to ``drops/``.
    Returns the input facts the gates and the trace need; the per-file
    facts cover ``drops/`` only."""
    rng = random.Random(seed)
    warm_dir, drop_dir = os.path.join(out, "warmup"), os.path.join(out, "drops")
    os.makedirs(warm_dir)
    os.makedirs(drop_dir)
    eid = 0
    rows = []
    for u in range(users):
        rows.append((eid, TS0_US + eid * 1000, u, "signup",
                     round(rng.uniform(0, 100), 2),
                     json.dumps({"k": rng.randrange(100)})))
        eid += 1
    snap = os.path.join(warm_dir, "snapshot.parquet")
    pq.write_table(_events_table(rows), snap)
    key_space = users + users // 10
    warm, paths, distinct, consumed = [snap], [], [], []
    for f in range(warmup + files):
        rows = []
        keys = set()
        n_consumed = 0
        for _ in range(events_per_file):
            et = rng.choice(EVENT_TYPES)
            u = rng.randrange(key_space)
            if et != "view":
                keys.add(u)
                n_consumed += 1
            rows.append((eid, TS0_US + eid * 1000, u, et,
                         round(rng.uniform(0, 100), 2),
                         json.dumps({"k": rng.randrange(100)})))
            eid += 1
        p = os.path.join(warm_dir if f < warmup else drop_dir, f"drop-{f:05d}.parquet")
        pq.write_table(_events_table(rows), p)
        if f < warmup:
            warm.append(p)
            continue
        paths.append(p)
        distinct.append(len(keys))
        consumed.append(n_consumed)
    _stamp_in_order(warm)
    _stamp_in_order(paths)
    return {
        "warmup": warm_dir,
        "warmup_files": warm,
        "drops": drop_dir,
        "drop_files": paths,
        "files": files,
        "events": files * events_per_file,
        "max_event_id": eid - 1,
        "rows_in_per_file": [events_per_file] * files,
        "consumed_per_file": consumed,
        "distinct_pks_per_file": distinct,
    }


def _lsn(n: int) -> str:
    return f"{n >> 32:X}/{n & 0xFFFFFFFF:X}"


def gen_envelope(
    out: str,
    seed: int,
    *,
    keys: int,
    files: int,
    tx_per_file: int,
    max_changes: int,
    zipf_s: float,
) -> dict:
    """wal2json format-1 transactions, one JSON object per line.

    Each transaction has 1..``max_changes`` changes on keys drawn
    Zipf(``zipf_s``) over ``keys`` ids. A key that is absent gets an
    ``insert``; a live key gets an ``update`` (full row, 85%) or a
    ``delete`` (oldkeys only, 15%). Every change carries all columns,
    so the final index is global last-wins over the changes in LSN
    order whatever the batch boundaries are.

    Layout under ``out``: ``wal/wal-NNNNN.jsonl`` and ``changes.parquet``
    (one row per change: seq order, op, id, payload) for the oracle."""
    rng = random.Random(seed)
    weights = [1.0 / (i + 1) ** zipf_s for i in range(keys)]
    cum, acc = [], 0.0
    for w in weights:
        acc += w
        cum.append(acc)
    perm = list(range(1, keys + 1))
    rng.shuffle(perm)  # hot keys spread over buckets
    wal_dir = os.path.join(out, "wal")
    os.makedirs(wal_dir)
    live: set[int] = set()
    lsn = 0x1000000
    ch_ord, ch_op, ch_id, ch_v, ch_name, ch_qty = [], [], [], [], [], []
    paths, distinct, per_file = [], [], []
    for f in range(files):
        lines = []
        keys_f = set()
        first = len(ch_ord)
        for _ in range(tx_per_file):
            n = rng.randint(1, max_changes)
            changes = []
            for _ in range(n):
                pk = perm[bisect.bisect_left(cum, rng.random() * acc)]
                keys_f.add(pk)
                if pk not in live:
                    kind = "insert"
                    live.add(pk)
                elif rng.random() < 0.15:
                    kind = "delete"
                    live.discard(pk)
                else:
                    kind = "update"
                v = round(rng.uniform(0, 1000), 3)
                name = f"user-{pk}-{rng.randrange(1_000_000):06d}"
                qty = rng.randrange(10_000)
                ch_ord.append(len(ch_ord))
                ch_op.append(kind)
                ch_id.append(pk)
                ch_v.append(v)
                ch_name.append(name)
                ch_qty.append(qty)
                if kind == "delete":
                    changes.append({
                        "kind": "delete", "schema": "public", "table": "users",
                        "oldkeys": {"keynames": ["id"], "keytypes": ["bigint"],
                                    "keyvalues": [pk]},
                    })
                else:
                    changes.append({
                        "kind": kind, "schema": "public", "table": "users",
                        "columnnames": ["id", "v", "name", "qty"],
                        "columntypes": ["bigint", "double precision", "text",
                                        "bigint"],
                        "columnvalues": [pk, v, name, qty],
                    })
            lsn += 64 + 48 * n
            # commit timestamps advance with the log, 1 us per byte
            ts = _EPOCH + datetime.timedelta(microseconds=TS0_US + lsn)
            lines.append(json.dumps({
                "change": changes,
                "nextlsn": _lsn(lsn),
                "timestamp": ts.strftime("%Y-%m-%d %H:%M:%S.%f+00"),
            }))
        p = os.path.join(wal_dir, f"wal-{f:05d}.jsonl")
        with open(p, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        paths.append(p)
        distinct.append(len(keys_f))
        per_file.append(len(ch_ord) - first)
    _stamp_in_order(paths)
    changes_path = os.path.join(out, "changes.parquet")
    pq.write_table(
        pa.table({"ord": ch_ord, "op": ch_op, "id": ch_id, "v": ch_v,
                  "name": ch_name, "qty": ch_qty}),
        changes_path,
    )
    return {
        "drops": wal_dir,
        "files": files,
        "events": len(ch_ord),
        "changes": changes_path,
        "rows_in_per_file": [tx_per_file] * files,
        "consumed_per_file": per_file,
        "distinct_pks_per_file": distinct,
    }
