"""DuckDB oracles for the final index, and the comparison against it.

The oracles are written here, from the generator's files and rows, and
import nothing from the program: a change to the program cannot move
the reference it is checked against.
"""

from __future__ import annotations

import glob
import os

import duckdb

_OPS = ("CASE event_type WHEN 'signup' THEN 'create' "
        "WHEN 'purchase' THEN 'update' WHEN 'click' THEN 'update' "
        "WHEN 'error' THEN 'delete' END")


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET TimeZone = 'UTC'")
    return con


def trickle_expected(files: list[str], out: str) -> int:
    """Apply each events file in order: keep the four consumed kinds,
    compact last-wins per pk by ``event_id``, then MERGE — ``create``
    replaces the document, ``update`` overwrites only non-NULL fields
    (an update whose ``k % 3 == 0`` carries no ``value``), ``delete``
    drops it. Writes the live documents to ``out``; returns their count."""
    con = _connect()
    con.execute("CREATE TABLE state (pk BIGINT, ts BIGINT, value DOUBLE, k BIGINT)")
    for f in files:
        con.execute(f"""
        CREATE OR REPLACE TEMP TABLE d AS
        WITH n AS (
            SELECT event_id AS seq, epoch_us(ts) AS ts, {_OPS} AS op,
                   user_id AS pk, value,
                   CAST(json_extract(props, '$.k') AS BIGINT) AS k
            FROM read_parquet(?)
            WHERE event_type IN ('signup', 'purchase', 'click', 'error')
        ), s AS (
            SELECT seq, ts, op, pk, k,
                   CASE WHEN op = 'update' AND k % 3 = 0 THEN NULL
                        ELSE value END AS value
            FROM n
        )
        SELECT pk, arg_max(struct_pack(op := op, ts := ts, value := value, k := k),
                           seq) AS x
        FROM s GROUP BY pk
        """, [f])
        con.execute("""
        CREATE OR REPLACE TABLE state AS
        SELECT COALESCE(d.pk, b.pk) AS pk,
               CASE d.x.op WHEN 'create' THEN d.x.ts
                           WHEN 'update' THEN COALESCE(d.x.ts, b.ts)
                           ELSE b.ts END AS ts,
               CASE d.x.op WHEN 'create' THEN d.x.value
                           WHEN 'update' THEN COALESCE(d.x.value, b.value)
                           ELSE b.value END AS value,
               CASE d.x.op WHEN 'create' THEN d.x.k
                           WHEN 'update' THEN COALESCE(d.x.k, b.k)
                           ELSE b.k END AS k
        FROM state b FULL OUTER JOIN d ON b.pk = d.pk
        WHERE d.x IS NULL OR d.x.op <> 'delete'
        """)
    con.execute(f"COPY (SELECT pk, make_timestamp(ts) AS ts, value, k FROM state "
                f"ORDER BY pk) TO '{out}' (FORMAT parquet)")
    return con.execute("SELECT count(*) FROM state").fetchone()[0]


def envelope_expected(changes: str, out: str) -> int:
    """Global last-wins over the generator's change rows: every change
    carries the whole row, so batch boundaries cannot matter."""
    con = _connect()
    con.execute(f"""
    COPY (
        SELECT id AS pk, x.v AS v, x.name AS name, x.qty AS qty FROM (
            SELECT id, arg_max(struct_pack(op := op, v := v, name := name, qty := qty),
                               ord) AS x
            FROM read_parquet('{changes}') GROUP BY id
        ) WHERE x.op <> 'delete' ORDER BY pk
    ) TO '{out}' (FORMAT parquet)
    """)
    return con.execute(f"SELECT count(*) FROM read_parquet('{out}')").fetchone()[0]


def index_files(index: str) -> list[str]:
    """Data files of a (bucketed or flat) parquet index."""
    real = os.path.realpath(index)
    return sorted(glob.glob(os.path.join(real, "**", "*.parquet"), recursive=True))


def index_mismatches(index: str, expected: str) -> int:
    """Rows in the index but not expected, plus rows expected but not in
    the index (multiset difference both ways, all payload columns)."""
    files = index_files(index)
    if not files:
        return _connect().execute(
            f"SELECT count(*) FROM read_parquet('{expected}')").fetchone()[0]
    con = _connect()
    cols = [r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{expected}')").fetchall()]

    def proj(alias: str) -> str:
        return ", ".join(
            f"epoch_us(CAST({alias}.{c} AS TIMESTAMP)) AS {c}" if c == "ts" else
            f"{alias}.{c}" for c in cols)

    flist = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    con.execute(f"CREATE TEMP VIEW idx AS SELECT {proj('i')} FROM "
                f"read_parquet({flist}, union_by_name = true, "
                f"hive_partitioning = false) i")
    con.execute(f"CREATE TEMP VIEW exp AS SELECT {proj('e')} FROM "
                f"read_parquet('{expected}') e")
    a = con.execute("SELECT count(*) FROM (SELECT * FROM idx EXCEPT ALL "
                    "SELECT * FROM exp)").fetchone()[0]
    b = con.execute("SELECT count(*) FROM (SELECT * FROM exp EXCEPT ALL "
                    "SELECT * FROM idx)").fetchone()[0]
    return a + b
