"""Output checks. None of them runs inside a timed region.

Each check compares the program's output with an answer computed
independently: by DuckDB over the generated input files, or from the
generator's own record (the planted near-duplicate pairs).
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb


def canon(v) -> str:
    """Canonical text of one value; floats keep full precision and
    decimals keep their scale, so a check is as strict as the oracle."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, order-insensitive hash) with columns taken in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    return len(rows), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def duck_views(con, data_dir: str) -> None:
    """Register each ``<table>.parquet`` file or directory as a view."""
    for entry in sorted(os.listdir(data_dir)):
        if not entry.endswith(".parquet"):
            continue
        path = os.path.join(data_dir, entry)
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE OR REPLACE VIEW {entry[:-8]} AS SELECT * FROM read_parquet('{src}')")


def oracle_hash(con, sql: str) -> tuple[int, str]:
    rel = con.sql(sql)
    return table_hash(list(rel.columns), rel.fetchall())


def _fingerprint_sql(con, src: str) -> str:
    """Row count and an order-insensitive sum of row hashes. Timestamps are
    compared at microsecond precision, the precision the clone keeps."""
    desc = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{src}')").fetchall()
    cols = [
        f'CAST("{name}" AS TIMESTAMP) AS "{name}"' if typ.startswith("TIMESTAMP") else f'"{name}"'
        for name, typ, *_ in desc
    ]
    return (
        f"SELECT count(*), CAST(sum(hash(s)) AS VARCHAR) FROM "
        f"(SELECT {', '.join(cols)} FROM read_parquet('{src}')) s"
    )


def database_fingerprints(data_dir: str, tables: list[str]) -> dict[str, tuple[int, str]]:
    """Per-table (rows, hash) of a directory of ``<table>.parquet`` entries."""
    con = duckdb.connect()
    try:
        out = {}
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            n, h = con.execute(_fingerprint_sql(con, src)).fetchone()
            out[t] = (int(n), h)
        return out
    finally:
        con.close()


def expected_violations(data_dir: str, pks: dict, fks: dict, checks: dict) -> dict[str, int]:
    """The constraint-violation counts ``validate_database`` reports,
    computed by DuckDB: duplicate key groups per PK, orphaned non-NULL
    child rows per FK, and rows failing each CHECK."""
    con = duckdb.connect()
    try:
        duck_views(con, data_dir)
        out = {}
        for t, cols in pks.items():
            keys = ", ".join(cols)
            out[f"pk:{t}"] = con.execute(
                f"SELECT count(*) FROM (SELECT {keys} FROM {t} GROUP BY {keys} HAVING count(*) > 1)"
            ).fetchone()[0]
        for t, rels in fks.items():
            for name, child_cols, parent, parent_cols in rels:
                present = " AND ".join(f"c.{c} IS NOT NULL" for c in child_cols)
                match = " AND ".join(f"p.{p} = c.{c}" for c, p in zip(child_cols, parent_cols))
                out[f"fk:{name}"] = con.execute(
                    f"SELECT count(*) FROM {t} c WHERE {present} AND NOT EXISTS "
                    f"(SELECT 1 FROM {parent} p WHERE {match})"
                ).fetchone()[0]
        for t, rels in checks.items():
            for name, expr in rels:
                out[f"ck:{name}"] = con.execute(
                    f"SELECT count(*) FROM {t} WHERE NOT ({expr})"
                ).fetchone()[0]
        return {k: int(v) for k, v in out.items()}
    finally:
        con.close()


def recall(cluster_rows: list[tuple[int, int]], pairs: list[tuple[int, int]]) -> float:
    """Share of planted pairs whose two documents share a cluster id;
    ``cluster_rows`` are (doc_id, cluster_id)."""
    cluster = dict(cluster_rows)
    hit = sum(1 for a, b in pairs if a in cluster and cluster.get(a) == cluster.get(b))
    return hit / len(pairs) if pairs else 1.0


def cdc_replay_hash(base: str, epochs: list[str]) -> tuple[int, str]:
    """Replay the first ``len(epochs)`` change epochs on the base table in
    DuckDB and hash the resulting state."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{base}')")
        for d in epochs:
            up = os.path.join(d, "upserts.parquet")
            dels = os.path.join(d, "deletes.parquet")
            con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM read_parquet('{up}'))")
            con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{up}')")
            con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM read_parquet('{dels}'))")
        return oracle_hash(con, "SELECT o_orderkey, price, ver FROM t")
    finally:
        con.close()
