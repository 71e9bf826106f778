"""Expected outputs from the repo's DuckDB mirrors, computed once per run
before anything is timed, and the order-independent digest that compares
them with Spark's rows."""

from __future__ import annotations

import hashlib
import os

import duckdb
import numpy as np

from fileverification_spark.operators import graph as GR


def digest(rows: list[dict]) -> tuple[int, str]:
    """(row count, digest): each row's columns sorted by name and hashed,
    the hashes summed mod 2^64, so row order does not matter."""
    total = 0
    for r in rows:
        key = repr(tuple((k, r[k]) for k in sorted(r))).encode()
        total += int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "big")
    return len(rows), f"{total % 2**64:016x}"


class Oracle:
    """A DuckDB connection with parquet directories registered as views."""

    def __init__(self, work_dir: str, threads: int):
        self.con = duckdb.connect()
        tmp = os.path.join(work_dir, "duckdb_tmp")
        self.con.execute(f"SET temp_directory='{tmp}'")
        self.con.execute(f"SET threads={threads}")
        self.con.execute("SET memory_limit='2GB'")

    def view(self, name: str, parquet_dir: str) -> None:
        self.con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{parquet_dir}/*.parquet')"
        )

    def table(self, name: str, sql: str) -> None:
        self.con.execute(f"CREATE OR REPLACE TABLE {name} AS {sql}")

    def rows(self, sql: str) -> list[dict]:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]

    def digest(self, sql: str) -> tuple[int, str]:
        return digest(self.rows(sql))

    def close(self) -> None:
        self.con.close()


def sql_host_edges(links_rel: str) -> str:
    """DuckDB mirror of ``graph.host_edges`` over a (url, html) relation."""
    return f"""SELECT src, dst, CAST(count(*) AS BIGINT) AS w
FROM (SELECT {GR.sql_host_of('url')} AS src,
             unnest(regexp_extract_all(decode(html), '{GR.HOST_LINK_RE}', 1)) AS dst
      FROM {links_rel}) raw
WHERE src != dst
GROUP BY 1, 2"""


def connected_components(edges: list[dict]) -> tuple[list[dict], int]:
    """``graph.connected_components`` over ``(src, dst)`` rows, by the same
    min-label sweeps, and the number of sweeps its loop runs (the last one
    changes nothing).

    The repo's ``sql_connected_components`` builds the full transitive
    closure, one row per pair of nodes in a component: 16.8M rows for the
    benchmark's connected 4096-host graph, which DuckDB cannot build in a
    set-up's time. Labels are ranked by lexicographic order, so the
    smallest rank is the smallest label, as in both engines."""
    nodes = sorted({e["src"] for e in edges} | {e["dst"] for e in edges})
    rank = {n: i for i, n in enumerate(nodes)}
    src = np.array([rank[e["src"]] for e in edges], dtype=np.int64)
    dst = np.array([rank[e["dst"]] for e in edges], dtype=np.int64)
    src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
    label = np.arange(len(nodes))
    sweeps = 0
    while True:
        sweeps += 1
        new = label.copy()
        np.minimum.at(new, dst, label[src])
        if (new == label).all():
            break
        label = new
    return [
        {"node": n, "component": nodes[c]} for n, c in zip(nodes, label.tolist())
    ], sweeps
