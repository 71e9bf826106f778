"""Seeded benchmark inputs, generated with DuckDB and written to parquet
before anything is timed, so the engine receives only files.

The page corpus is fixed: every seed does the same amount of work. The seed
picks which manifest rows are perturbed, the kNN query points, the polygons
and the link wiring. The rates and sizes stay fixed. Pages are derived with
the engine's own DuckDB mirror (``pages.pages_cte``), so hashes, coordinates
and cells are bit-identical to what the engine computes.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from fileverification_spark.operators import spatial as S
from fileverification_spark.sources import pages as P

#: The documents test table (sf0.1, 5,000 rows), as measured: lowercase
#: ASCII words drawn evenly from the 30-word ``VOCAB`` and joined by single
#: spaces, 10 to 100 words a row spread evenly (297 characters on average,
#: 44 to 577), the language mix ``LANGS``, and sources ``src0``..``src19``
#: taking turns.
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
WORDS_PER_DOC = (10, 100)
N_SOURCES = 20

#: stored-manifest perturbation: (kind, share of pages). The bands are
#: disjoint, so the expected per-status counts follow from their sizes alone.
PERTURB = (("drop", 0.01), ("corrupt", 0.01), ("md5", 0.09), ("ghost", 0.01))

#: link corpus, in the ``bench_io.materialise_links`` wiring: hosts, and
#: the hash-spread values each host's anchors are offset by
N_HOSTS = 4096
LINK_SPREAD = 16


def documents(n: int) -> pd.DataFrame:
    """``(doc_id, text, lang, source)`` with the measured shape of the
    documents test table, from a fixed RNG."""
    rng = np.random.default_rng(0)
    lo, hi = WORDS_PER_DOC
    lengths = rng.integers(lo, hi + 1, size=n)
    words = np.array(VOCAB, dtype=object)[
        rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    ]
    ends = np.cumsum(lengths)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": [" ".join(words[e - k:e]) for e, k in zip(ends, lengths)],
        "lang": rng.choice([l for l, _ in LANGS], p=[s for _, s in LANGS], size=n),
        "source": np.char.add("src", (np.arange(n) % N_SOURCES).astype(str)),
    })


def perturbation(n: int, seed: int) -> pd.DataFrame:
    """``(doc_id, kind)``: disjoint doc_id sets per perturbation kind."""
    ids = np.random.default_rng([seed, 0]).permutation(n)
    parts, start = [], 0
    for kind, share in PERTURB:
        k = int(n * share)
        parts.append(pd.DataFrame({"doc_id": np.sort(ids[start:start + k]), "kind": kind}))
        start += k
    return pd.concat(parts, ignore_index=True)


def expected_counts(n: int, perturb: pd.DataFrame) -> dict[str, int]:
    """Per-status report counts implied by the perturbation alone: dropped
    pages come back ADDED, corrupted ones FAIL, ghosts MISSING, and every
    other page (md5 entries included) OK."""
    k = perturb["kind"].value_counts()
    return {
        "OK": n - int(k["drop"]) - int(k["corrupt"]),
        "FAIL": int(k["corrupt"]),
        "ADDED": int(k["drop"]),
        "MISSING": int(k["ghost"]),
    }


#: the stored manifest: the rules of verify.sql_tampered_manifest, with the
#: seeded ``kinds`` relation in place of its fixed moduli
STORED_SQL = """
j AS (SELECT p.*, coalesce(k.kind, '') AS kind,
             CASE WHEN k.kind = 'md5' THEN upper(md5(p.text)) ELSE p.text_sha256 END AS good
      FROM pages p LEFT JOIN kinds k USING (doc_id))
SELECT cell, url AS child_key,
       CASE WHEN kind = 'md5' THEN 'md5' ELSE 'sha256' END AS algo,
       CASE WHEN kind = 'corrupt' THEN reverse(good) ELSE good END AS hash
FROM j WHERE kind != 'drop'
UNION ALL
SELECT cell, url || '#ghost', 'sha256', text_sha256 FROM j WHERE kind = 'ghost'"""


class Writer:
    """A DuckDB connection that writes query results as parquet datasets."""

    def __init__(self, threads: int, temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{temp_dir}'")
        self.con.execute(f"SET threads={threads}")
        self.con.execute("SET TimeZone='UTC'")

    def write(self, sql: str, path: str, n_files: int) -> None:
        """Write the rows of ``sql`` as ``n_files`` parquet files."""
        tbl = self.con.execute(sql).arrow()
        os.makedirs(path)
        step = -(-tbl.num_rows // n_files)
        for i in range(n_files):
            pq.write_table(tbl.slice(i * step, step), f"{path}/part-{i:05d}.parquet")

    def close(self) -> None:
        self.con.close()


def write_verify(w: Writer, n: int, seed: int, d: str, n_files: int) -> dict[str, int]:
    """Raw pages and the seeded stored manifest under ``d``; returns the
    expected per-status counts."""
    perturb = perturbation(n, seed)
    w.con.register("documents", documents(n))
    w.con.register("kinds", perturb)
    w.con.execute(f"CREATE TEMP TABLE pages AS WITH {P.pages_cte()} SELECT * FROM pages")
    w.write(
        "SELECT doc_id, url, warc_ts::TIMESTAMPTZ AS warc_ts, text, lang FROM pages",
        f"{d}/pages", n_files,
    )
    w.write(f"WITH {STORED_SQL}", f"{d}/manifest", max(n_files // 4, 1))
    return expected_counts(n, perturb)


def write_derived(w: Writer, n: int, d: str, n_files: int) -> None:
    """Derived pages without the text column under ``d``."""
    w.con.register("documents", documents(n))
    w.write(
        f"WITH {P.pages_cte()} SELECT doc_id, url, warc_ts::TIMESTAMPTZ AS warc_ts,"
        " lang, text_sha256, lat, lon, cell FROM pages",
        f"{d}/pages_derived", n_files,
    )


def write_links(w: Writer, n: int, seed: int, d: str, n_files: int) -> None:
    """``(url, html: binary)`` pages wired as ``bench_io.materialise_links``
    wires them, with the seed as the hash salt.

    Page ``i`` hashes to a host ``src`` and a spread value ``sp``; its three
    anchors point at hosts ``3 src + 1 + 5 sp``, ``5 src + 2 + 11 sp`` and
    ``7 src + 17 sp`` (mod ``N_HOSTS``). A host thus links to up to 48
    others, and the host graph is connected."""
    def site(expr: str) -> str:
        return f"""'<a href="https://site' || CAST(({expr}) % {N_HOSTS} AS VARCHAR)""" \
            """ || '.example.net/p">fast join</a>'"""

    anchors = " || ".join(site(e) for e in (
        "src * 3 + 1 + sp * 5", "src * 5 + 2 + sp * 11", "src * 7 + sp * 17"
    ))
    w.write(
        f"SELECT 'https://site' || CAST(src AS VARCHAR) || '.example.net/p/'"
        f" || CAST(doc_id AS VARCHAR) AS url, encode({anchors}) AS html"
        f" FROM (SELECT doc_id, h % {N_HOSTS} AS src, (h >> 18) % {LINK_SPREAD} AS sp"
        f"       FROM (SELECT range AS doc_id, hash(range, {seed}) AS h FROM range({n})))"
        " ORDER BY doc_id",
        f"{d}/links", n_files,
    )


def polygons(seed: int, n: int = 8) -> list[S.Polygon]:
    """``n`` regular polygons with the shapes of ``spatial.default_polygons``
    at seeded centres."""
    rng = np.random.default_rng([seed, 1])
    out = []
    for i in range(n):
        cy, cx = float(rng.uniform(-45.0, 45.0)), float(rng.uniform(-150.0, 150.0))
        r, sides = 12.0 + 3.0 * (i % 4), 5 + (i % 4)
        out.append(S.Polygon(f"poly{i}", [
            (cy + r * math.cos(2.0 * math.pi * j / sides),
             cx + 1.3 * r * math.sin(2.0 * math.pi * j / sides))
            for j in range(sides)
        ]))
    return out


def query_points(seed: int, n: int = 16) -> list[tuple[int, float, float]]:
    rng = np.random.default_rng([seed, 2])
    return [
        (i, float(rng.uniform(-60.0, 60.0)), float(rng.uniform(-179.0, 179.0)))
        for i in range(n)
    ]
