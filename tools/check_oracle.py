"""Local stand-in for the driver's correctness gate — STRICT canon.

Every registered query (``__spark_entry__.registry()``) is run in Spark
and in DuckDB and compared the way the driver compares them:

- Spark results via ``DataFrame.toPandas()`` (DecimalType -> object of
  decimal.Decimal, TIMESTAMP_LTZ -> tz-aware datetime64, arrays -> lists);
- oracle results via ``duckdb .df()`` (HUGEINT/DECIMAL -> float64,
  TIMESTAMP -> naive datetime64);
- columns sorted by name, then ``DataFrame.sort_values`` over ALL columns
  (this is what raised ``unhashable type: 'list'`` in the driver — list
  columns must crash here too, not be papered over);
- value hash over ``str(cell)`` with NO rounding or normalisation, so an
  int64 124 vs float64 124.0 drift fails exactly as the driver fails it.

Usage:  python tools/check_oracle.py [sf_dir] [query ...]

With no query names every registered query is checked; an unknown name
is a failure.
"""

from __future__ import annotations

import hashlib
import sys

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-mirror canonical form: name-sorted columns, row-sorted by
    every column (raises on unhashable cells, like the driver)."""
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def frame_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for row in df.itertuples(index=False, name=None):
        h.update("\x01".join(str(v) for v in row).encode("utf-8", "surrogatepass"))
        h.update(b"\x02")
    return h.hexdigest()


def make_oracle_con(sf_dir: str):
    """DuckDB connection with the driver's table views registered."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def check_one(spark, con, sf_dir, query) -> "str | None":
    """Run one registry record through the driver-mirror strict canon.
    Returns None on a full match, else a failure description with the
    schema, dtypes and first differing row."""
    sc = canon_frame(query.build(spark, sf_dir).toPandas())
    oc = canon_frame(con.execute(query.oracle()).df())
    if list(sc.columns) != list(oc.columns):
        return (
            f"schema mismatch, rows {len(sc)}/{len(oc)}\n"
            f"   spark cols : {list(sc.columns)} {list(sc.dtypes)}\n"
            f"   oracle cols: {list(oc.columns)} {list(oc.dtypes)}"
        )
    if len(sc) == len(oc) and frame_hash(sc) == frame_hash(oc):
        return None
    msg = [
        f"value mismatch, rows {len(sc)}/{len(oc)}",
        f"   spark dtypes : {dict(zip(sc.columns, map(str, sc.dtypes)))}",
        f"   oracle dtypes: {dict(zip(oc.columns, map(str, oc.dtypes)))}",
    ]
    for i in range(min(len(sc), len(oc))):
        a = "\x01".join(str(v) for v in sc.iloc[i])
        b = "\x01".join(str(v) for v in oc.iloc[i])
        if a != b:
            msg += [f"   row {i} spark : {a[:220]}", f"   row {i} oracle: {b[:220]}"]
            break
    return "\n".join(msg)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]

    import __spark_entry__ as entrymod
    from fileverification_spark.session import get_spark

    records = {q.name: q for q in entrymod.registry()}
    unknown = sorted(set(names) - set(records))
    if unknown:
        # a filter that matches nothing must not print "FAILURES: 0"
        print(f"UNKNOWN QUERY NAMES: {unknown}")
        print("FAILURES:", len(unknown))
        return 1

    spark = get_spark("oracle-check")
    con = make_oracle_con(sf_dir)
    failures = 0
    for q in [records[n] for n in names] or records.values():
        try:
            err = check_one(spark, con, sf_dir, q)
        except Exception as e:  # noqa: BLE001 - the driver reports ERR and goes on
            err = f"ERROR: {type(e).__name__}: {e}"
        print(f"{q.name:30s} {'OK' if err is None else err}")
        failures += err is not None
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
