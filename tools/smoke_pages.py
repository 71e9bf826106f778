"""One-off parity smoke for the pages derivation (Spark vs DuckDB)."""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

from fileverification_spark.session import get_spark
from fileverification_spark.sources import pages as P

SF = "/root/testdata/sf0.001"

spark = get_spark("smoke", master="local[4]")
df = P.pages_with_derived(spark, SF).select(
    "doc_id", "url", "warc_ts", "text_sha256", "lat", "lon", "cell"
)
srows = {r["doc_id"]: tuple(r) for r in df.collect()}

con = duckdb.connect()
con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
sql = f"WITH {P.pages_cte()} SELECT doc_id, url, warc_ts, text_sha256, lat, lon, cell FROM pages"
orows = {r[0]: tuple(r) for r in con.execute(sql).fetchall()}

assert len(srows) == len(orows), (len(srows), len(orows))
bad = 0
for k, sv in srows.items():
    ov = orows[k]
    svc = (sv[0], sv[1], sv[2].strftime("%Y-%m-%d %H:%M:%S"), sv[3], sv[4], sv[5], sv[6])
    ovc = (ov[0], ov[1], ov[2].strftime("%Y-%m-%d %H:%M:%S"), ov[3], ov[4], ov[5], ov[6])
    if svc != ovc:
        bad += 1
        if bad < 4:
            print("SPARK :", svc)
            print("DUCK  :", ovc)
print("rows:", len(srows), "mismatches:", bad)
print("sample:", list(srows.values())[0])
