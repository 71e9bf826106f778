"""spark-submit entry point for the flagship verify run.

    spark-submit --master local[8] \
        --py-files dist/fileverification_spark.zip \
        jobs/verify_job.py <sf_dir> <out_dir> [run_id] [settings.json] [flags]

Mirrors the reference lifecycle E1 (FileVerification/Program.cs:215-279):
scan -> derive -> verify joins -> report sink + per-status summary, plus
the engine's lineage table (north_rule: per-partition lineage + metrics).
On a cluster the same invocation takes `--master yarn --num-executors N`;
nothing in the job changes — that is the point of keeping all scale
decisions in conf + table layout rather than code.

Exit-code contract — the reference's only machine-readable API
(FileVerification/Program.cs:14-27, :300-339):

    0  SUCCESS
    1  ERROR                 bad arguments / settings unreadable
    2  ERROR_NOT_FILE        --point url not present in the table
    3  ERROR_NO_HASH         hash could not be computed (null text)
    4  ERROR_HASH_NOT_MATCH  --point hash mismatch; tree FAIL/MISSING
                             under --strict (the reference's tree run
                             always returns SUCCESS, Program.cs:278 —
                             --strict is the opt-in batch strengthening)

Flags: ``--point URL HASH [ALGO]`` single-key verify (E2,
Program.cs:300-339); ``--exclude-subdir CELL`` leaf-only verify of one
cell, no ladder (Program.cs:58-62); ``--strict`` nonzero exit on any
FAIL/MISSING in the tree report.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession

from fileverification_spark import config as CFG
from fileverification_spark import lifecycle as L
from fileverification_spark.operators import verify as V
from fileverification_spark.plans.explain import codegen_counters
from fileverification_spark.sources import pages as P

SUCCESS = 0
ERROR = 1
ERROR_NOT_FILE = 2
ERROR_NO_HASH = 3
ERROR_HASH_NOT_MATCH = 4

_POINT_STATUS_CODES = {
    "OK": SUCCESS,
    "MISSING": ERROR_NOT_FILE,
    "NO_HASH": ERROR_NO_HASH,
    "FAIL": ERROR_HASH_NOT_MATCH,
}


def _session() -> SparkSession:
    # master/executors come from spark-submit; only runtime-settable SQL
    # conf here, so the job is cluster-agnostic.
    spark = SparkSession.builder.appName("fv-verify").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.sparkContext.setLogLevel("WARN")
    return spark


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)

    strict = "--strict" in argv
    if strict:
        argv.remove("--strict")
    point: tuple[str, str, str] | None = None
    if "--point" in argv:
        i = argv.index("--point")
        tail = argv[i + 1 :]
        if len(tail) < 2:
            print("ERROR: --point needs URL HASH [ALGO]")
            return ERROR
        point = (tail[0], tail[1], tail[2] if len(tail) > 2 else "sha256")
        argv = argv[:i]
    leaf_cell: int | None = None
    if "--exclude-subdir" in argv:
        i = argv.index("--exclude-subdir")
        try:
            leaf_cell = int(argv[i + 1])
        except (IndexError, ValueError):
            print("ERROR: --exclude-subdir needs a CELL id")
            return ERROR
        del argv[i : i + 2]

    sf_dir = argv[0] if len(argv) > 0 else "/root/testdata/sf0.01"
    out_dir = argv[1] if len(argv) > 1 else "/tmp/fv_verify_out"
    run_id = argv[2] if len(argv) > 2 else "r1"
    try:
        if len(argv) > 3:
            # settings transport by extension: reference-native XML
            # (XmlFile.cs:74-104) or JSON
            cfg = (CFG.JobConfig.from_xml(argv[3])
                   if argv[3].endswith(".xml")
                   else CFG.JobConfig.from_json(argv[3]))
        else:
            cfg = CFG.JobConfig()
    except Exception as e:  # unreadable/malformed settings, either format
        print(f"ERROR: settings unreadable: {e}")
        return ERROR

    spark = _session()
    codegen_before = codegen_counters(spark)["compiles"]
    live = P.pages_with_derived(spark, sf_dir)

    if point is not None:
        # E2 single-key verify (GetFileChecksum, Program.cs:300-339):
        # the status itself carries the exit code
        url, provided, algo = point
        row = V.verify_keys(live, [(url, provided)], algo=algo).first()
        print(f"POINT-RESULT {json.dumps(row.asDict())}")
        return _POINT_STATUS_CODES.get(row["status"], ERROR)

    stored = V.tampered_manifest(live)
    if leaf_cell is not None:
        report = V.verify_cell(live, stored, leaf_cell)
        counts = {r["status"]: r["n"] for r in V.verify_counts(report).collect()}
        res_counts, elapsed = counts, 0.0
    else:
        res = L.run_tree_verify(
            live,
            stored,
            out_dir,
            run_id,
            exclusions=cfg.exclusions,
            allow_remove=cfg.allow_remove,
            notifications=cfg.notifications or None,
        )
        res_counts, elapsed = res.counts, res.elapsed_sec
    print(
        "VERIFY-RESULT "
        + json.dumps(
            {
                "run_id": run_id,
                "counts": res_counts,
                "elapsed_sec": round(elapsed, 2),
                # generated-code cache misses during this run
                "codegen_compiles": codegen_counters(spark)["compiles"]
                - codegen_before,
            }
        )
    )
    if strict and (res_counts.get("FAIL", 0) or res_counts.get("MISSING", 0)):
        return ERROR_HASH_NOT_MATCH
    return SUCCESS


if __name__ == "__main__":
    raise SystemExit(main())
