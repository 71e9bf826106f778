"""Exit-code contract of jobs/verify_job.py (Program.cs:14-27, :300-339)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))

import verify_job as J  # noqa: E402

from fileverification_spark.sources import pages as P  # noqa: E402

SF = "/root/testdata/sf0.001"


def _known_page(spark):
    from pyspark.sql import functions as F

    return (
        P.pages_with_derived(spark, SF)
        .where(F.col("doc_id") == 1)
        .select("url", "text_sha256", "cell")
        .first()
    )


def test_point_ok_and_mismatch_and_missing(spark, tmp_path):
    row = _known_page(spark)
    out = str(tmp_path / "o")
    ok = J.main([SF, out, "r", "--point", row["url"], row["text_sha256"].lower()])
    assert ok == J.SUCCESS
    bad = J.main([SF, out, "r", "--point", row["url"], "DEAD" * 16])
    assert bad == J.ERROR_HASH_NOT_MATCH
    gone = J.main([SF, out, "r", "--point", row["url"] + "#nope", "AB"])
    assert gone == J.ERROR_NOT_FILE


def test_tree_default_success_strict_fails(spark, tmp_path):
    # tampered manifest always contains FAIL/MISSING rows -> reference
    # parity returns SUCCESS (Program.cs:278); --strict returns 4
    out = str(tmp_path / "o")
    assert J.main([SF, out, "r1"]) == J.SUCCESS
    assert J.main([SF, out, "r2", "--strict"]) == J.ERROR_HASH_NOT_MATCH


def test_leaf_only_runs_one_cell(spark, tmp_path, capsys):
    import json

    row = _known_page(spark)
    out = str(tmp_path / "o")
    rc = J.main([SF, out, "r", "--exclude-subdir", str(row["cell"])])
    assert rc == J.SUCCESS
    line = [
        ln for ln in capsys.readouterr().out.splitlines() if "VERIFY-RESULT" in ln
    ][-1]
    counts = json.loads(line.split("VERIFY-RESULT ")[1])["counts"]
    assert sum(counts.values()) > 0


def test_bad_settings_is_error(tmp_path):
    assert J.main([SF, str(tmp_path), "r", "/no/such/settings.json"]) == J.ERROR


def test_xml_settings_end_to_end(spark, tmp_path, capsys):
    """The reference-native XML settings transport drives the whole job:
    exclusions apply and notification endpoints load (the POST itself
    fails offline — logged, never fatal: Request.cs error swallowing)."""
    import json

    xml = tmp_path / "settings.xml"
    xml.write_text("""<?xml version="1.0"?>
<settings>
  <exclusions><paths><path>/de/</path></paths></exclusions>
  <allowremove>true</allowremove>
  <notifications>
    <waittime>60000</waittime>
    <notification>
      <url>http://localhost:1/unreachable</url>
      <data><body>{"m": "[message]"}</body></data>
    </notification>
  </notifications>
</settings>
""")
    out = str(tmp_path / "o")
    rc = J.main([SF, out, "rx", str(xml)])
    assert rc == J.SUCCESS
    line = [
        ln for ln in capsys.readouterr().out.splitlines() if "VERIFY-RESULT" in ln
    ][-1]
    counts = json.loads(line.split("VERIFY-RESULT ")[1])["counts"]
    # the exclusion really filtered: fewer rows than the unfiltered run
    out2 = str(tmp_path / "o2")
    J.main([SF, out2, "ry"])
    line2 = [
        ln for ln in capsys.readouterr().out.splitlines() if "VERIFY-RESULT" in ln
    ][-1]
    counts2 = json.loads(line2.split("VERIFY-RESULT ")[1])["counts"]
    assert sum(counts.values()) < sum(counts2.values())


def test_xml_settings_malformed_is_error(tmp_path):
    bad = tmp_path / "bad.xml"
    bad.write_text("<settings><exclusions>")
    assert J.main([SF, str(tmp_path / "o"), "r", str(bad)]) == J.ERROR
