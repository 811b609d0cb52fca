"""Enrichment operator semantics vs the reference's parsing rules
(/root/reference/graven/worker/analyzer.py:69-95,
 /root/reference/graven/worker/vuln_fetcher.py:131-146,
 /root/reference/graven/db/graven_database.py:295-304)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from graven_spark.plans import enrich


GRYPE = {
    "matches": [
        {"vulnerability": {"id": "CVE-2021-1234", "severity": "High"}},
        {"vulnerability": {"id": "GHSA-abcd-efgh", "severity": "Low"}},  # filtered
        {"vulnerability": {"id": "CVE-2021-1234", "severity": "High"}},  # dup kept here
    ],
    "descriptor": {"timestamp": "2024-03-01T12:00:00+00:00"},
}


def test_flatten_grype_filters_non_cve(spark):
    df = spark.createDataFrame(
        [("jar1", json.dumps(GRYPE))], "jar_id string, report_json string"
    )
    rows = enrich.flatten_grype(df).collect()
    assert len(rows) == 2  # GHSA dropped, dup CVE rows preserved pre-assoc
    assert all(r.vuln_id == "CVE-2021-1234" and r.severity == "High" for r in rows)
    assert rows[0].scan_ts.year == 2024

    assoc = enrich.jar_cve_assoc(enrich.flatten_grype(df), "run1").collect()
    assert len(assoc) == 1  # PK dedup (jar_id, cve_id)


def test_parse_gav_reference_split(spark):
    uri = "com/example/libs/mylib/2.1.0/mylib-2.1.0.jar"
    df = spark.createDataFrame([(uri,)], "uri string")
    row = df.select(*enrich.parse_gav(F.col("uri"))).head()
    assert row.group_id == "com.example.libs"
    assert row.artifact_id == "mylib"
    assert row.version == "2.1.0"
    assert row.jar_name == "mylib-2.1.0.jar"


NVD = {
    "vulnerabilities": [
        {
            "cve": {
                "id": "CVE-2020-1",
                "descriptions": [
                    {"lang": "es", "value": "hola"},
                    {"lang": "en", "value": "english description"},
                ],
                "metrics": {"cvssMetricV31": [{"cvssData": {"baseScore": 7.5}}]},
                "weaknesses": [
                    {"description": [{"value": "CWE-79"}, {"value": "NVD-CWE-Other"}]},
                    {"description": [{"value": "CWE-89"}]},
                ],
            }
        }
    ]
}


def test_parse_nvd(spark):
    df = spark.createDataFrame([(json.dumps(NVD),)], "nvd_json string")
    row = enrich.parse_nvd(df).head()
    assert row.cve_id == "CVE-2020-1"
    assert row.description_en == "english description"
    assert row.base_score == 7.5
    assert row.cwes == ["CWE-79", "CWE-89"]  # NVD-CWE-Other keeps CWE? no: startswith CWE
