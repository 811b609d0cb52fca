"""Enrichment operators (analyzer / vuln-fetcher shapes, SURVEY.md §2.8,
§2.3 J3/J4): scanner-report JSON flattening, GAV coordinate parsing,
association joins — all pure Catalyst expressions.

Reference parity:
- grype report parse (matches[].vulnerability.{id,severity},
  descriptor.timestamp): /root/reference/graven/worker/analyzer.py:69-95
- CVE-prefix filter: analyzer.py:74-77
- GAV parse from uri: /root/reference/graven/db/graven_database.py:295-304
- prefix strip: graven_database.py:114 (const :25)
- jar↔cve / cve↔cwe association upserts with PK dedup:
  graven_database.py:330-351
- NVD JSON: english description + CWE weaknesses + cvss base score:
  /root/reference/graven/worker/vuln_fetcher.py:131-146
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

GRYPE_SCHEMA = T.StructType(
    [
        T.StructField(
            "matches",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "vulnerability",
                            T.StructType(
                                [
                                    T.StructField("id", T.StringType()),
                                    T.StructField("severity", T.StringType()),
                                ]
                            ),
                        )
                    ]
                )
            ),
        ),
        T.StructField(
            "descriptor",
            T.StructType([T.StructField("timestamp", T.StringType())]),
        ),
    ]
)


def flatten_grype(reports: DataFrame, json_col: str = "report_json") -> DataFrame:
    """reports(jar_id, report_json) → one row per CVE match:
    (jar_id, vuln_id, severity, scan_ts). Non-CVE ids (GHSA-…) filtered,
    matching the reference's startswith('CVE') gate (analyzer.py:74-77)."""
    parsed = reports.withColumn("_r", F.from_json(F.col(json_col), GRYPE_SCHEMA))
    return (
        parsed.select(
            "jar_id",
            F.explode(F.col("_r.matches")).alias("m"),
            F.to_timestamp(F.col("_r.descriptor.timestamp")).alias("scan_ts"),
        )
        .select(
            "jar_id",
            F.col("m.vulnerability.id").alias("vuln_id"),
            F.col("m.vulnerability.severity").alias("severity"),
            "scan_ts",
        )
        .filter(F.col("vuln_id").startswith("CVE"))
    )


def parse_gav(uri: Column) -> list[Column]:
    """uri 'g/r/o/u/p/artifact/version/artifact-version.jar' →
    (group_id dotted, artifact_id, version, jar_name)
    (graven_database.py:295-304)."""
    s = F.split(uri, "/")
    return [
        F.array_join(F.slice(s, 1, F.size(s) - 3), ".").alias("group_id"),
        F.element_at(s, -3).alias("artifact_id"),
        F.element_at(s, -2).alias("version"),
        F.element_at(s, -1).alias("jar_name"),
    ]


def jar_cve_assoc(jar_matches: DataFrame, run_id: str) -> DataFrame:
    """Association rows with PK dedup (graven_database.py:342-351)."""
    return (
        jar_matches.select("jar_id", F.col("vuln_id").alias("cve_id"))
        .dropDuplicates(["jar_id", "cve_id"])
        .withColumn("run_id", F.lit(run_id))
    )


def cve_cwe_assoc(cve_ref: DataFrame) -> DataFrame:
    """cve_ref(cve_id, cwes array<string>) → association pairs + stub cwe
    rows for ids not yet known (graven_database.py:330-340)."""
    pairs = cve_ref.select(
        "cve_id", F.explode("cwes").alias("cwe_id")
    ).dropDuplicates(["cve_id", "cwe_id"])
    return pairs


NVD_SCHEMA = T.StructType(
    [
        T.StructField(
            "vulnerabilities",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "cve",
                            T.StructType(
                                [
                                    T.StructField("id", T.StringType()),
                                    T.StructField(
                                        "descriptions",
                                        T.ArrayType(
                                            T.StructType(
                                                [
                                                    T.StructField("lang", T.StringType()),
                                                    T.StructField("value", T.StringType()),
                                                ]
                                            )
                                        ),
                                    ),
                                    T.StructField(
                                        "metrics",
                                        T.StructType(
                                            [
                                                T.StructField(
                                                    "cvssMetricV31",
                                                    T.ArrayType(
                                                        T.StructType(
                                                            [
                                                                T.StructField(
                                                                    "cvssData",
                                                                    T.StructType(
                                                                        [
                                                                            T.StructField(
                                                                                "baseScore",
                                                                                T.DoubleType(),
                                                                            )
                                                                        ]
                                                                    ),
                                                                )
                                                            ]
                                                        )
                                                    ),
                                                )
                                            ]
                                        ),
                                    ),
                                    T.StructField(
                                        "weaknesses",
                                        T.ArrayType(
                                            T.StructType(
                                                [
                                                    T.StructField(
                                                        "description",
                                                        T.ArrayType(
                                                            T.StructType(
                                                                [
                                                                    T.StructField(
                                                                        "value", T.StringType()
                                                                    )
                                                                ]
                                                            )
                                                        ),
                                                    )
                                                ]
                                            )
                                        ),
                                    ),
                                ]
                            ),
                        )
                    ]
                )
            ),
        )
    ]
)


MITRE_CWE_ROOT = "https://cwe.mitre.org/data/definitions"


def parse_cwe_page(pages: DataFrame, cwe_col: str = "cwe_id", html_col: str = "html") -> DataFrame:
    """MITRE CWE page parse (S9; reference
    /root/reference/graven/worker/vuln_fetcher.py:256-289): the first
    ``<h2>`` minus the ``CWE-N: `` prefix → name (NULL when absent),
    ``<div id="Description">`` with ``id="Abstract"`` fallback minus the
    leading ``Description`` label → description, plus the definition URL
    built from the numeric id. Pure Catalyst regexp — fixture pages are
    single-level markup; swap in an Arrow UDF extractor for arbitrarily
    nested real pages."""
    html = F.col(html_col)
    h2 = F.regexp_extract(html, "<h2>(.*?)</h2>", 1)
    prefix = F.concat(F.upper(F.col(cwe_col)), F.lit(": "))
    name = F.when(h2 == "", F.lit(None).cast("string")).otherwise(
        F.when(h2.startswith(prefix), h2.substr(F.length(prefix) + 1, F.length(h2)))
        .otherwise(h2)
    )
    desc_raw = F.regexp_extract(html, '<div id="Description">(.*?)</div>', 1)
    abstract = F.regexp_extract(html, '<div id="Abstract">(.*?)</div>', 1)
    picked = F.when(desc_raw != "", desc_raw).otherwise(abstract)
    desc = F.when(picked == "", F.lit(None).cast("string")).otherwise(
        F.when(picked.startswith("Description"),
               picked.substr(F.lit(12), F.length(picked))).otherwise(picked)
    )
    link = F.concat(
        F.lit(MITRE_CWE_ROOT + "/"),
        F.element_at(F.split(F.col(cwe_col), "-"), 2),
        F.lit(".html"),
    )
    return pages.select(
        F.col(cwe_col),
        name.alias("cwe_name"),
        desc.alias("cwe_description"),
        link.alias("link"),
    )


def nvd_batch_lookup(requested: DataFrame, cve_ref: DataFrame) -> DataFrame:
    """Batch enrichment lookup — the reference's NVD REST fetch loop
    (/root/reference/graven/worker/vuln_fetcher.py:111-146: take the CVE ids
    discovered by the analyzer, query the reference source, record hits and
    log misses) as one set-oriented join:

    distinct requested ids ⋈ cve_ref(cve_id, description_en, base_score,
    cwes) LEFT → one row per requested id with ``found`` flag (misses keep
    null enrichment columns — the 404/no-data analog, vuln_fetcher.py:120).

    Scale: the id side is preserved (misses must survive), so it cannot be
    the broadcast-probe side of an outer hash join — the join clusters both
    sides on cve_id instead. With cve_ref stored bucketed by cve_id (same
    layout as the seen base) the big reference side joins with no Exchange;
    at small ref sizes AQE broadcasts the ref itself."""
    ids = requested.select("cve_id").distinct()
    hit = cve_ref.withColumn("_hit", F.lit(True))
    return (
        ids.join(hit, "cve_id", "left")
        .withColumn("found", F.coalesce(F.col("_hit"), F.lit(False)))
        .drop("_hit")  # presence marker, NOT description nullability — a
        # real CVE with no English description is still a hit
    )


def parse_nvd(nvd_json: DataFrame, json_col: str = "nvd_json") -> DataFrame:
    """NVD payload → (cve_id, description_en, base_score, cwes)
    (vuln_fetcher.py:131-146): first english description, first v3.1 base
    score, CWE-prefixed weakness values."""
    c = F.element_at(F.from_json(F.col(json_col), NVD_SCHEMA)["vulnerabilities"], 1)["cve"]
    desc_en = F.element_at(
        F.filter(c["descriptions"], lambda d: d["lang"] == F.lit("en")), 1
    )["value"]
    score = F.element_at(c["metrics"]["cvssMetricV31"], 1)["cvssData"]["baseScore"]
    weak_vals = F.flatten(F.transform(c["weaknesses"], lambda w: w["description"]))
    cwes = F.filter(weak_vals, lambda d: d["value"].startswith("CWE"))
    return nvd_json.select(
        c["id"].alias("cve_id"),
        desc_en.alias("description_en"),
        score.alias("base_score"),
        F.transform(cwes, lambda d: d["value"]).alias("cwes"),
    )
