"""Real-scanner execution wrapper: shell out to a syft/grype-shaped binary
per jar from inside ``mapInPandas`` Arrow batches.

Reference parity (the ONLY stubbed element of the pipeline is the binary
itself, which this module makes injectable):
- syft invocation + failure semantics: /root/reference/graven/anchore/syft.py:68-92
  (``syft -o json=<out> --from local-file <jar>``, non-zero exit →
  SyftScanFailure carrying the exit code + stderr, TimeoutExpired after
  SYFT_TIMEOUT)
- grype invocation: /root/reference/graven/anchore/grype.py:206-226
  (``grype --by-cve -o json=<out> <file>``, same failure shape)
- version probe: syft.py:94-105 / grype.py:228-239 (``<bin> --version``)
- worker catch → error_log row with context: the reference's generator /
  scanner workers catch scan failures and log them
  (/root/reference/graven/worker/generator.py:71-76,
  /root/reference/graven/worker/scanner.py:80-85); here failures become
  (exit_code, error) columns that the pipeline splits into errors-style rows.

Scale shape: one Arrow batch of jars per Python worker, one subprocess per
jar inside it (exactly the reference's process-per-scan, but fanned across
executors instead of a thread pool). The subprocess cost dominates, so the
per-row Python loop is not the hot path; the rest of the pipeline never
leaves the JVM.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.checkpoint import error_rows

# Matches the reference's scanner-stage output plus the failure columns the
# worker would log (exit_code + stderr context).
SCAN_SCHEMA = "jar_id string, report_json string, exit_code int, error string"

# reference SYFT_TIMEOUT / GRYPE_TIMEOUT (syft.py:25, grype.py:41)
DEFAULT_TIMEOUT = 60.0

# exit-code convention for a scan killed by the timeout (the reference
# raises TimeoutExpired instead of returning a code; the worker logs it —
# 124 is the conventional `timeout(1)` exit status)
TIMEOUT_EXIT_CODE = 124


def probe_version(bin_path: str) -> str:
    """``<bin> --version`` → last whitespace token (reference
    syft.py:94-105: ``syft 1.2.3`` → ``1.2.3``). Missing binary →
    FileNotFoundError, exactly like the reference's validate(). A binary
    that EXISTS but errors keeps its CalledProcessError (a distinct
    failure the caller should see as such, not "could not find"); one
    that prints the version to stderr, or prints nothing, yields the
    stderr token / ``"unknown"`` instead of crashing."""
    try:
        result = subprocess.run(
            [bin_path, "--version"], capture_output=True, check=True
        )
    except OSError as e:
        raise FileNotFoundError(
            f"could not find {bin_path}; is it on the path?"
        ) from e
    tokens = (
        result.stdout.decode().strip() or result.stderr.decode().strip()
    ).split()
    return tokens[-1] if tokens else "unknown"


def subprocess_scanner(
    argv_template: list[str],
    timeout: float = DEFAULT_TIMEOUT,
    input_col: str = "payload",
) -> Callable[[DataFrame], DataFrame]:
    """Build a scanner callable for ``enrich_from_results(scanner=...)``:
    jars-DataFrame → (jar_id, report_json, exit_code, error).

    ``argv_template``: the scan command with ``{in}``/``{out}`` placeholders,
    e.g. ``["grype", "--by-cve", "-o", "json={out}", "{in}"]`` or
    ``["syft", "-o", "json={out}", "--from", "local-file", "{in}"]``.
    ``{in}`` is a temp file holding the row's ``input_col`` value (the
    fetched artifact bytes; str values are written UTF-8); ``{out}`` is
    where the binary must write its JSON report.

    ``input_col`` defaults to ``payload`` — the artifact BYTES the pipeline
    fetch-joins from the pages table (plans.pipeline.attach_payload; the
    reference scans the downloaded file, downloader.py:85-106 →
    syft.py:68-92). A frame WITHOUT that column fails fast at plan time:
    silently scanning a temp file containing the URL string would produce
    empty-but-exit-0 reports. Pass ``input_col="uri"`` explicitly only when
    the scan target genuinely is the string value.

    Failure semantics per row (never failing the task — the reference
    worker logs and continues):
    - non-zero exit → report_json NULL, exit_code, stderr in ``error``
    - timeout       → exit_code 124, error ``timeout after <s>s``
    - missing/unreadable report despite exit 0 → exit_code 0 kept,
      error ``no report produced``
    - NULL input value (e.g. ``attach_payload`` found no page row for the
      jar's url, or a failed-syft row left ``_sbom_target`` NULL) → no
      subprocess at all; error ``no input bytes`` — NOT a silent exit-0
      scan of the literal string ``"None"``
    """

    def scan(jars: DataFrame) -> DataFrame:
        import pandas as pd

        if input_col not in jars.columns:
            raise ValueError(
                f"scanner input column {input_col!r} not in {jars.columns}: "
                "a real binary needs the artifact bytes — run the pipeline "
                "with the pages table attached (CLI: --pages) so "
                "attach_payload can supply `payload`, or pass input_col "
                "explicitly if the string value really is the scan target"
            )

        def run_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for jar_id, payload in zip(pdf["jar_id"], pdf[input_col]):
                    rows.append(_scan_one(argv_template, timeout, jar_id, payload))
                yield pd.DataFrame(
                    rows, columns=["jar_id", "report_json", "exit_code", "error"]
                )

        return jars.select("jar_id", input_col).mapInPandas(
            run_batches, schema=SCAN_SCHEMA
        )

    return scan


def _scan_one(argv_template, timeout, jar_id, payload):
    if payload is None:
        return (jar_id, None, None, "no input bytes (NULL scan target)")
    data = payload if isinstance(payload, (bytes, bytearray)) else str(payload).encode("utf-8")
    with tempfile.TemporaryDirectory(prefix="graven_scan_") as d:
        in_path = os.path.join(d, "artifact")
        out_path = os.path.join(d, "report.json")
        with open(in_path, "wb") as f:
            f.write(data)
        argv = [a.replace("{in}", in_path).replace("{out}", out_path)
                for a in argv_template]
        try:
            result = subprocess.run(
                argv, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                check=False, timeout=timeout,
            )
        except subprocess.TimeoutExpired:
            return (jar_id, None, TIMEOUT_EXIT_CODE, f"timeout after {timeout}s")
        if result.returncode:
            return (jar_id, None, int(result.returncode),
                    result.stderr.decode("utf-8", "replace")[:1024])
        if not os.path.exists(out_path):
            return (jar_id, None, 0, "no report produced")
        with open(out_path, "r", encoding="utf-8") as f:
            return (jar_id, f.read(), 0, None)


def split_scan_failures(scanned: DataFrame, run_id: str) -> tuple[DataFrame, DataFrame]:
    """(ok reports, errors-style failure rows). The failure rows carry the
    reference error_log shape — stage=scanner, details JSON with the exit
    code + stderr context (graven_database.py:379-405)."""
    ok = scanned.filter(F.col("exit_code") == 0).filter(
        F.col("report_json").isNotNull()
    ).select("jar_id", "report_json")
    failures = error_rows(
        scanned.filter((F.col("exit_code") != 0) | F.col("report_json").isNull())
        .select(F.col("jar_id").alias("url"), "exit_code", "error"),
        None, "scanner", "scan_failed",
        "exit_code", "error", F.lit(run_id).alias("run_id"),
    )
    return ok, failures
