"""SBOM blob stage (S6 parity): compress one SBOM per jar into a BinaryType
blob table, and the export-side decompress.

Reference parity:
- blob table shape: /root/reference/ddl/sbom.sql
  ``sbom(jar_id PK, uploaded TIMESTAMP, sbom MEDIUMBLOB, run_id)``
- compress-and-save: /root/reference/graven/worker/analyzer.py:46-59
  ``_compress_and_save_sbom`` (zstandard, a fresh compressor per blob)
- export decompress: /root/reference/graven/db/graven_database.py:407-448
  ``export_sboms`` (zstd decompress → pretty-printed ``<jar_id>.json``)

Codec: the reference uses ``zstandard``; this container does not ship it,
so the codec is PLUGGABLE — zstandard when importable, zlib otherwise —
and the chosen codec name is recorded alongside the blobs (meta column),
so a reader never guesses. Both are deterministic byte streams for a given
input, and the oracle contract is on the DECOMPRESSED payload (roundtrip),
not the compressed bytes.

Scale shape: compression is an Arrow-batched ``mapInPandas`` stage (a
byte-level library call cannot be a Catalyst expression); everything else —
fixture JSON construction, timestamps, hashing for the CORRECTNESS query —
stays JVM-side.
"""

from __future__ import annotations

import json

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

try:  # the reference's codec (analyzer.py:52: zstd.ZstdCompressor)
    import zstandard as _zstd

    CODEC = "zstd"

    def compress_bytes(b: bytes) -> bytes:
        # fresh compressor per blob — sharing one "leads to buffer
        # overflow" per the reference's own comment (analyzer.py:51)
        return _zstd.ZstdCompressor().compress(b)

    def decompress_bytes(b: bytes) -> bytes:
        return _zstd.ZstdDecompressor().decompress(b)

except ImportError:  # pragma: no cover - environment-dependent
    import zlib as _zlib

    CODEC = "zlib"

    def compress_bytes(b: bytes) -> bytes:
        return _zlib.compress(b, 6)

    def decompress_bytes(b: bytes) -> bytes:
        return _zlib.decompress(b)


def decompress_with(codec: str | None, b: bytes) -> bytes:
    """Decompress dispatching on the blob's RECORDED codec (the sbom
    table's ``codec`` column), not the ambient import-time one — a blob
    written under zstd must decompress (or fail loudly) in a zlib-only
    reader, never be fed to the wrong library. ``codec=None`` falls back
    to the ambient codec (legacy rows written before the column existed)."""
    if codec is None or codec == CODEC:
        return decompress_bytes(b)
    if codec == "zstd":
        try:
            import zstandard as z
        except ImportError:
            raise RuntimeError(
                "blob was written with codec='zstd' but zstandard is not "
                "importable in this environment; install it to read this table"
            ) from None
        return z.ZstdDecompressor().decompress(b)
    if codec == "zlib":
        import zlib

        return zlib.decompress(b)
    raise ValueError(f"unknown sbom codec {codec!r}")


# Pinned stamp for the fixture stage (reference: uploaded DEFAULT
# CURRENT_TIMESTAMP; wall-clock stamps are pinned engine-wide, F5).
UPLOADED_TS = "2024-03-01T00:00:00Z"

SBOM_SCHEMA = "jar_id string, uploaded timestamp, sbom binary, codec string, run_id string"


def fixture_sbom_json(jar_id: Column) -> Column:
    """Deterministic syft-document-shaped JSON for a jar (Catalyst twin of
    :func:`fixture_sbom_json_py`): a one-artifact CycloneDX-ish document
    derived only from jar_id, byte-identical on both sides."""
    return F.concat(
        F.lit('{"artifacts":[{"name":"'), jar_id,
        F.lit('","type":"java-archive","digest":"'),
        F.md5(F.concat(jar_id, F.lit("#sbom"))),
        F.lit('"}],"source":{"type":"file","target":"'), jar_id,
        F.lit('"},"descriptor":{"name":"syft","version":"fixture"}}'),
    )


def fixture_sbom_json_py(jar_id: str) -> str:
    import hashlib

    digest = hashlib.md5((jar_id + "#sbom").encode("utf-8")).hexdigest()
    return (
        '{"artifacts":[{"name":"%s","type":"java-archive","digest":"%s"}],'
        '"source":{"type":"file","target":"%s"},'
        '"descriptor":{"name":"syft","version":"fixture"}}'
        % (jar_id, digest, jar_id)
    )


def compress_column(
    df: DataFrame, text_col: str, out_col: str, codec_col: str
) -> DataFrame:
    """Arrow-batched compression of a string column into BinaryType, with
    the codec THE EXECUTOR actually used recorded in ``codec_col`` next to
    each blob — the driver's ambient codec can differ from the executors'
    (env divergence), and the recorded value must describe the bytes, not
    the driver's imports."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("blob binary, codec string")
    def _compress_tagged(s: pd.Series) -> pd.DataFrame:
        # CODEC here resolves on the EXECUTOR at module import
        return pd.DataFrame({
            "blob": s.map(
                lambda v: None if v is None else compress_bytes(v.encode("utf-8"))
            ),
            "codec": s.map(lambda v: None if v is None else CODEC),
        })

    tagged = df.withColumn("_cz", _compress_tagged(F.col(text_col)))
    return tagged.withColumn(out_col, F.col("_cz.blob")).withColumn(
        codec_col, F.col("_cz.codec")
    ).drop("_cz")


def decompress_column(
    df: DataFrame, bin_col: str, out_col: str, codec_col: str | None = None
) -> DataFrame:
    """Arrow-batched decompress of a BinaryType column back to string.
    With ``codec_col``, each row dispatches on its RECORDED codec
    (:func:`decompress_with`); without it, the ambient codec is assumed."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    if codec_col is None:

        @pandas_udf(StringType())
        def _decompress(s: pd.Series) -> pd.Series:
            return s.map(
                lambda v: None if v is None else decompress_bytes(bytes(v)).decode("utf-8")
            )

        return df.withColumn(out_col, _decompress(F.col(bin_col)))

    @pandas_udf(StringType())
    def _decompress_by(s: pd.Series, codecs: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if v is None else decompress_with(c, bytes(v)).decode("utf-8")
                for v, c in zip(s, codecs)
            ],
            index=s.index,
        )

    return df.withColumn(out_col, _decompress_by(F.col(bin_col), F.col(codec_col)))


def sbom_table(sbom_texts: DataFrame, run_id: str) -> DataFrame:
    """(jar_id, sbom_json) → the reference's sbom blob table
    (/root/reference/ddl/sbom.sql): jar_id PK, pinned uploaded stamp,
    compressed BinaryType blob, codec marker (recorded by the EXECUTOR that
    compressed the blob — not a driver literal, so driver/executor env
    divergence cannot mislabel bytes), run_id. A failed generator run's
    NULL sbom_json stays a NULL blob with NULL codec (visible, never
    silently ok)."""
    return compress_column(sbom_texts, "sbom_json", "sbom", codec_col="codec").select(
        "jar_id",
        F.to_timestamp(F.lit(UPLOADED_TS)).alias("uploaded"),
        "sbom",
        "codec",
        F.lit(run_id).alias("run_id"),
    )


def export_sbom_archive(sbom_rows, out_dir: str, compression_method: str) -> str:
    """Driver-side archive packaging of decompressed SBOM blobs — the
    reference's export_sboms (graven_database.py:407-448): pretty-printed
    ``<jar_id>.json`` members in ``graven_sbom_dump.{zip,tar.gz}``. The
    archive container is inherently a single-writer sequential artifact
    (exactly as in the reference), so the driver streams ``sbom_rows`` —
    any iterable of (jar_id, sbom_bytes) pairs or (jar_id, sbom_bytes,
    codec) triples, e.g.
    ``((r.jar_id, r.sbom) for r in df.orderBy("jar_id").toLocalIterator())``
    — holding ONE blob in memory at a time; never pass a collected frame.
    A triple's codec drives per-row decompression (:func:`decompress_with`);
    a NULL blob (a failed real-syft run, _build_scanners contract) is
    SKIPPED rather than crashing mid-archive. Member order is the iteration
    order (callers sort by jar_id for a deterministic archive). Returns the
    archive path."""
    import io
    import os
    import tarfile
    import zipfile

    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(out_dir, f"graven_sbom_dump.{compression_method}")
    if compression_method == "zip":
        opener = zipfile.ZipFile(out_path, "w", compression=zipfile.ZIP_DEFLATED)
    else:
        opener = tarfile.open(out_path, "w:gz")
    with opener as export:
        for jar_id, blob, *rest in sbom_rows:
            if blob is None:
                continue
            codec = rest[0] if rest else None
            sbom_json = json.loads(decompress_with(codec, bytes(blob)))
            json_bytes = json.dumps(sbom_json, indent=2).encode("utf-8")
            if compression_method == "zip":
                export.writestr(f"{jar_id}.json", json_bytes)
            else:
                info = tarfile.TarInfo(name=f"{jar_id}.json")
                info.size = len(json_bytes)
                export.addfile(info, fileobj=io.BytesIO(json_bytes))
    return out_path
