"""The SBOM blob table and its codec (S6 parity with the reference's
``ddl/sbom.sql``): per-row compressed blobs with their codec recorded,
per-row codec dispatch on read, and the ``graven_sbom_dump`` archive
export (NULL blobs skipped)."""

from __future__ import annotations

import json
import tarfile
import zipfile
import zlib

import pytest

from graven_spark.plans.pipeline import enrich_from_results

from .conftest import _results_df


# -- sbom blob table -----------------------------------------------------------

def test_sbom_table_roundtrip(spark):
    from graven_spark.functions.sbom import (
        CODEC,
        decompress_bytes,
        fixture_sbom_json_py,
    )

    t = enrich_from_results(spark, _results_df(spark), "run0")
    rows = {r.jar_id: r for r in t["sboms"].collect()}
    jars = [r.jar_id for r in t["jars"].collect()]
    assert set(rows) == set(jars) and len(rows) == 6
    for jar_id, r in rows.items():
        payload = decompress_bytes(bytes(r.sbom)).decode("utf-8")
        assert payload == fixture_sbom_json_py(jar_id)
        assert json.loads(payload)["source"]["target"] == jar_id
        assert r.codec == CODEC and r.run_id == "run0"
        assert r.uploaded is not None
        # the blob really is compressed (codec header present)
        assert bytes(r.sbom)[:1] != payload.encode()[:1]


def test_sbom_archive_export_both_formats(tmp_path, spark):
    from graven_spark.functions.sbom import export_sbom_archive, fixture_sbom_json_py

    t = enrich_from_results(spark, _results_df(spark), "run0")
    def pairs():  # the streaming-iterator contract (one blob at a time)
        for r in t["sboms"].select("jar_id", "sbom").orderBy("jar_id").toLocalIterator():
            yield r.jar_id, r.sbom
    want = {
        r.jar_id: json.loads(fixture_sbom_json_py(r.jar_id))
        for r in t["jars"].collect()
    }

    zpath = export_sbom_archive(pairs(), str(tmp_path / "z"), "zip")
    assert zpath.endswith("graven_sbom_dump.zip")
    with zipfile.ZipFile(zpath) as z:
        got = {n[:-5]: json.loads(z.read(n)) for n in z.namelist()}
    assert got == want

    tpath = export_sbom_archive(pairs(), str(tmp_path / "t"), "tar.gz")
    with tarfile.open(tpath, "r:gz") as tf:
        got = {
            m.name[:-5]: json.loads(tf.extractfile(m).read()) for m in tf.getmembers()
        }
    assert got == want


# -- sbom codec: recorded per row, dispatched per row -------------------------

def test_decompress_with_dispatch():
    from graven_spark.functions.sbom import CODEC, compress_bytes, decompress_with

    payload = b'{"k": "v"}'
    assert decompress_with(None, compress_bytes(payload)) == payload
    assert decompress_with(CODEC, compress_bytes(payload)) == payload
    # a zlib-labelled blob decompresses via zlib regardless of the ambient
    assert decompress_with("zlib", zlib.compress(payload)) == payload
    with pytest.raises(ValueError, match="unknown sbom codec"):
        decompress_with("lz4", b"xx")
    try:
        import zstandard  # noqa: F401
    except ImportError:
        with pytest.raises(RuntimeError, match="zstd"):
            decompress_with("zstd", b"xx")


def test_sbom_table_records_codec_and_null_blob(spark):
    from graven_spark.functions.sbom import CODEC, sbom_table

    texts = spark.createDataFrame(
        [("a.jar", '{"x":1}'), ("b.jar", None)],
        "jar_id string, sbom_json string",
    )
    rows = {r.jar_id: r for r in sbom_table(texts, "run0").collect()}
    assert rows["a.jar"].codec == CODEC and rows["a.jar"].sbom is not None
    # failed generator run: NULL blob, NULL codec — visible, never mislabeled
    assert rows["b.jar"].sbom is None and rows["b.jar"].codec is None


def test_decompress_column_codec_dispatch(spark):
    from graven_spark.functions.sbom import compress_bytes, decompress_column

    df = spark.createDataFrame(
        [
            ("a", compress_bytes(b'{"a":1}'), None),
            ("b", zlib.compress(b'{"b":2}'), "zlib"),
            ("c", None, None),
        ],
        "jar_id string, sbom binary, codec string",
    )
    out = {
        r.jar_id: r.payload
        for r in decompress_column(df, "sbom", "payload", codec_col="codec").collect()
    }
    assert out == {"a": '{"a":1}', "b": '{"b":2}', "c": None}


def test_export_archive_skips_null_blobs_and_uses_codec(tmp_path):
    from graven_spark.functions.sbom import compress_bytes, export_sbom_archive

    rows = [
        ("a.jar", compress_bytes(b'{"n": 1}')),                # ambient pair
        ("dead.jar", None, None),                              # failed syft run
        ("z.jar", zlib.compress(b'{"n": 2}'), "zlib"),         # recorded codec
    ]
    path = export_sbom_archive(iter(rows), str(tmp_path / "e"), "zip")
    with zipfile.ZipFile(path) as z:
        got = {n: json.loads(z.read(n)) for n in z.namelist()}
    assert got == {"a.jar.json": {"n": 1}, "z.jar.json": {"n": 2}}
