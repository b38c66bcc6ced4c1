"""The parallel zip sink writes the same bytes as a serial ``ZipFile.write``
loop. A Python whose ``zipfile`` lays archives out differently fails here
instead of silently changing the archives the exporter ships."""

from __future__ import annotations

import hashlib
import os
import random
import zipfile

import pytest

from neo4j_database_to_data_importer_package_spark.sinks import zip_sink
from neo4j_database_to_data_importer_package_spark.sinks.zip_sink import MODEL_FILENAME, create_zip


def _serial_zip(output_dir, zip_path):
    """The archive ``ZipFile.write`` produces for the same export files."""
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for entry in sorted(os.listdir(output_dir)):
            full = os.path.join(output_dir, entry)
            if os.path.isfile(full) and (entry.endswith(".csv") or entry == MODEL_FILENAME):
                zf.write(full, arcname=entry)
    return zip_path


def _sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _export_dir(root, big=False):
    """CSVs (one spanning several read chunks when ``big``), an empty CSV,
    the model, and files and directories the zip must leave out."""
    d = root / "export"
    d.mkdir()
    rng = random.Random(7)
    rows = 80_000 if big else 500
    with open(d / "Customer.csv", "w") as f:
        f.write("c_custkey,c_name,c_acctbal\n")
        for i in range(rows):
            f.write(f"{i},Customer#{i:09d},{rng.uniform(-999, 9999):.2f}\n")
    (d / "Customer_PLACED_Order.csv").write_text("Customer_c_custkey,Order_o_orderkey\n1,2\n")
    (d / "Empty.csv").write_text("")
    (d / MODEL_FILENAME).write_text('{"version": "3.0.0"}\n')
    (d / "Customer.manifest.json").write_text("{}")
    (d / "Order").mkdir()
    (d / "Order" / "part-00000.csv").write_text("o_orderkey\n1\n")
    return d


def _assert_identical(tmp_path, output_dir):
    got = create_zip(str(output_dir), zip_path=str(tmp_path / "parallel.zip"))
    want = _serial_zip(str(output_dir), str(tmp_path / "serial.zip"))
    assert _sha256(got) == _sha256(want)
    with zipfile.ZipFile(got) as zf:
        assert zf.testzip() is None
        return zf.namelist()


def test_zip_matches_serial_zipfile_write(tmp_path):
    d = _export_dir(tmp_path, big=True)
    assert os.path.getsize(d / "Customer.csv") > 2 * zip_sink.CHUNK
    names = _assert_identical(tmp_path, d)
    assert names == ["Customer.csv", "Customer_PLACED_Order.csv", "Empty.csv", MODEL_FILENAME]


def test_zip_of_model_only_directory(tmp_path):
    d = tmp_path / "export"
    d.mkdir()
    (d / MODEL_FILENAME).write_text('{"version": "2.4.0-beta.0"}\n')
    assert _assert_identical(tmp_path, d) == [MODEL_FILENAME]


def test_zip64_headers_match_serial_zipfile_write(tmp_path, monkeypatch):
    monkeypatch.setattr(zipfile, "ZIP64_LIMIT", 1000)
    d = _export_dir(tmp_path)
    assert os.path.getsize(d / "Customer.csv") > 1000
    _assert_identical(tmp_path, d)


def test_spools_live_next_to_the_archive(tmp_path, monkeypatch):
    """Compressed members wait in the archive's directory, which has to
    hold the archive anyway, not in the default temp dir."""
    spool_dirs = []
    temporary_file = zip_sink.tempfile.TemporaryFile

    def recording(*args, dir=None, **kwargs):
        spool_dirs.append(dir)
        return temporary_file(*args, dir=dir, **kwargs)

    monkeypatch.setattr(zip_sink.tempfile, "TemporaryFile", recording)
    d = _export_dir(tmp_path)
    (tmp_path / "zips").mkdir()
    create_zip(str(d), zip_path=str(tmp_path / "zips" / "out.zip"))
    assert spool_dirs == [str(tmp_path / "zips")] * 4


def test_failed_zip_leaves_no_archive(tmp_path, monkeypatch):
    d = _export_dir(tmp_path)
    deflate = zip_sink._deflate

    def failing(path, spool_dir):
        if path.endswith("Empty.csv"):
            raise OSError("disk full")
        return deflate(path, spool_dir)

    monkeypatch.setattr(zip_sink, "_deflate", failing)
    zip_path = tmp_path / "out.zip"
    with pytest.raises(OSError, match="disk full"):
        create_zip(str(d), zip_path=str(zip_path))
    assert not zip_path.exists()
