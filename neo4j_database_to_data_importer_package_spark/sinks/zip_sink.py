"""Zip packaging sink (S12/S13, ``neo4j_export.py:1246-1276``).

Driver-side post-step after the CSV jobs land: zip all ``*.csv`` + the
model JSON with flattened arcnames, ZIP_DEFLATED. The timestamped
auto-name replicates ``{base}-export-{%Y-%m-%d-%H%M%S}.zip``
(``:1256-1260``); ``clock`` is injectable for deterministic tests (F7).

Members are deflated in parallel, one thread each (zlib releases the GIL,
so the threads really run at once), into anonymous temp files in the
archive's own directory, so a thread holds one 1 MB chunk in memory and
the spools plus the partial archive take about the finished archive's
size on the filesystem that has to hold it anyway. The driver appends them
in sorted order, each behind the local header ``ZipFile.write`` would have
written, and ``ZipFile`` writes its own central directory. The archive is
byte-identical to a serial ``ZipFile.write`` loop over the same files
(pinned by ``tests/test_zip_sink.py``). A failed zip leaves no archive.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import zipfile
import zlib
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

MODEL_FILENAME = "neo4j_importer_model.json"
CHUNK = 1 << 20


def export_files(output_dir: str) -> list[str]:
    """An export's deliverables — its CSVs and model JSON — in the sorted
    order the zip holds them."""
    return [
        entry for entry in sorted(os.listdir(output_dir))
        if os.path.isfile(os.path.join(output_dir, entry))
        and (entry.endswith(".csv") or entry == MODEL_FILENAME)
    ]


def _deflate(path: str, spool_dir: str):
    """Raw-deflate one file, as ``ZipFile.write`` does, into a temp file in
    ``spool_dir``.

    Returns ``(spool, crc, size, compressed_size)``; the spool is rewound.
    """
    spool = tempfile.TemporaryFile(dir=spool_dir)
    try:
        comp = zlib.compressobj(zlib.Z_DEFAULT_COMPRESSION, zlib.DEFLATED, -15)
        crc = size = 0
        with open(path, "rb") as src:
            while chunk := src.read(CHUNK):
                crc = zlib.crc32(chunk, crc)
                size += len(chunk)
                spool.write(comp.compress(chunk))
        spool.write(comp.flush())
        compressed = spool.tell()
        spool.seek(0)
        return spool, crc, size, compressed
    except BaseException:
        spool.close()
        raise


def _append(zf: zipfile.ZipFile, path: str, arcname: str, deflated) -> None:
    """Append one pre-deflated member exactly as ``zf.write(path, arcname)``
    would lay it out on a seekable file."""
    spool, crc, size, compressed = deflated
    zinfo = zipfile.ZipInfo.from_file(path, arcname)
    zinfo.compress_type = zipfile.ZIP_DEFLATED
    # ZipFile decides zip64 from the size it stats, before reading.
    zip64 = zinfo.file_size * 1.05 > zipfile.ZIP64_LIMIT
    zinfo.CRC, zinfo.file_size, zinfo.compress_size = crc, size, compressed
    zinfo.header_offset = zf.fp.tell()
    zf.fp.write(zinfo.FileHeader(zip64))
    shutil.copyfileobj(spool, zf.fp, CHUNK)
    zf.filelist.append(zinfo)
    zf.NameToInfo[arcname] = zinfo
    zf.start_dir = zf.fp.tell()
    zf._didModify = True


def create_zip(
    output_dir: str,
    zip_path: str | None = None,
    base_name: str | None = None,
    clock=None,
) -> str:
    if zip_path is None:
        now = (clock or datetime.now)()
        ts = now.strftime("%Y-%m-%d-%H%M%S")
        base = base_name or os.path.basename(os.path.normpath(output_dir))
        zip_path = os.path.join(os.path.dirname(os.path.normpath(output_dir)), f"{base}-export-{ts}.zip")

    paths = [os.path.join(output_dir, name) for name in export_files(output_dir)]
    spool_dir = os.path.dirname(os.path.abspath(zip_path))
    workers = max(1, min(len(paths), os.cpu_count() or 1))
    try:
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf, \
                ThreadPoolExecutor(max_workers=workers) as pool:
            deflating = [pool.submit(_deflate, path, spool_dir) for path in paths]
            for path, fut in zip(paths, deflating):
                deflated = fut.result()
                with deflated[0]:
                    _append(zf, path, os.path.basename(path), deflated)
    except BaseException:
        if os.path.exists(zip_path):
            os.remove(zip_path)
        raise
    return zip_path


def move_zip(auto_zip: str, target: str) -> str:
    """Custom zip rename (S13, ``neo4j_export.py:1466-1470``)."""
    shutil.move(auto_zip, target)
    return target
