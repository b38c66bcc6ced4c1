"""CSV sinks (S9/S10, SURVEY.md §2.1).

The reference writes one exactly-named CSV per label/pattern with header,
``restval='NULL'`` missing-value fill, utf-8 (``neo4j_export.py:319-327``,
``:420-431``). Two modes:

- ``write_csv_single_file``: compat parity — ``coalesce(1)`` job into a
  temp dir, then commit-rename the part file to ``{Label}.csv``. Only
  sane for outputs that fit one writer task.
- ``write_csv_sharded``: the 100 TB native mode — parallel sharded write
  (optionally sorted/partitioned) plus a JSON manifest recording shard
  files, row count and columns; readers treat ``{dir}/*.csv`` as one
  logical table. Single-file-at-any-size is a contradiction the
  reference's design carries (SURVEY.md §7.3 #4); the manifest is the
  scalable replacement.

Rendering parity note (F13): Spark writes booleans as true/false and
uses Java float formatting; the reference passes values through Python
``str()``. ``python_render`` pre-casts columns to Python-style strings
with an Arrow-batched pandas UDF — compat mode only (slow path by
design); native mode keeps Spark's renderer.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

NULL_VALUE = "NULL"


def _py_str_udf():
    # Defined lazily: pandas_udf registration needs an active session.
    @pandas_udf("string")
    def _py_str(s: pd.Series) -> pd.Series:
        # Python str() parity for bool/float rendering (True / 1.0 / 1e+20 …)
        return s.map(lambda v: None if v is None else str(v))

    return _py_str


def python_render(df: DataFrame) -> DataFrame:
    """Cast every non-string column through Python ``str()`` semantics."""
    py_str = _py_str_udf()
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, T.StringType):
            cols.append(F.col(f.name))
        else:
            cols.append(py_str(F.col(f.name)).alias(f.name))
    return df.select(*cols)


def _csv_writer(df: DataFrame):
    return (
        df.write.mode("overwrite")
        .option("header", True)
        .option("nullValue", NULL_VALUE)
        .option("emptyValue", "")
        .option("encoding", "UTF-8")
    )


def write_csv_single_file(df: DataFrame, path: str, compat_render: bool = False) -> str:
    """Exact-filename single CSV via coalesce(1) + commit-rename.

    The temp dir is removed whether or not the write succeeds, so a failed
    write leaves no ``*.__tmp__`` debris behind.
    """
    if compat_render:
        df = python_render(df)
    tmp = path + ".__tmp__"
    try:
        _csv_writer(df.coalesce(1)).csv(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.csv"))
        if not part:  # empty result still needs a header-only file
            part = glob.glob(os.path.join(tmp, "part-*"))
        shutil.move(part[0], path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def write_csv_sharded(df: DataFrame, out_dir: str, name: str) -> dict:
    """Sharded CSV + manifest: the scale-mode sink."""
    data_dir = os.path.join(out_dir, name)
    _csv_writer(df).csv(data_dir)
    shards = sorted(
        os.path.relpath(p, out_dir) for p in glob.glob(os.path.join(data_dir, "part-*.csv"))
    )
    manifest = {
        "name": name,
        "format": "csv",
        "columns": df.columns,
        "null_value": NULL_VALUE,
        "shards": shards,
    }
    with open(os.path.join(out_dir, f"{name}.manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    return manifest


def read_first_data_row(csv_path: str) -> list[str] | None:
    """S8 sample read-back: first data row of a written CSV (the
    reference re-opens each file for a 1-row sample,
    ``neo4j_export.py:520-528``)."""
    import csv as _csv

    with open(csv_path, newline="", encoding="utf-8") as f:
        reader = _csv.reader(f)
        try:
            next(reader)  # header
            return next(reader)
        except StopIteration:
            return None
