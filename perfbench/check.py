"""Output checks, run outside the timed window.

- ``ref_k_core``: a plain-Python k-core, computed once at set-up from the
  same edge list the program receives; the program must match it exactly.
- ``verify_export``: the files an export leaves behind, checked against
  row counts computed at set-up from the generated tables.
- ``canonical_digest``: an order-insensitive hash of a query result, so a
  query's rows can be compared with its DuckDB oracle's.
"""

from __future__ import annotations

import decimal
import glob
import hashlib
import json
import math
import os
import zipfile
from collections import defaultdict

MODEL_FILENAME = "neo4j_importer_model.json"


# -- graph reference ----------------------------------------------------------

def _undirected(src, dst) -> dict[int, set[int]]:
    """Neighbour sets, without self-loops."""
    adj: dict[int, set[int]] = defaultdict(set)
    for a, b in zip(src, dst):
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    return adj


def ref_k_core(src, dst, k: int) -> tuple[dict[int, int], int]:
    """(node → degree inside the k-core, peel rounds incl. the final empty one)."""
    adj = _undirected(src, dst)
    deg = {v: len(n) for v, n in adj.items()}
    rounds = 0
    while True:
        rounds += 1
        drop = [v for v, d in deg.items() if d < k]
        if not drop:
            return deg, rounds
        for v in drop:
            del deg[v]
        for v in drop:
            for u in adj[v]:
                if u in deg:
                    deg[u] -= 1


# -- exports ----------------------------------------------------------------

def _data_rows(path: str) -> tuple[int, list[str] | None, str | None]:
    """(data rows, header, problem) of one CSV file without quoted newlines."""
    with open(path, "rb") as f:
        data = f.read()
    if not data:
        return 0, None, None
    if not data.endswith(b"\n"):
        return 0, None, f"{os.path.basename(path)} is truncated (no final newline)"
    header = data[: data.index(b"\n")].decode("utf-8").rstrip("\r").split(",")
    return data.count(b"\n") - 1, header, None


def model_csv_names(model) -> set[str]:
    """Every CSV file name the importer model declares: each string key or
    value of the JSON that ends in ``.csv``."""
    if isinstance(model, dict):
        return {k for k in model if k.endswith(".csv")} | set().union(
            *(model_csv_names(v) for v in model.values()))
    if isinstance(model, list):
        return set().union(*(model_csv_names(v) for v in model))
    return {model} if isinstance(model, str) and model.endswith(".csv") else set()


def verify_export(out_dir: str, expected: dict[str, dict],
                  zip_path: str | None = None) -> list[tuple[str, str]]:
    """Problems with one single-file export as ``(operation, message)``
    pairs; empty when it is complete and correct. An operation is a table,
    ``model`` or ``zip``; a surviving ``*.__tmp__`` directory fails the
    whole ``pass``.

    ``expected[table]`` holds ``rows`` (the count computed at set-up) and
    ``columns`` (the header the table must carry, in order).
    """
    problems = []
    leftovers = glob.glob(os.path.join(out_dir, "**", "*.__tmp__"), recursive=True)
    if leftovers:
        problems.append(("pass", f"{len(leftovers)} *.__tmp__ directories survived"))
    for table, want in sorted(expected.items()):
        path = os.path.join(out_dir, f"{table}.csv")
        if not os.path.isfile(path):
            problems.append((table, f"missing {table}.csv"))
            continue
        rows, header, problem = _data_rows(path)
        if problem:
            problems.append((table, problem))
        elif header != want["columns"]:
            problems.append((table, f"header {header} != {want['columns']}"))
        elif rows != want["rows"]:
            problems.append((table, f"{rows} data rows, expected {want['rows']}"))

    want_files = {f"{t}.csv" for t in expected}
    model_path = os.path.join(out_dir, MODEL_FILENAME)
    if not os.path.isfile(model_path):
        problems.append(("model", f"missing {MODEL_FILENAME}"))
    else:
        with open(model_path, encoding="utf-8") as f:
            named = model_csv_names(json.load(f))
        if named != want_files:
            problems.append(("model", f"model JSON files differ: missing {sorted(want_files - named)}, "
                                      f"extra {sorted(named - want_files)}"))

    if zip_path is not None:
        want_members = sorted(want_files | {MODEL_FILENAME})
        try:
            with zipfile.ZipFile(zip_path) as zf:
                bad = zf.testzip()
                members = sorted(zf.namelist())
        except (OSError, zipfile.BadZipFile) as e:
            problems.append(("zip", f"zip unreadable: {e}"))
        else:
            if bad is not None:
                problems.append(("zip", f"zip member {bad} is corrupt"))
            if members != want_members:
                problems.append(("zip", f"zip members {sorted(set(want_members) ^ set(members))} differ"))
    return problems


def output_bytes(out_dir: str, zip_path: str | None = None) -> int:
    """Bytes of every file an export wrote (CSVs, model, zip)."""
    total = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(out_dir) for f in files
        if not f.startswith(".") and f != "_SUCCESS"  # Spark's checksums and markers
    )
    return total + (os.path.getsize(zip_path) if zip_path else 0)


def export_file_bytes(out_dir: str) -> tuple[int, int]:
    """(CSV bytes, bytes the zip step reads) of one export."""
    csv, zip_in = 0, 0
    for f in os.listdir(out_dir):
        if f.endswith(".csv") or f == MODEL_FILENAME:
            size = os.path.getsize(os.path.join(out_dir, f))
            csv += size if f.endswith(".csv") else 0
            zip_in += size
    return csv, zip_in


# -- query results ----------------------------------------------------------

def _canon(v) -> str:
    """One value as text; floats by ``repr``, so results must agree exactly
    (the registry's queries round where Spark and DuckDB could differ)."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def canonical_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, sha256 of the rows) with columns taken in name order and
    rows sorted, so neither column nor row order matters."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("|".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return len(lines), h.hexdigest()


def oracle_digests(input_dir: str, tables: list[str], sql: dict[str, str]) -> dict[str, tuple[int, str]]:
    """``canonical_digest`` of each query's DuckDB oracle over the same
    parquet files the program reads."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(input_dir, f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, query in sql.items():
            res = con.execute(query)
            out[name] = canonical_digest([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()
