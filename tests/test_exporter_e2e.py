"""End-to-end export DAG: CSVs on disk + model JSON (3 versions) + zip."""

from __future__ import annotations

import csv
import json
import os
import zipfile
from datetime import datetime

import pytest

from pyspark.sql import functions as F

from neo4j_database_to_data_importer_package_spark.catalog import GraphCatalog
from neo4j_database_to_data_importer_package_spark.plans import exporter
from neo4j_database_to_data_importer_package_spark.plans.exporter import GraphExporter
from neo4j_database_to_data_importer_package_spark.sources.star_schema import (
    EdgeSpec,
    GraphSpec,
    GraphView,
    NodeSpec,
    load_graph_view,
)


@pytest.fixture(scope="module")
def view(spark, sf_dir):
    return load_graph_view(spark, sf_dir)


@pytest.fixture(scope="module")
def export_dir(view, tmp_path_factory):
    out = tmp_path_factory.mktemp("export_v3")
    exporter = GraphExporter(view, str(out), format_version="3.0",
                             clock=lambda: datetime(2026, 1, 2, 3, 4, 5))
    result = exporter.run(create_zip_file=True)
    return out, result


def test_csv_files_exist_with_exact_names(export_dir):
    out, result = export_dir
    expected = {
        "Customer.csv", "Nation.csv", "Order.csv", "Part.csv", "Region.csv", "Supplier.csv",
        "Customer_PLACED_Order.csv", "Customer_IN_Nation.csv", "Nation_IN_Region.csv",
        "Order_CONTAINS_Part.csv", "Order_SUPPLIED_BY_Supplier.csv", "Supplier_IN_Nation.csv",
        "neo4j_importer_model.json",
    }
    assert expected <= set(os.listdir(out))


def test_csv_header_order_and_rows(export_dir, view):
    out, result = export_dir
    with open(out / "Customer.csv", newline="") as f:
        rows = list(csv.reader(f))
    assert rows[0] == ["c_custkey", "c_acctbal", "c_mktsegment", "c_name", "c_nationkey"]
    assert len(rows) - 1 == view.nodes["Customer"].count()


def test_rel_csv_columns(export_dir):
    out, _ = export_dir
    with open(out / "Customer_PLACED_Order.csv", newline="") as f:
        header = next(csv.reader(f))
    assert header == ["Customer_c_custkey", "Order_o_orderkey", "o_orderdate", "o_orderstatus"]


def test_model_v3_structure(export_dir):
    out, result = export_dir
    model = json.load(open(out / "neo4j_importer_model.json"))
    assert model["version"] == "3.0.0"
    schema = model["dataModel"]["graphSchemaRepresentation"]["graphSchema"]
    assert len(schema["nodeLabels"]) == 6
    assert len(schema["nodeObjectTypes"]) == 6
    # 6 patterns but IN appears 3× → 4 distinct rel type tokens, 6 object types
    assert len(schema["relationshipTypes"]) == 4
    assert len(schema["relationshipObjectTypes"]) == 6
    # quirk 4: first rel type's property ids start at p:r1_
    typed = {t["token"]: t for t in schema["relationshipTypes"]}
    first = next(iter(typed.values()))
    # all refs resolve
    ids = set()
    for nl in schema["nodeLabels"]:
        ids.add(nl["$id"])
        ids.update(p["$id"] for p in nl["properties"])
    for rt in schema["relationshipTypes"]:
        ids.add(rt["$id"])
        ids.update(p["$id"] for p in rt["properties"])
    ids.update(n["$id"] for n in schema["nodeObjectTypes"])
    ids.update(r["$id"] for r in schema["relationshipObjectTypes"])
    for r in schema["relationshipObjectTypes"]:
        assert r["type"]["$ref"].lstrip("#") in ids
        assert r["from"]["$ref"].lstrip("#") in ids
        assert r["to"]["$ref"].lstrip("#") in ids
    for m in model["dataModel"]["graphMappingRepresentation"]["nodeMappings"]:
        assert m["node"]["$ref"].lstrip("#") in ids
    # sample-derived types present for node fields
    ts = model["dataModel"]["graphMappingRepresentation"]["dataSourceSchema"]["tableSchemas"]
    cust = next(t for t in ts if t["name"] == "Customer.csv")
    types = {f["name"]: f["recommendedType"]["type"] for f in cust["fields"]}
    assert types["c_custkey"] == "integer"
    assert types["c_acctbal"] == "float"
    assert types["c_name"] == "string"


def test_zip_contains_everything(export_dir):
    out, result = export_dir
    assert result.zip_path and result.zip_path.endswith("-export-2026-01-02-030405.zip")
    with zipfile.ZipFile(result.zip_path) as zf:
        names = set(zf.namelist())
    assert "Customer.csv" in names and "neo4j_importer_model.json" in names
    assert len([n for n in names if n.endswith(".csv")]) == 12


def test_model_v24_and_v01(view, tmp_path):
    for version, check in [("2.4.0", "2.4.0-beta.0"), ("0.1.0", "0.1.0-beta.0")]:
        out = tmp_path / f"export_{version}"
        counter = iter(range(10_000))
        exporter = GraphExporter(
            view, str(out), format_version=version,
            uuid_factory=lambda: f"00000000-0000-0000-0000-{next(counter):012d}",
        )
        result = exporter.run()
        model = result.model
        assert model["version"] == check
        if version == "2.4.0":
            schema = model["dataModel"]["graphSchemaRepresentation"]["graphSchema"]
            # v2.4: one relationshipTypes entry PER PATTERN (no token dedup)
            assert len(schema["relationshipTypes"]) == 6
            # quirk 1: every rel property string+nullable (missing sample file)
            for rt in schema["relationshipTypes"]:
                for p in rt["properties"]:
                    assert p["type"]["type"] == "string"
                    assert p["nullable"] is True
            # global property counter: all p:{n} unique
            pids = [
                p["$id"]
                for nl in schema["nodeLabels"]
                for p in nl["properties"]
            ]
            assert len(pids) == len(set(pids))
            assert pids[0] == "p:1"
        else:
            assert len(model["graph"]["nodes"]) == 6
            assert len(model["graph"]["relationships"]) == 6
            # injected uuids are deterministic
            any_schema = next(iter(model["dataModel"]["graphModel"]["nodeSchemas"].values()))
            assert any_schema["properties"][0]["identifier"].startswith("00000000-")


def test_sharded_mode_manifest(view, tmp_path):
    out = tmp_path / "sharded"
    exporter = GraphExporter(view, str(out), single_file=False)
    exporter.run()
    manifest = json.load(open(out / "Customer.manifest.json"))
    assert manifest["columns"][0] == "c_custkey"
    assert len(manifest["shards"]) >= 1
    assert all(s.startswith("Customer/") for s in manifest["shards"])


def test_sharded_mode_model_matches_single_file(export_dir, view, tmp_path):
    """Both modes sample from the written CSV, so Spark renders the sample
    (e.g. ``1999-03-24T00:00:00.000``, not Python's ``str()`` of a datetime)."""
    out, single = export_dir
    sharded = GraphExporter(view, str(tmp_path / "sharded"), format_version="3.0",
                            single_file=False).run()
    assert sharded.model == single.model
    placed = sharded.manifest.rels["Customer_PLACED_Order"].sample
    assert "T" in placed["o_orderdate"]


def _export_bytes(result) -> dict[str, bytes]:
    return {name: open(os.path.join(result.output_dir, name), "rb").read()
            for name in result.files}


@pytest.mark.parametrize("version", ["3.0", "2.4.0"])
def test_export_is_independent_of_write_concurrency(view, tmp_path, version):
    """One writer thread and the default pool produce the same CSVs, model
    JSON and zip member order; all writes in flight at once change nothing
    a consumer sees."""
    results = [
        GraphExporter(view, str(tmp_path / name), format_version=version, **kwargs)
        .run(create_zip_file=True, zip_path=str(tmp_path / f"{name}.zip"))
        for name, kwargs in (("serial", {"max_parallel_writes": 1}), ("default", {}))
    ]
    serial, parallel = (_export_bytes(r) for r in results)
    assert len(serial) == 13 and serial == parallel
    serial_members, parallel_members = (zipfile.ZipFile(r.zip_path).namelist() for r in results)
    assert serial_members == parallel_members == results[0].files


def _view_with_failing_node(spark, rel_types=("KNOWS",)):
    """A Person label whose Python UDF raises, and one Person→Person
    pattern per relationship type."""

    @F.udf("string")
    def boom(v):
        raise ValueError(f"boom on {v}")

    people = spark.createDataFrame([("p1", "alice"), ("p2", "bob")], "pid string, name string")
    edges = spark.createDataFrame([("p1", "p2")], "src_pid string, dst_pid string")
    spec = GraphSpec(
        nodes=[NodeSpec("Person", "person", "pid")],
        edges=[EdgeSpec("Person", t, "Person", t.lower(), "src_pid", "dst_pid") for t in rel_types],
    )
    nodes = {"Person": people.withColumn("shout", boom("name"))}
    tables = {"person": people, **{t.lower(): edges for t in rel_types}}
    return GraphView(spark, spec, nodes, tables, GraphCatalog())


def test_failed_write_leaves_no_debris(spark, tmp_path):
    """A table whose Python UDF raises fails the export; no ``*.__tmp__``
    directory and no zip are left behind."""
    out, zip_path = tmp_path / "export", tmp_path / "export.zip"
    with pytest.raises(Exception, match="boom on"):
        GraphExporter(_view_with_failing_node(spark), str(out)).run(
            create_zip_file=True, zip_path=str(zip_path))
    assert not [e for e in os.listdir(out) if e.endswith(".__tmp__")]
    assert not zip_path.exists()


def test_failed_write_cancels_writes_not_started(spark, tmp_path, monkeypatch):
    """With one writer thread, no table write starts after the node write
    fails: the relationship writes queued behind it are cancelled, and the
    node's error is the one raised, not the other stage's cancellation."""
    started = []
    write = exporter.write_csv_single_file

    def recording(df, path, **kwargs):
        started.append(os.path.basename(path))
        return write(df, path, **kwargs)

    monkeypatch.setattr(exporter, "write_csv_single_file", recording)
    view = _view_with_failing_node(spark, rel_types=("KNOWS", "LIKES", "TRUSTS"))
    with pytest.raises(Exception, match="boom on"):
        GraphExporter(view, str(tmp_path / "export"), max_parallel_writes=1).run()
    assert started[-1] == "Person.csv"
