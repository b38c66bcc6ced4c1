"""GraphSource seam contract test (offline).

The same downstream export DAG must run unchanged over any GraphSource.
StarSchemaSource is the parquet path; Neo4jConnectorSource is driven by a
fake reader that emits the public neo4j-spark-connector read schema
(`<id>`/`<labels>` node metadata, `source.*`/`target.*`/`rel.*`
relationship columns) built from the same parquet tables — so the two
views must export identical rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_database_to_data_importer_package_spark.operators.node_export import export_node
from neo4j_database_to_data_importer_package_spark.operators.rel_export import (
    export_relationship,
)
from neo4j_database_to_data_importer_package_spark.sources import (
    EdgeSpec,
    GraphSource,
    Neo4jConnectorSource,
    NodeSpec,
    StarSchemaSource,
)
from neo4j_database_to_data_importer_package_spark.sources.star_schema import (
    GraphSpec,
    read_parquet_table,
)

SF = "/root/testdata/sf0.001"

SPEC = GraphSpec(
    nodes=[
        NodeSpec("Customer", "customer", "c_custkey"),
        NodeSpec("Order", "orders", "o_orderkey"),
    ],
    edges=[
        EdgeSpec(
            "Customer", "PLACED", "Order", "orders", "o_custkey", "o_orderkey",
            ("o_orderdate", "o_orderstatus"),
        )
    ],
)

_LABEL_TABLE = {"Customer": "customer", "Order": "orders"}
_LABEL_ID = {"Customer": "c_custkey", "Order": "o_orderkey"}


def fake_connector_reader(spark, options):
    """Emit the connector's documented read schema from local parquet."""
    if "labels" in options:
        label = options["labels"].lstrip(":")
        df = read_parquet_table(spark, f"{SF}/{_LABEL_TABLE[label]}.parquet")
        return df.select(
            F.col(_LABEL_ID[label]).cast("long").alias("<id>"),
            F.array(F.lit(label)).alias("<labels>"),
            *[F.col(c) for c in df.columns],
        )
    assert options["relationship"] == "PLACED"
    assert options["relationship.nodes.map"] == "false"
    orders = read_parquet_table(spark, f"{SF}/orders.parquet")
    return orders.select(
        F.monotonically_increasing_id().alias("<rel.id>"),
        F.lit("PLACED").alias("<rel.type>"),
        F.col("o_custkey").alias("source.c_custkey"),
        F.col("o_orderkey").alias("target.o_orderkey"),
        F.col("o_orderdate").alias("rel.o_orderdate"),
        F.col("o_orderstatus").alias("rel.o_orderstatus"),
    )


def test_both_sources_satisfy_protocol():
    star = StarSchemaSource(SF, SPEC)
    neo = Neo4jConnectorSource("bolt://example", spec=SPEC, reader=fake_connector_reader)
    assert isinstance(star, GraphSource)
    assert isinstance(neo, GraphSource)


def test_connector_view_matches_star_schema_view(spark):
    star_view = StarSchemaSource(SF, SPEC).load(spark)
    neo_view = Neo4jConnectorSource(
        "bolt://example", spec=SPEC, reader=fake_connector_reader
    ).load(spark)

    # Catalog contract: same labels and kinds.
    assert sorted(star_view.catalog.node_labels()) == sorted(neo_view.catalog.node_labels())
    assert sorted(star_view.catalog.rel_types()) == sorted(neo_view.catalog.rel_types())
    # Connector node tables carry no metadata columns.
    for label in ("Customer", "Order"):
        assert not [c for c in neo_view.nodes[label].columns if c.startswith("<")]

    # Identical node exports through the per-table builders the exporter's
    # write tasks run.
    for view in (star_view, neo_view):
        ids = view.declared_identifiers()
        assert ids == {"Customer": "c_custkey", "Order": "o_orderkey"}
    ids = star_view.declared_identifiers()
    for label in ("Customer", "Order"):
        a, b = (export_node(view.nodes[label], label, identifier=ids[label])
                for view in (star_view, neo_view))
        assert a.identifier == b.identifier == ids[label]
        assert a.columns == b.columns
        assert sorted(map(tuple, a.df.collect())) == sorted(map(tuple, b.df.collect()))

    # Identical relationship exports.
    star_rels, neo_rels = (
        {spec.pattern_key: export_relationship(view, spec, ids) for spec in view.spec.edges}
        for view in (star_view, neo_view)
    )
    assert set(star_rels) == set(neo_rels) == {"Customer_PLACED_Order"}
    a, b = star_rels["Customer_PLACED_Order"], neo_rels["Customer_PLACED_Order"]
    assert a.columns == b.columns == ["Customer_c_custkey", "Order_o_orderkey",
                                      "o_orderdate", "o_orderstatus"]
    assert sorted(map(tuple, a.df.collect())) == sorted(map(tuple, b.df.collect()))


def test_connector_requires_declared_identifiers(spark):
    spec = GraphSpec(nodes=[NodeSpec("Customer", "customer", None)], edges=[])
    src = Neo4jConnectorSource("bolt://example", spec=spec, reader=fake_connector_reader)
    with pytest.raises(ValueError, match="id_col"):
        src.load(spark)


def test_connector_without_jar_raises_actionable_error(spark):
    src = Neo4jConnectorSource("bolt://nowhere:7687", spec=SPEC)
    with pytest.raises(RuntimeError, match="neo4j-spark-connector"):
        src.load(spark)
