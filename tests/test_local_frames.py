"""Driver-local tool rows are Arrow-built LocalRelations.

Rows a tool assembles on the driver (catalog metadata, Looker specs,
docstore request lists and write acknowledgements, small operator
dimensions) go through ``session.local_frame``, which hands Spark a
pyarrow Table: the plan leaf is a ``LocalTableScan`` and no PySpark
Python worker runs. ``spark.createDataFrame`` on a Python list instead
yields ``Scan ExistingRDD``, whose every action forks Python workers.
"""

import glob
import json
import logging
import os
import re

import pytest
from py4j.protocol import Py4JError

from database_toolbox_spark import registry
from database_toolbox_spark.document_store import WRITES_CONF
from database_toolbox_spark.plans import explain_str
from database_toolbox_spark.session import (
    TABLES,
    load_tables,
    local_frame,
    release_materialized,
)
from tests.conftest import SF_DIR

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "database_toolbox_spark",
)


def test_local_frame_is_the_only_create_dataframe_site():
    """Source audit: the package builds driver-local frames one way. The
    only ``createDataFrame(`` call is the one inside local_frame, which
    passes it a pyarrow Table."""
    sites = []
    for path in sorted(glob.glob(f"{PKG}/**/*.py", recursive=True)):
        for line in open(path).read().splitlines():
            if re.search(r"\.createDataFrame\(", line) and not line.lstrip().startswith("#"):
                sites.append((os.path.relpath(path, PKG), line.strip()))
    assert sites == [
        ("session.py", "return spark.createDataFrame(table, schema)")
    ], sites


def _plan(df) -> str:
    return explain_str(df, "simple")


def _tool_frame(spark, name, **kwargs):
    return registry.get_tool(name)(spark, **kwargs)


METADATA_CALLS = [
    ("list_tables", {}),
    ("list_tables", {"table_names": "orders,nation"}),
    ("list_table_names", {}),
    ("search_entries", {"query": "key", "page_size": "5"}),
    ("lookup_entry", {"entry": "orders"}),
    ("search_aspect_types", {}),
    ("get_models", {}),
    ("get_explores", {}),
    ("get_dimensions", {"explore": "orders"}),
    ("get_measures", {"explore": "orders"}),
    ("get_looks", {}),
    ("list_collections", {}),
    ("get_rules", {}),
    ("list_jdbc_sources", {}),
    ("get_documents", {"document_paths": json.dumps(
        ["orders/1", "nation/3", "nosuch/1", "orders/1"])}),
]


@pytest.mark.parametrize(
    "name,kwargs", METADATA_CALLS, ids=[c[0] for c in METADATA_CALLS]
)
def test_tool_plans_have_no_python_rdd_scan(spark, name, kwargs):
    load_tables(spark, SF_DIR)
    df = _tool_frame(spark, name, **kwargs)
    plan = _plan(df)
    assert "ExistingRDD" not in plan, plan
    df.collect()


def test_get_documents_sorts_locally(spark):
    """One row per requested path, in request order, sorted after a
    single-partition exchange instead of a range-sampled global sort."""
    load_tables(spark, SF_DIR)
    paths = ["orders/1", "nosuch/9", "nation/3", "orders/1"]
    df = _tool_frame(spark, "get_documents", document_paths=json.dumps(paths))
    plan = _plan(df)
    assert "rangepartitioning" not in plan
    assert "Exchange SinglePartition" in plan
    rows = df.collect()
    assert [r.doc_path for r in rows] == paths
    assert [r.found for r in rows] == [True, False, True, True]


def test_docstore_writes_and_overlay_reads_have_no_python_rdd_scan(spark):
    load_tables(spark, SF_DIR)
    spark.conf.set(WRITES_CONF, "session")
    try:
        acks = [
            _tool_frame(spark, "add_documents", collection="orders",
                        documents=json.dumps([{"o_orderkey": 990001,
                                               "o_custkey": 1}])),
            _tool_frame(spark, "update_document", collection="orders",
                        document_path="orders/990001",
                        fields=json.dumps({"o_orderstatus": "F"})),
            _tool_frame(spark, "delete_documents", collection="orders",
                        document_paths=json.dumps(["orders/2"])),
        ]
        for ack in acks:
            assert "ExistingRDD" not in _plan(ack)
        reads = [
            spark.table("orders"),
            _tool_frame(spark, "get_documents",
                        document_paths=json.dumps(["orders/990001"])),
            _tool_frame(spark, "query_collection", collection="orders",
                        filters=json.dumps([{"field": "o_orderkey",
                                             "op": "==", "value": 990001}])),
        ]
        for df in reads:
            assert "ExistingRDD" not in _plan(df)
        row = json.loads(reads[1].collect()[0].data)
        assert row["o_orderstatus"] == "F"
    finally:
        spark.conf.set(WRITES_CONF, "deny")
        load_tables(spark, SF_DIR, replace=True)


def test_add_documents_round_trips_timestamps_and_nulls(spark):
    """A timestamp given as an ISO string and an explicit null read back
    unchanged through the overlay."""
    from datetime import datetime

    from database_toolbox_spark.document_store import add_documents

    load_tables(spark, SF_DIR)
    spark.conf.set(WRITES_CONF, "session")
    try:
        add_documents(spark, "orders", json.dumps([
            {"o_orderkey": 990002, "o_custkey": 7, "o_orderstatus": None,
             "o_totalprice": 1234.5, "o_orderdate": "1995-03-15 12:30:01",
             "o_orderpriority": "1-URGENT"},
            {"o_orderkey": 990003, "o_orderdate": "1996-01-02T00:00:00Z"},
        ]))
        got = {
            r.o_orderkey: r.asDict()
            for r in spark.table("orders")
            .where("o_orderkey IN (990002, 990003)").collect()
        }
        assert got[990002] == {
            "o_orderkey": 990002, "o_custkey": 7, "o_orderstatus": None,
            "o_totalprice": 1234.5,
            "o_orderdate": datetime(1995, 3, 15, 12, 30, 1),
            "o_orderpriority": "1-URGENT",
        }
        assert got[990003]["o_orderdate"] == datetime(1996, 1, 2)
        assert got[990003]["o_custkey"] is None
        doc = json.loads(
            _tool_frame(spark, "get_documents",
                        document_paths="orders/990002").collect()[0].data
        )
        assert doc["o_orderdate"].startswith("1995-03-15T12:30:01")
        assert "o_orderstatus" not in doc  # to_json drops null fields
    finally:
        spark.conf.set(WRITES_CONF, "deny")
        load_tables(spark, SF_DIR, replace=True)


def test_zero_row_tools_keep_declared_schema(spark, monkeypatch):
    from database_toolbox_spark.catalog import LIST_TABLES_SCHEMA

    load_tables(spark, SF_DIR)
    df = _tool_frame(spark, "list_tables", table_names="nosuch")
    assert df.schema == LIST_TABLES_SCHEMA
    assert df.collect() == []
    assert registry.call_tool(spark, "list_tables", {"table_names": "nosuch"}) == []

    monkeypatch.setattr(registry, "_JDBC_SOURCES", {})
    df = _tool_frame(spark, "list_jdbc_sources")
    assert df.columns == ["source_name", "driver_class"]
    assert [f.nullable for f in df.schema.fields] == [False, False]
    assert df.collect() == []


def test_local_frame_matches_list_built_frame(spark):
    """Same schema and rows as createDataFrame on the list, for the types
    the tools use, DDL-string schemas included."""
    from datetime import date, datetime

    rows = [(1, "a", 1.5, datetime(2001, 2, 3, 4, 5, 6), date(2001, 2, 3), None),
            (2, None, None, None, None, True)]
    ddl = "k bigint, s string, x double, ts timestamp, d date, b boolean"
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert got.toJSON().collect() == want.toJSON().collect()


def test_load_tables_reads_lazily(spark):
    """The mapping registers every view up front but builds a table's
    fresh read only when indexed, and keeps it."""
    tables = load_tables(spark, SF_DIR)
    assert list(tables) == list(TABLES) and len(tables) == len(TABLES)
    assert all(spark.catalog.tableExists(t) for t in TABLES)
    first = tables["orders"]
    assert tables["orders"] is first
    assert first.columns == spark.table("orders").columns


class _FakeRdd:
    def __init__(self, fail: bool):
        self.fail = fail
        self.released = False

    def unpersist(self, blocking):
        if self.fail:
            raise Py4JError("gateway gone")
        self.released = True


class _FakeSpark:
    def __init__(self, rdds):
        jsc = type("Jsc", (), {"getPersistentRDDs": lambda _self: dict(enumerate(rdds))})()
        self.sparkContext = type("Sc", (), {"_jsc": jsc})()


def test_release_materialized_reports_partial_sweep(caplog):
    rdds = [_FakeRdd(False), _FakeRdd(False), _FakeRdd(True), _FakeRdd(False)]
    with caplog.at_level(logging.WARNING, logger="database_toolbox_spark.session"):
        assert release_materialized(_FakeSpark(rdds)) == 2
    assert "stopped after 2" in caplog.text
    assert [r.released for r in rdds] == [True, True, False, False]


def test_release_materialized_does_not_swallow_programming_errors():
    class Broken:
        sparkContext = None

    with pytest.raises(AttributeError):
        release_materialized(Broken())
