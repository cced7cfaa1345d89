"""S5/T3 — API document-exchange source: XML round-trip, executor-side
fan-out, bounded concurrency, retry-then-record-error semantics."""

from __future__ import annotations

from xml.etree import ElementTree as ET

from pyspark.sql import functions as F

from cbts_datalake_synnex_spark.sources.api_source import (
    build_order_status_request,
    fan_out_fetch,
    parse_order_status_response,
)


def _fake_transport(request_xml: str) -> str:
    """Deterministic fake endpoint: echoes the PO with two status lines."""
    po = ET.fromstring(request_xml).findtext(".//PONumber")
    return f"""
    <OrderStatusResponse version="2.7">
      <PONumber>{po}</PONumber>
      <Status><Code>10</Code><Description>accepted</Description></Status>
      <Status><Code>20</Code><Description>shipped</Description></Status>
    </OrderStatusResponse>
    """


def _flaky_transport(request_xml: str) -> str:
    po = ET.fromstring(request_xml).findtext(".//PONumber")
    if po == "PO_BAD":
        raise ConnectionError("boom")
    return _fake_transport(request_xml)


def test_request_document_roundtrip():
    xml = build_order_status_request("PO42", "user", "secret")
    root = ET.fromstring(xml)
    assert root.tag == "OrderStatusRequest" and root.get("version") == "2.7"
    assert root.findtext(".//PONumber") == "PO42"
    assert root.findtext(".//UserID") == "user"
    recs = parse_order_status_response(_fake_transport(xml))
    assert [r["status"] for r in recs] == ["accepted", "shipped"]
    assert all(r["po_number"] == "PO42" for r in recs)


def test_fan_out_fetch(spark):
    reqs = spark.createDataFrame([("PO1",), ("PO2",), ("PO1",)], "po_number string")
    out = fan_out_fetch(reqs, _fake_transport, concurrency=2)
    # bounded concurrency = partition count (T3 MaxConcurrency analogue)
    assert out.rdd.getNumPartitions() <= 2
    rows = out.collect()
    # distinct POs × 2 status lines each
    assert len(rows) == 4
    assert {r["po_number"] for r in rows} == {"PO1", "PO2"}
    assert all(r["error"] == "" for r in rows)


def test_fan_out_fetch_records_errors_after_retries(spark):
    reqs = spark.createDataFrame([("PO_OK",), ("PO_BAD",)], "po_number string")
    out = fan_out_fetch(
        reqs, _flaky_transport, concurrency=1, max_attempts=3, backoff_s=0.0
    ).collect()
    ok = [r for r in out if r["po_number"] == "PO_OK"]
    bad = [r for r in out if r["po_number"] == "PO_BAD"]
    assert len(ok) == 2 and all(r["error"] == "" for r in ok)
    assert len(bad) == 1 and "ConnectionError" in bad[0]["error"]


def test_fan_out_fetch_runs_concurrency_tasks(spark):
    """An uncached request frame still fans out over ``concurrency``
    tasks (AQE never coalesces an explicit partition count), and a
    repeated PO is fetched once."""
    pos = [(f"PO{i}",) for i in range(100)] + [("PO7",)]
    reqs = spark.createDataFrame(pos, "po_number string")
    out = fan_out_fetch(reqs, _fake_transport, concurrency=4)
    parts = out.select(F.spark_partition_id().alias("p")).distinct().count()
    assert parts == min(4, spark.sparkContext.defaultParallelism)
    assert out.count() == 200  # 100 distinct POs × 2 status lines
