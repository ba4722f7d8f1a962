"""Reference-shaped fixture tests (SURVEY.md §5 point 2): regenerate small
deterministic versions of the reference's four fixtures (FIXTURES.md) and
assert the five jobs' batch pipelines produce the expected outcomes."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from flink_uba_spark.operators.order_lifecycle import classify_order_states
from flink_uba_spark.operators.reconcile import reconcile
from flink_uba_spark.operators.topn import windowed_topn
from flink_uba_spark.sources.readers import (
    read_apache_log,
    read_order_events,
    read_receipt_events,
    read_user_behavior,
    stream_kafka,
    stream_socket,
)

BASE = 1558430000  # epoch seconds, matches OrderLog.csv era


@pytest.fixture(scope="module")
def fixtures(tmp_path_factory):
    d = tmp_path_factory.mktemp("ref_fixtures")
    # UserBehavior.csv shape: userId,itemId,categoryId,behavior,timestamp
    ub = [
        f"{500 + i},{1715 if i % 3 else 2244},1464116,{'pv' if i % 4 else 'buy'},{BASE + i * 60}"
        for i in range(40)
    ]
    (d / "UserBehavior.csv").write_text("\n".join(ub))
    # apache.log shape: ip user - dd/MM/yyyy:HH:mm:ss tz method url
    lines = []
    for i in range(30):
        url = "/present/kibana.png" if i % 5 == 0 else ("/blog/post" if i % 2 else "/home")
        method = "POST" if i % 7 == 0 else "GET"
        lines.append(f"83.149.9.{i} - - 17/05/2015:10:{i:02d}:03 +0000 {method} {url}")
    (d / "apache.log").write_text("\n".join(lines))
    # OrderLog.csv shape: orderId,eventType,txId,timestamp
    order = [
        f"34729,create,,{BASE + 42}",
        f"34729,pay,sd76f87d6,{BASE + 44}",
        f"34730,create,,{BASE + 50}",  # never paid
        f"34767,create,,{BASE + 60}",
        f"34767,pay,sdafen9932,{BASE + 60 + 19 * 60}",  # pays after 15-min deadline
        f"34731,pay,3hu3k2432,{BASE + 70}",  # pay with no create
    ]
    (d / "OrderLog.csv").write_text("\n".join(order))
    # ReceiptLog.csv shape: txId,payChannel,timestamp
    receipts = [
        f"sd76f87d6,wechat,{BASE + 45}",
        f"ewr342as4,alipay,{BASE + 200}",  # receipt with no pay
    ]
    (d / "ReceiptLog.csv").write_text("\n".join(receipts))
    return d


def test_user_behavior_reader_and_hot_items(spark, fixtures):
    df = read_user_behavior(spark, str(fixtures / "UserBehavior.csv"))
    assert dict(df.dtypes) == {
        "userId": "bigint", "itemId": "bigint", "categoryId": "int",
        "behavior": "string", "ts": "timestamp",
    }
    pv = df.filter(F.col("behavior") == "pv")  # P2
    top = windowed_topn(pv, "itemId", size="1 hour", slide="5 minutes", n=5)
    first = top.filter(F.col("rnk") == 1).select("itemId").distinct().collect()
    assert {r.itemId for r in first} == {1715}  # the skewed-popular item


def test_apache_log_parse_and_filters(spark, fixtures):
    df = read_apache_log(spark, str(fixtures / "apache.log"))
    assert dict(df.dtypes)["ts"] == "timestamp"
    row = df.orderBy("ts").first()
    assert row.ts.year == 2015 and row.method in ("GET", "POST")
    # P3 (method='GET') + P4 (static-resource exclusion, intended semantics)
    pages = df.filter((F.col("method") == "GET") & ~F.col("url").rlike(r"\.(css|js|png|ico)$"))
    urls = {r.url for r in pages.select("url").distinct().collect()}
    assert urls == {"/blog/post", "/home"}


def test_order_log_timeout_detection(spark, fixtures):
    ev = read_order_events(spark, str(fixtures / "OrderLog.csv"))
    assert ev.filter(F.col("txId") == "").count() == 3  # P5: empty txId on creates
    creates = ev.filter(F.col("eventType") == "create").withColumn("event_id", F.col("orderId"))
    pays = ev.filter(F.col("eventType") == "pay").withColumn("event_id", F.col("orderId"))
    out = classify_order_states(creates, pays, key="orderId", deadline="INTERVAL 15 MINUTES")
    states = {r.orderId: r.state for r in out.collect()}
    # the FIXTURES.md §3 outcome matrix, incl. the late payment on 34767
    assert states == {34729: "payed", 34730: "timeout", 34767: "payed_late", 34731: "pay_no_create"}


def test_tx_match_reconciliation(spark, fixtures):
    ev = read_order_events(spark, str(fixtures / "OrderLog.csv"))
    pays = (
        ev.filter(F.col("txId") != "")  # P5 pay-only filter (TxPayMatch.java:56)
        .select("txId", F.col("ts").alias("pay_ts"), F.col("orderId").alias("pay_id"))
    )
    receipts = read_receipt_events(spark, str(fixtures / "ReceiptLog.csv")).select(
        "txId", F.col("ts").alias("receipt_ts"), F.col("payChannel").alias("receipt_id")
    )
    out = reconcile(
        pays, receipts, on="txId", left_ts="pay_ts", right_ts="receipt_ts",
        lower="INTERVAL 3 SECONDS", upper="INTERVAL 5 SECONDS",
        left_id="pay_id", right_id="receipt_id",
    )
    by_status = {r.txId: r.status for r in out.collect()}
    assert by_status["sd76f87d6"] == "matched"  # receipt 1s after pay, inside [-3s,+5s]
    assert by_status["ewr342as4"] == "unmatched_right"
    assert by_status["sdafen9932"] == "unmatched_left"
    assert by_status["3hu3k2432"] == "unmatched_left"


def test_socket_reader_plan(spark):
    """S2: socket source wires up as a streaming relation (no server in CI —
    plan-level assertion only)."""
    df = stream_socket(spark, "localhost", 7777)
    assert df.isStreaming and dict(df.dtypes) == {"value": "string"}


def test_kafka_reader_plan(spark):
    """S3: kafka source (no broker in container) — builder-level check that
    the reader is wired with value→STRING decode."""
    try:
        df = stream_kafka(spark, "hotitems")
        assert df.isStreaming and dict(df.dtypes) == {"value": "string"}
    except Exception as e:  # kafka connector jar not bundled in this env
        assert "kafka" in str(e).lower()


def test_malformed_lines_do_not_crash_readers(spark, tmp_path):
    """The reference's naive line.split() parser throws on malformed rows
    (HotPages.java:44-49 has no error handling); the schema'd CSV readers
    run PERMISSIVE — a garbage line yields nulls in untypeable fields and
    an unparseable timestamp becomes null, never an exception, so one bad
    row can't kill a 100 TB ingest."""
    from flink_uba_spark.sources.readers import read_apache_log

    p = tmp_path / "log.txt"
    p.write_text(
        "83.149.9.216 - - 17/05/2015:10:05:03 +0000 GET /present/bin\n"
        "totally,garbage-line with no structure at all\n"
        "83.149.9.216 - - NOT_A_TIMESTAMP +0000 GET /x\n"
    )
    rows = read_apache_log(spark, str(p)).collect()
    assert len(rows) == 3  # nothing dropped, nothing thrown
    good = [r for r in rows if r.ts is not None]
    assert len(good) == 1 and good[0].url == "/present/bin"
