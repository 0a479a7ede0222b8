package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.StreamEventFixture.{CapturedDb, jsonTx}
import graft.streaming.EcommerceStreamJob
import graft.streaming.EcommerceStreamJob.JobConfig

/** R1–R3 streaming parity: the running totals emitted by the job's query
  * must converge to the same end-state as Flink's per-record keyed
  * reduce (`DataStreamJob.java:133-163`), regardless of micro-batch
  * boundaries, with the reference's first-seen quirks. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Run the job's query over a MemoryStream, one micro-batch per group
    * of lines (batch ids 0, 1, …), and return what it wrote. */
  private def runBatches(batches: Seq[String]*): CapturedDb = {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[String]
    val db = new CapturedDb
    val cfg = JobConfig(
      checkpointRoot = Files.createTempDirectory("graft-streaming-ckpt").toString,
      triggerMs = 10L)
    val query = EcommerceStreamJob.startWithSink(spark, cfg, input.toDF())(db.sink)
    try batches.foreach { lines => input.addData(lines: _*); query.processAllAvailable() }
    finally query.stop()
    db
  }

  test("category running totals converge across micro-batches (update mode)") {
    val db = runBatches(
      Seq(jsonTx("t1", "electronic", 10.0, "2024-11-08T10:00:00.000000"),
        jsonTx("t2", "fashion", 4.0, "2024-11-08T11:00:00.000000")),
      // batch 1: electronic grows — update mode re-emits its full total
      Seq(jsonTx("t3", "electronic", 2.5, "2024-11-09T09:00:00.000000")))

    // upsert end-state = latest emission per key (exactly what the
    // ON CONFLICT ... SET total_sales = EXCLUDED.total_sales sink does)
    val endState = db.rowsOf("sales_per_category")
      .map(r => r("category") -> r("total_sales")).toMap
    assert(endState === Map("electronic" -> 12.5, "fashion" -> 4.0))
    // update mode emits only the keys a batch touched: batch 1 re-emits
    // electronic, its day and its month, never fashion or 2024-11-08
    assert(db.emitted("sales_per_category", 1).map(r => r("category") -> r("total_sales")) ===
      Vector("electronic" -> 12.5))
    assert(db.emitted("sales_per_day", 1).map(r => r("transaction_date").toString) ===
      Vector("2024-11-09"))
    assert(db.emitted("sales_per_month", 1).map(r => r("total_sales")) === Vector(16.5))
    assert(db.emitted("transactions", 1).map(r => r("transaction_id")) === Vector("t3"))
    // first-seen date sticks per key (reference quirk #2: keyed by
    // category only, date carried from first record)
    val dates = (0L to 1L).flatMap(db.emitted("sales_per_category", _))
      .filter(_("category") == "electronic").map(_("transaction_date").toString).toSet
    assert(dates === Set("2024-11-08"))
  }

  test("day and month aggs run in update mode and converge") {
    val db = runBatches(
      Seq(jsonTx("t1", "electronic", 10.0, "2024-11-08T10:00:00.000000"),
        jsonTx("t2", "fashion", 4.0, "2024-11-08T11:00:00.000000"),
        jsonTx("t3", "grocery", 6.0, "2024-11-09T09:00:00.000000")),
      Seq(jsonTx("t4", "toy", 3.0, "2024-12-01T08:00:00.000000"),
        jsonTx("t5", "toy", 1.0, "2024-11-09T10:00:00.000000")))
    val day = db.rowsOf("sales_per_day")
      .map(r => r("transaction_date").toString -> r("total_sales")).toMap
    assert(day === Map("2024-11-08" -> 14.0, "2024-11-09" -> 7.0, "2024-12-01" -> 3.0))
    val month = db.rowsOf("sales_per_month")
      .map(r => (r("year"), r("month")) -> r("total_sales")).toMap
    assert(month === Map((2024, 11) -> 21.0, (2024, 12) -> 3.0))
  }

  test("faithful month agg (quirk #3): cross-year months share one accumulator, year first-seen") {
    // Streaming is the one context where first-seen is deterministic —
    // the keyed state keeps the existing first — so the Flink-parity
    // claim (reference DataStreamJob.java:160-163: keyBy(month) only,
    // year carried from the first record into PK (year, month)) is
    // executed here, not narrated. One row per micro-batch pins arrival
    // order.
    val db = runBatches(
      Seq(jsonTx("t1", "electronic", 100.0, "2023-01-15T10:00:00.000000")),
      // January of a DIFFERENT year: same month-only key
      Seq(jsonTx("t2", "fashion", 50.0, "2024-01-10T09:00:00.000000")),
      Seq(jsonTx("t3", "grocery", 7.0, "2024-02-01T08:00:00.000000")))

    val rows = (0L to 2L).flatMap(db.emitted("sales_per_month", _))
      .map(r => (r("year"), r("month"), r("total_sales")))
    // running emissions for month 1: (2023, 1, 100) then (2023, 1, 150)
    // — the 2024 arrival adds to the JANUARY accumulator but can never
    // flip the first-seen year
    assert(rows.filter(_._2 == 1).map(_._1).toSet === Set(2023),
      s"year must stay first-seen, got $rows")
    assert(db.rowsOf("sales_per_month").map(r => (r("year"), r("month"), r("total_sales"))).toSet ===
      Set((2023, 1, 150.0), (2024, 2, 7.0))) // shared cross-year accumulator
  }

  test("faithful category agg: a later-dated arrival can never flip the first-seen date") {
    // complements the convergence test above: date pinning asserted
    // against an ADVERSARIAL arrival (earlier AND later dates after the
    // first), one row per micro-batch
    val db = runBatches(
      Seq(jsonTx("t1", "toy", 1.0, "2024-06-15T10:00:00.000000")),
      Seq(jsonTx("t2", "toy", 2.0, "2024-06-20T10:00:00.000000")), // later date
      Seq(jsonTx("t3", "toy", 4.0, "2024-06-01T10:00:00.000000"))) // earlier date
    val emitted = (0L to 2L).flatMap(db.emitted("sales_per_category", _))
    // every emission carries batch 0's date
    assert(emitted.map(_("transaction_date").toString).toSet === Set("2024-06-15"))
    assert(emitted.map(_("total_sales")) === Seq(1.0, 3.0, 7.0))
    assert(db.rowsOf("sales_per_category").map(_("total_sales")) === Vector(7.0))
  }

  test("rawForDb projects to the reference's Postgres column names") {
    val tx = Json_fixture()
    val cols = EcommerceStreamJob.rawForDb(tx).columns.toSeq
    assert(cols === Seq("transaction_id", "product_id", "product_name",
      "product_category", "product_price", "product_quantity",
      "product_brand", "total_amount", "currency", "customer_id",
      "transaction_date", "payment_method"))
  }

  private def Json_fixture() = {
    val raw = Seq(jsonTx("t1", "electronic", 1.0, "2024-11-08T10:00:00.000000"))
      .toDF("value")
    EcommerceStreamJob.parse(raw)
  }
}
