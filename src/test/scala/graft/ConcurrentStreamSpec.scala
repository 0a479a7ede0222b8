package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.StreamEventFixture.{CapturedDb, jsonTx}
import graft.streaming.EcommerceStreamJob
import graft.streaming.EcommerceStreamJob.JobConfig

/** Data arriving in rounds while the job's query is already live, over a
  * `MemoryStream` (a topic being produced to during the run). What this
  * pins down beyond EndToEndStreamSpec's file-source run:
  *  - feeding new data AFTER the query has processed the previous round
  *    loses nothing, including a backlog of several batches;
  *  - the captured upsert end-state is batch truth for every table at
  *    once. */
class ConcurrentStreamSpec extends SparkSpec {
  import spark.implicits._

  test("the live query sees every round, backlog included, in every table") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[String]
    val ckpt = Files.createTempDirectory("graft-conc-ckpt")

    val db = new CapturedDb
    val cfg = JobConfig(checkpointRoot = ckpt.toString, triggerMs = 10L)
    val query = EcommerceStreamJob.startWithSink(spark, cfg, input.toDF())(db.sink)
    try {
      // round 1: two categories, one day
      input.addData(
        jsonTx("t1", "electronic", 10.0, "2024-11-08T10:00:00.000000"),
        jsonTx("t2", "fashion", 4.0, "2024-11-08T11:00:00.000000"))
      query.processAllAvailable()
      // round 2 lands AFTER round 1 is fully processed; two separate
      // adds make the unprocessed backlog multi-batch
      input.addData(jsonTx("t3", "electronic", 2.5, "2024-11-09T09:00:00.000000"))
      input.addData(
        jsonTx("t4", "grocery", 6.0, "2024-12-01T08:00:00.000000"),
        jsonTx("t5", "electronic", 1.0, "2024-12-02T12:00:00.000000"))
      query.processAllAvailable()

      // raw copy: every round landed — all five ids
      assert(db.rowsOf("transactions").map(_("transaction_id")).toSet ===
        Set("t1", "t2", "t3", "t4", "t5"))
      // category running totals across both rounds
      val cat = db.rowsOf("sales_per_category").map(r => r("category") -> r("total_sales")).toMap
      assert(cat === Map("electronic" -> 13.5, "fashion" -> 4.0, "grocery" -> 6.0))
      // per-day totals: four distinct days
      val day = db.rowsOf("sales_per_day")
        .map(r => r("transaction_date").toString -> r("total_sales")).toMap
      assert(day === Map("2024-11-08" -> 14.0, "2024-11-09" -> 2.5,
        "2024-12-01" -> 6.0, "2024-12-02" -> 1.0))
      // per-month totals: Nov and Dec 2024
      val month = db.rowsOf("sales_per_month").map(r => r("month") -> r("total_sales")).toMap
      assert(month === Map(11 -> 16.5, 12 -> 7.0))
    } finally query.stop()
  }
}
