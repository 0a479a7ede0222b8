package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.StreamEventFixture.{CapturedDb, jsonTx}
import graft.streaming.EcommerceStreamJob
import graft.streaming.EcommerceStreamJob.JobConfig

/** The job reads its source ONCE per micro-batch (the reference's single
  * read + fan-out, `DataStreamJob.java:113-163`) and lands the
  * hand-computed running totals, which are also the batch aggregates
  * over the same lines.
  */
class SharedSourceStreamSpec extends SparkSpec {

  // two micro-batches; every category sees ONE distinct date per batch
  // so the first-seen-date quirk is deterministic (within-batch arrival
  // order is parallelism-dependent otherwise). Batch 2 re-keys
  // electronic under a LATER date and adds a fresh category + a
  // December row (new month bucket, first-seen year pinned by batch
  // order), plus a replayed t1 (raw upsert collapses it).
  private val batch1 = Seq(
    jsonTx("t1", "electronic", 10.0, "2024-11-08T10:00:00.000000"),
    jsonTx("t2", "fashion", 4.0, "2024-11-08T11:00:00.000000"),
    jsonTx("t3", "electronic", 2.5, "2024-11-08T12:00:00.000000"))
  private val batch2 = Seq(
    jsonTx("t4", "electronic", 5.0, "2024-11-09T09:00:00.000000"),
    jsonTx("t5", "grocery", 1.5, "2024-12-01T08:00:00.000000"),
    jsonTx("t1", "electronic", 10.0, "2024-11-08T10:00:00.000000"))

  test("end-state is the hand and batch totals, ONE source read per batch") {
    val dir: Path = Files.createTempDirectory("graft-shared-src")
    val ckpt = Files.createTempDirectory("graft-shared-ckpt")
    // per-row source-read counter: every physical evaluation of a source
    // row bumps it, so N source reads of a K-row corpus count N·K
    val reads = spark.sparkContext.longAccumulator("source-reads")
    val counting = udf { (v: String) => reads.add(1); v }
    Files.writeString(dir.resolve("b1.json"), batch1.mkString("\n"))
    val db = new CapturedDb
    val source = EcommerceStreamJob.fileSource(spark, dir.toString)
      .select(counting(col("value")).as("value"))
    val query = EcommerceStreamJob.startWithSink(spark,
      JobConfig(checkpointRoot = ckpt.toString, triggerMs = 50L), source)(db.sink)
    try {
      query.processAllAvailable()
      Files.writeString(dir.resolve("b2.json"), batch2.mkString("\n"))
      query.processAllAvailable()
    } finally query.stop()

    // the hand-computed running totals
    val cat = db.rowsOf("sales_per_category")
      .map(r => r("category") -> (r("transaction_date").toString, r("total_sales"))).toMap
    assert(cat("electronic") === (("2024-11-08", 27.5))) // 10+2.5+5+10(replay)
    assert(cat("fashion") === (("2024-11-08", 4.0)))
    assert(cat("grocery") === (("2024-12-01", 1.5)))
    assert(db.rowsOf("transactions").size === 5) // replayed t1 collapsed
    val month = db.rowsOf("sales_per_month")
      .map(r => r("month") -> (r("year"), r("total_sales"))).toMap
    assert(month(11) === ((2024, 31.5))) // 16.5 (b1) + 5 + 10 (b2 incl. replay)
    assert(month(12) === ((2024, 1.5)))
    // …which are the batch aggregates over the same lines
    StreamEventFixture.assertEndStateIsBatch(
      spark.read.text(dir.toString).select(col("value")), db.rowsOf)
    // one read: 6 rows over 2 batches, and the engine evaluates each
    // source row exactly TWICE per batch (its plan passes), so 2·6 —
    // against a broker, one consumer-group read of every byte
    assert(reads.value === 12L, s"expected 2·6 row reads, saw ${reads.value}")
  }
}
