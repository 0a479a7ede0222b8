package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.operators.Ecommerce
import graft.streaming.EcommerceStreamJob

/** Shared fixtures for the streaming job's specs: a deterministic
  * transaction-event writer in generator-format JSON (`main.py:24`
  * naive-UTC ISO timestamps, 6 categories / 90 days / 3 months of keys,
  * totalAmount = price × quantity), an in-memory sink for
  * `EcommerceStreamJob.startWithSink`, and the end-state check against
  * the batch aggregates. */
object StreamEventFixture {

  /** One transaction as the generator's JSON line. */
  def jsonTx(id: String, cat: String, amt: Double, ts: String): String =
    s"""{"transactionId":"$id","productId":"p1","productName":"laptop",
       |"productCategory":"$cat","productPrice":$amt,"productQuantity":1,
       |"productBrand":"apple","totalAmount":$amt,"currency":"USD",
       |"customerId":"c1","transactionDate":"$ts",
       |"paymentMethod":"credit_card"}""".stripMargin.replaceAll("\n", "")

  /** In-memory stand-in for the job's database, fed through
    * `EcommerceStreamJob.startWithSink`: per table, the end-state the
    * keyed upserts leave (last write wins) and every row emitted, with
    * its batch id. */
  final class CapturedDb {
    private val state = mutable.Map[String, mutable.LinkedHashMap[Seq[Any], Map[String, Any]]]()
    private val log = mutable.ArrayBuffer[(String, Long, Map[String, Any])]()

    def sink(table: String, keys: Seq[String]): (DataFrame, Long) => Unit =
      (batch, batchId) => {
        val rows = batch.collect().map(r => batch.columns.zip(r.toSeq).toMap)
        synchronized {
          val t = state.getOrElseUpdate(table, mutable.LinkedHashMap())
          rows.foreach { r => t(keys.map(r)) = r; log += ((table, batchId, r)) }
        }
      }

    def rowsOf(table: String): Vector[Map[String, Any]] =
      synchronized(state.get(table).map(_.values.toVector).getOrElse(Vector.empty))

    /** Rows emitted to `table` by batch `batchId`. */
    def emitted(table: String, batchId: Long): Vector[Map[String, Any]] =
      synchronized(log.collect { case (`table`, `batchId`, r) => r }.toVector)
  }

  /** Assert the job's four tables (read through `rowsOf`) hold exactly
    * the `graft.operators.Ecommerce` batch aggregates over `lines`, the
    * raw JSON the stream read: each running total within 1e-9 relative
    * (incremental state merges sum in a different order than the batch
    * partial aggregates), and one raw row per distinct valid id. */
  def assertEndStateIsBatch(lines: DataFrame,
      rowsOf: String => Seq[Map[String, Any]]): Unit = {
    val tx = EcommerceStreamJob.parse(lines)
    Seq(
      ("sales_per_category", "category",
        Ecommerce.salesPerCategory(tx, "productCategory", "totalAmount")),
      ("sales_per_day", "transaction_date",
        Ecommerce.salesPerDay(tx, "transactionDate", "totalAmount")),
      ("sales_per_month", "month",
        Ecommerce.salesPerMonthOfYear(tx, "transactionDate", "totalAmount"))
    ).foreach { case (table, key, batch) =>
      val got = rowsOf(table)
        .map(r => r(key).toString -> r("total_sales").asInstanceOf[Double]).toMap
      val exp = batch.collect()
        .map(r => r.getAs[Any](key).toString -> r.getAs[Double]("total_sales")).toMap
      assert(got.keySet == exp.keySet,
        s"$table keys: streaming ${got.keySet} vs batch ${exp.keySet}")
      got.foreach { case (k, v) =>
        assert(math.abs(v - exp(k)) <= 1e-9 * math.max(1.0, math.abs(exp(k))),
          s"$table[$k]: streaming $v vs batch ${exp(k)}")
      }
    }
    val ids = tx.select("transactionId").distinct().count()
    assert(rowsOf("transactions").size == ids,
      s"transactions: ${rowsOf("transactions").size} rows vs $ids distinct ids")
  }
  val categories: Vector[String] =
    Vector("electronic", "fashion", "grocery", "home", "beauty", "toy")
  val payments: Vector[String] =
    Vector("credit_card", "debit_card", "online_transfer")

  /** Write `count` events with ids [fromId, fromId+count) across
    * `files` files named `<prefix>NNN.json`. Day i%90 spreads events
    * over 2024-09-01..2024-11-29 → 3 month keys, 90 day keys. */
  def writeEvents(dir: Path, fromId: Int, count: Int, files: Int,
      prefix: String): Unit = {
    val perFile = (count + files - 1) / files
    var id = fromId
    val end = fromId + count
    (0 until files).foreach { f =>
      val w = Files.newBufferedWriter(dir.resolve(prefix + f"$f%03d" + ".json"))
      try {
        val sb = new java.lang.StringBuilder(320)
        var i = 0
        while (i < perFile && id < end) {
          val day = id % 90
          val month = 9 + day / 30
          val dom = day % 30 + 1
          val price = (id % 9900 + 100) / 100.0 // 1.00 .. 99.99
          val qty = id % 10 + 1
          sb.setLength(0)
          sb.append("{\"transactionId\":\"t").append(id)
            .append("\",\"productId\":\"p").append(id % 6)
            .append("\",\"productName\":\"item").append(id % 6)
            .append("\",\"productCategory\":\"").append(categories(id % 6))
            .append("\",\"productPrice\":").append(price)
            .append(",\"productQuantity\":").append(qty)
            .append(",\"productBrand\":\"brand").append(id % 4)
            .append("\",\"totalAmount\":").append(price * qty)
            .append(",\"currency\":\"").append(if (id % 2 == 0) "USD" else "GBP")
            .append("\",\"customerId\":\"c").append(id % 1000)
            .append("\",\"transactionDate\":\"2024-")
            .append(f"$month%02d-$dom%02d")
            .append(f"T${id % 24}%02d:${id % 60}%02d:${(id * 7) % 60}%02d.000000")
            .append("\",\"paymentMethod\":\"").append(payments(id % 3))
            .append("\"}\n")
          w.write(sb.toString)
          id += 1; i += 1
        }
      } finally w.close()
    }
  }

  def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }
}
