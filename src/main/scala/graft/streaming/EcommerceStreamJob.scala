package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.Transaction
import graft.ingest.Json
import graft.sinks.JdbcUpsert
import graft.sinks.JdbcUpsert.ConnConfig

/** The end-to-end streaming job: the Spark-native counterpart of the
  * reference's single Flink dataflow (`DataStreamJob.java:84-170`).
  *
  * Topology: ONE streaming query. Each micro-batch reads the source once
  * and fans out to the raw copy and the three running totals, as the
  * reference does (`DataStreamJob.java:113-163`). The totals are state
  * since job start, so they live in the checkpointed state store — but
  * Spark allows one streaming aggregation per query, so three
  * `groupBy().agg()` cannot share one. They do not need to: the three
  * totals are one keyed-state computation over a composite
  * `(kind, key)` space, so a single `flatMapGroupsWithState` keeps all
  * three families, and the raw rows ride the same shuffle as stateless
  * passthrough. Per batch the touched rows are persisted once and all
  * four tables are written from them. That is one source read, one
  * shuffle, one state commit and one checkpoint per trigger; the
  * alternative of one query per table paid a read and a checkpoint per
  * table and a shuffle and a state commit per total, and measured
  * slower on both the live and the backfill workload of `perfbench`.
  *
  * Two properties carry the reference's sink semantics over:
  *   - convergence: update mode emits the full running total of every
  *     touched key each micro-batch, so the `ON CONFLICT … SET
  *     total_sales = EXCLUDED.total_sales` replace-upsert converges to
  *     the same DB end-state as Flink's per-record emission;
  *   - idempotence under replay: a micro-batch that fails part-way —
  *     some of its four tables committed, others not — is replayed from
  *     the offset log against the state of the previous batch, so it
  *     re-emits the same totals and raw rows, and the keyed replace
  *     rewrites what already landed without double counting (a per-batch
  *     delta with an additive upsert would double count).
  *
  * State is unwindowed and grows with key cardinality — exactly like
  * the reference (no watermark, `DataStreamJob.java:98`); cardinality
  * here is categories/days/months, i.e. tiny, and raw rows write no
  * state. For unbounded keys use the watermarked variants in `Windows`.
  */
object EcommerceStreamJob {

  /** Config surface mirroring the reference's parameters
    * (`DataStreamJob.java:71-78`: kafka servers, topic, group, db url/user/
    * password — note the reference swaps user/password keys at `:108-109`;
    * we do not reproduce that bug).
    *
    * `checkpointRoot` is deliberately required (no default): the
    * running totals live in the checkpointed state store, and a
    * non-durable location (e.g. /tmp) means a host restart resets the
    * totals and the replace-upserts then overwrite the accumulated DB
    * values with small restarted ones.
    *
    * `groupId` empty ⇒ Spark generates the query's consumer group; set
    * it when broker ACLs require a known one. */
  final case class JobConfig(
      checkpointRoot: String,
      kafkaServers: String = "broker:29092",
      topic: String = "financial_transactions",
      groupId: String = "",
      startingOffsets: String = "latest",
      triggerMs: Long = 200L, // reference JDBC flush cadence (DataStreamJob.java:102)
      db: ConnConfig = ConnConfig("jdbc:postgresql://localhost:5432/postgres",
        "postgres", "postgres"))

  /** S1: Kafka source (`DataStreamJob.java:89-95`). Value-only consumption,
    * latest offsets — matching `OffsetsInitializer.latest()`.
    *
    * NOTE: requires the `spark-sql-kafka-0-10` connector on the runtime
    * classpath (standard on any Spark distribution with Kafka support;
    * NOT present in this offline build environment, where tests drive
    * the same query through MemoryStream / `fileSource`). */
  /** The exact reader options `kafkaSource` passes to the connector —
    * split out as a pure function so the wiring contract is testable
    * without a broker or the connector jar (KafkaContractSpec). What
    * remains unverified offline is only the connector's own behavior
    * (broker I/O, offset tracking), not our option plumbing. */
  def kafkaSourceOptions(cfg: JobConfig): Map[String, String] = {
    val base = Map(
      "kafka.bootstrap.servers" -> cfg.kafkaServers,
      "subscribe" -> cfg.topic,
      "startingOffsets" -> cfg.startingOffsets)
    if (cfg.groupId.nonEmpty) base + ("kafka.group.id" -> cfg.groupId) else base
  }

  def kafkaSource(spark: SparkSession, cfg: JobConfig): DataFrame =
    spark.readStream
      .format("kafka")
      .options(kafkaSourceOptions(cfg))
      .load()

  /** Connector-free source for local/offline runs: a directory of JSON
    * lines, one transaction per line — same `value: string` contract as
    * the Kafka source, so every downstream pipeline is source-agnostic. */
  def fileSource(spark: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream
      .format("text")
      .options(options) // e.g. maxFilesPerTrigger to bound micro-batch size
      .load(dir)
      .select(col("value"))

  // ---- pure pipeline builders (source-agnostic: batch, Memory, Kafka) ----

  /** D1: bytes → typed transactions, invalid records dropped. */
  def parse(raw: DataFrame): DataFrame =
    Json.validTransactions(Json.parseTransactions(raw))

  /** Raw transactions projected to the DB column names
    * (`DataStreamJob.java:318-331`). */
  def rawForDb(tx: DataFrame): DataFrame =
    tx.select(
      col("transactionId").as("transaction_id"),
      col("productId").as("product_id"),
      col("productName").as("product_name"),
      col("productCategory").as("product_category"),
      col("productPrice").as("product_price"),
      col("productQuantity").as("product_quantity"),
      col("productBrand").as("product_brand"),
      col("totalAmount").as("total_amount"),
      col("currency").as("currency"),
      col("customerId").as("customer_id"),
      col("transactionDate").as("transaction_date"),
      col("paymentMethod").as("payment_method"))

  // ---- the fan-out query ----

  /** One row of the composite-key fan-in stream: each parsed
    * transaction contributes one `raw` passthrough row plus three agg
    * contributions (`cat` / `day` / `mon`). Calendar fields are
    * computed with the SAME Spark SQL expressions the batch aggregates
    * use (`to_date` / `month` / `year`), so values match bit-for-bit. */
  final case class FanRow(kind: String, key: String, date: java.sql.Date,
      year: Int, amount: Double, tx: Option[Transaction])

  /** Running state per (kind, key): first-seen date/year + total —
    * exactly the reference's reduce state (first-seen quirks included:
    * category pins its first date, month its first year). */
  final case class FanState(date: java.sql.Date, year: Int, total: Double)

  /** Updated row emitted per touched (kind, key) per micro-batch. */
  final case class FanOut(kind: String, key: String, date: java.sql.Date,
      year: Int, total: Double, tx: Option[Transaction])

  /** Explode parsed transactions into the composite-key stream. */
  def fanIn(tx: DataFrame): Dataset[FanRow] = {
    val spark = tx.sparkSession
    import spark.implicits._
    tx.select(
        struct(tx.columns.map(col): _*).as("_1"),
        to_date(col("transactionDate")).as("_2"),
        month(col("transactionDate")).as("_3"),
        year(col("transactionDate")).as("_4"),
        col("productCategory").as("_5"),
        col("totalAmount").as("_6"),
        col("transactionId").as("_7"))
      .as[(Transaction, java.sql.Date, Int, Int, String, Double, String)]
      .flatMap { case (t, d, m, y, cat, amt, tid) => Seq(
        FanRow("raw", tid, d, y, amt, Some(t)),
        FanRow("cat", cat, d, y, amt, None),
        FanRow("day", d.toString, d, y, amt, None),
        FanRow("mon", m.toString, d, y, amt, None))
      }
  }

  /** The single state operator: running totals for all three agg
    * families plus stateless raw passthrough, in one keyed shuffle.
    * Update-mode emission — only (kind, key) groups touched by the
    * batch emit, carrying the full running total — what the
    * replace-upsert needs to converge. */
  def fanState(rows: Dataset[FanRow]): Dataset[FanOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(r => (r.kind, r.key))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (k: (String, String), it: Iterator[FanRow],
            state: GroupState[FanState]) =>
          val (kind, key) = k
          if (kind == "raw") {
            // stateless passthrough: no state entry is ever written, so
            // per-transaction keys cost nothing beyond the shuffle
            it.map(r => FanOut("raw", key, r.date, r.year, r.amount, r.tx))
          } else {
            var st = state.getOption.orNull
            it.foreach { r =>
              st = if (st == null) FanState(r.date, r.year, r.amount)
              else st.copy(total = st.total + r.amount)
            }
            state.update(st)
            Iterator.single(FanOut(kind, key, st.date, st.year, st.total, None))
          }
      }
  }

  /** Query name, and the checkpoint subdirectory under `checkpointRoot`. */
  private val queryName = "shared_source"

  /** Subdirectories an earlier version of this job wrote under
    * `checkpointRoot`, one per query when it ran one query per table. */
  private val perTableCheckpoints =
    Seq("raw_transactions", "sales_per_category", "sales_per_day", "sales_per_month")

  /** Refuse a checkpoint root written by the one-query-per-table job: its
    * running totals cannot be carried into this query's state, so
    * starting here would restart them from zero and the replace-upserts
    * would overwrite the accumulated DB totals with the small new ones. */
  private def requireFanOutCheckpoint(spark: SparkSession, root: String): Unit = {
    val dir = new Path(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = perTableCheckpoints.filter(n => fs.exists(new Path(dir, n)))
    require(old.isEmpty || fs.exists(new Path(dir, queryName)),
      s"checkpoint root $root holds the one-query-per-table layout " +
        s"(${old.mkString(", ")}) and no $queryName: its running totals " +
        "cannot be resumed, and starting afresh would overwrite the totals " +
        "in the database. Use a new checkpointRoot and rebuild the tables " +
        "by replaying the topic from its start (startingOffsets=earliest).")
  }

  /** Start the job's query with a custom per-batch sink — the seam specs
    * capture batches through. `sink(table, keys)(batchDf, batchId)` is
    * invoked once per table per micro-batch, the raw copy first. The
    * union of touched rows is PERSISTED once and all four tables are
    * written from it — re-evaluation of the batch frame (the
    * foreachBatch caveat) can never re-read the source. */
  def startWithSink(spark: SparkSession, cfg: JobConfig, source: DataFrame)(
      sink: (String, Seq[String]) => (DataFrame, Long) => Unit): StreamingQuery = {
    requireFanOutCheckpoint(spark, cfg.checkpointRoot)
    fanState(fanIn(parse(source))).toDF().writeStream
      .queryName(queryName)
      .outputMode("update")
      .option("checkpointLocation", s"${cfg.checkpointRoot}/$queryName")
      .trigger(Trigger.ProcessingTime(cfg.triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val df = batch.persist()
        try {
          sink("transactions", Seq("transaction_id"))(
            rawForDb(df.filter(col("kind") === "raw").select(col("tx.*"))),
            batchId)
          sink("sales_per_category", Seq("transaction_date", "category"))(
            df.filter(col("kind") === "cat").select(
              col("date").as("transaction_date"),
              col("key").as("category"),
              col("total").as("total_sales")), batchId)
          sink("sales_per_day", Seq("transaction_date"))(
            df.filter(col("kind") === "day").select(
              col("date").as("transaction_date"),
              col("total").as("total_sales")), batchId)
          sink("sales_per_month", Seq("year", "month"))(
            df.filter(col("kind") === "mon").select(
              col("year"),
              col("key").cast("int").as("month"),
              col("total").as("total_sales")), batchId)
        } finally {
          df.unpersist()
          ()
        }
      }
      .start()
  }

  /** Start the full job: DDL once at startup (replacing the reference's
    * no-op DDL "sinks" W1–W4), then the one streaming query, upserting
    * all four tables per micro-batch into Postgres. Conflict targets are
    * the table PKs (`DataStreamJob.java:280,293,307`); the first-seen
    * date/year is pinned per key, so each update hits the same row. */
  def startAll(spark: SparkSession, cfg: JobConfig,
      source: Option[DataFrame] = None): Seq[StreamingQuery] = {
    JdbcUpsert.runDdl(cfg.db)
    Seq(startWithSink(spark, cfg, source.getOrElse(kafkaSource(spark, cfg))) {
      (table, keys) => (batch, _) => JdbcUpsert.upsert(batch, table, keys, cfg.db)
    })
  }
}
