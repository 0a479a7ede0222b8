package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Source/sink format surface beyond the driver's parquet: CSV, JSON
  * lines, and ORC write→read roundtrips must preserve values and
  * schema, and the columnar formats must keep predicate pushdown —
  * the interchange guarantees a user switching formats between jobs relies on.
  * (No avro connector jar ships in /opt/spark/jars — parquet, orc,
  * csv, json, text are the complete built-in format surface here.) */
class FormatRoundtripSpec extends SparkSpec {
  import spark.implicits._

  private def fixture: DataFrame = Seq(
    (1L, "alpha", 1.5, "2024-01-01 10:00:00"),
    (2L, "beta,with,commas", -2.0, "2024-01-02 11:30:00"),
    (3L, "quote\"and\nnewline", 0.0, "2024-01-03 12:45:00"),
    (4L, null.asInstanceOf[String], 9.25, "2024-01-04 23:59:59")
  ).toDF("id", "name", "score", "ts")
    .withColumn("ts", col("ts").cast("timestamp"))

  private def canon(df: DataFrame) =
    df.orderBy("id").collect().map(r => (r.getLong(0),
      Option(r.getString(1)), r.getDouble(2), r.getTimestamp(3))).toSeq

  private def tmp(p: String) = {
    val d = Files.createTempDirectory(p); d.toFile.deleteOnExit(); d.toString
  }

  test("CSV roundtrip: quoting, embedded newlines, nulls, timestamps") {
    val dir = tmp("fmt_csv")
    fixture.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .option("multiLine", "true") // the embedded-newline row
      .schema(fixture.schema).csv(dir)
    assert(canon(back) === canon(fixture))
  }

  test("JSON-lines roundtrip preserves values and declared schema") {
    val dir = tmp("fmt_json")
    fixture.write.mode("overwrite").json(dir)
    val back = spark.read.schema(fixture.schema).json(dir)
    assert(canon(back) === canon(fixture))
    // file sources force nullable=true; names and types must survive
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      fixture.schema.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("ORC roundtrip preserves values; filters push down like parquet") {
    val dir = tmp("fmt_orc")
    fixture.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(canon(back) === canon(fixture))
    val plan = back.filter(col("id") > 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,2"),
      s"ORC scan must push the id filter:\n$plan")
  }

  test("parquet → orc → csv chain ends value-identical (no lossy hop)") {
    val (p1, p2, p3) = (tmp("fmt_a"), tmp("fmt_b"), tmp("fmt_c"))
    fixture.write.mode("overwrite").parquet(p1)
    spark.read.parquet(p1).write.mode("overwrite").orc(p2)
    spark.read.orc(p2).write.mode("overwrite")
      .option("header", "true").csv(p3)
    val back = spark.read.option("header", "true")
      .option("multiLine", "true").schema(fixture.schema).csv(p3)
    assert(canon(back) === canon(fixture))
  }

  test("corrupt parquet file: loud by default, quarantined under ignoreCorruptFiles") {
    // a 100 TB lake WILL accrete truncated/garbage files (killed
    // writers, partial uploads); both failure responses must be
    // deliberate — loud abort (default: silent data loss is worse than
    // a failed job) or explicit skip-and-continue for the reads that
    // prefer availability. The JSONL source solves this with a
    // per-ROW quarantine (Json.readJsonlFiles); parquet's unit of
    // corruption is the FILE.
    val dir = tmp("fmt_corrupt")
    spark.range(0, 100).select(col("id")).write
      .mode("overwrite").parquet(s"$dir/t")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/t/part-99999-garbage.parquet"),
      "this is not a parquet file".getBytes("UTF-8"))
    val ex = intercept[Exception] {
      spark.read.schema("id BIGINT").parquet(s"$dir/t").count()
    }
    assert(ex.getMessage != null)
    val prev = spark.conf.getOption("spark.sql.files.ignoreCorruptFiles")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try {
      val n = spark.read.schema("id BIGINT").parquet(s"$dir/t").count()
      assert(n === 100L) // every valid row survives, garbage skipped
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.ignoreCorruptFiles", v)
      case None => spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
    }
  }
}
