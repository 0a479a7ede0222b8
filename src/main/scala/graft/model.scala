package graft

import org.apache.spark.sql.types._

/** Data model of the engine.
  *
  * Mirrors the reference's fixed, code-declared schemas (see SURVEY.md §1.2):
  *   - input record `TransactionDTO` (reference
  *     `src/main/java/me/vuhoang/de/flink/sample/dto/TransactionDTO.java:8-21`)
  *   - the three aggregate shapes (`SalesPerCategoryDTO.java:10-14`,
  *     `SalesPerDayDTO.java:10-13`, `SalesPerMonthDTO.java:10-15`)
  *
  * Money is deliberately `Double`, not `BigDecimal`: the reference uses
  * `double` end-to-end (`TransactionDTO.java:13,16`, Postgres
  * `DOUBLE PRECISION`), and bit-parity with it requires `DoubleType`.
  */
final case class Transaction(
    transactionId: String,
    productId: String,
    productName: String,
    productCategory: String,
    productPrice: Double,
    productQuantity: Int,
    productBrand: String,
    totalAmount: Double,
    currency: String,
    customerId: String,
    transactionDate: java.sql.Timestamp,
    paymentMethod: String
)

/** Aggregate #1: running sales per product category
  * (reference `SalesPerCategoryDTO.java:10-14`). `transactionDate` carries the
  * first-seen date per category — the reference keys by category ONLY
  * (`DataStreamJob.java:133`) even though the target PK is (date, category).
  *
  * The three aggregate case classes are the documented typed contract of
  * the reference's output DTOs; the aggregations themselves are DataFrame
  * transforms (`operators/Ecommerce`) whose snake_case column schemas the
  * JdbcUpsert DDL pins — these classes exist for callers wanting typed
  * `Dataset` views, not as internal plumbing.
  */
final case class SalesPerCategory(
    transactionDate: java.sql.Date,
    category: String,
    totalSales: Double
)

/** Aggregate #2: running sales per calendar day
  * (reference `SalesPerDayDTO.java:10-13`). */
final case class SalesPerDay(transactionDate: java.sql.Date, totalSales: Double)

/** Aggregate #3: running sales per month-of-year
  * (reference `SalesPerMonthDTO.java:10-15`). The reference keys by month ONLY
  * (`DataStreamJob.java:160`), so `year` is first-seen per month bucket.
  */
final case class SalesPerMonth(year: Int, month: Int, totalSales: Double)

object Model {

  /** Explicit input schema for JSON binding — the Spark analogue of the
    * reference's Jackson binding (`JSONValueDeserializationSchema.java:21-23`).
    * Declared, not inferred: schema inference over a stream is both slow and
    * non-deterministic at 100 TB scale.
    */
  val transactionSchema: StructType = StructType(Seq(
    StructField("transactionId", StringType),
    StructField("productId", StringType),
    StructField("productName", StringType),
    StructField("productCategory", StringType),
    StructField("productPrice", DoubleType),
    StructField("productQuantity", IntegerType),
    StructField("productBrand", StringType),
    StructField("totalAmount", DoubleType),
    StructField("currency", StringType),
    StructField("customerId", StringType),
    StructField("transactionDate", TimestampType),
    StructField("paymentMethod", StringType)
  ))
}
