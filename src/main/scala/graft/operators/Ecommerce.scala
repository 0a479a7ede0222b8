package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's three analytical dataflows, re-expressed as pure
  * `DataFrame => DataFrame` transforms (SURVEY.md §2 M1–M3/K1–K3/R1–R3).
  *
  * Each is a declarative `groupBy().agg()` — Catalyst plans a partial
  * (map-side) HashAggregate, a shuffle on the grouping key, and a final
  * HashAggregate, all inside whole-stage codegen. That is exactly the
  * shape that scales: at 100 TB the shuffle moves only one partial row
  * per (partition × key), not the raw data. The same functions run
  * unchanged in batch and in Structured Streaming `foreachBatch` /
  * `outputMode("update")` (the streaming analogue of the reference's
  * per-record running emission, reference `DataStreamJob.java:133-136`).
  *
  * "Faithful" variants reproduce the reference's partial-key quirks
  * (SURVEY.md §2 #2–#3) — key by category/month ONLY with a first-seen
  * carried column. `first()` is arrival-order-dependent in both engines,
  * so the faithful variants are for semantics parity and streaming use;
  * the deterministic variants are the oracle-checked surface.
  */
object Ecommerce {

  /** Pipeline B (faithful): running sales per category, carrying the
    * first-seen transaction date. Reference: map `DataStreamJob.java:123-133`,
    * keyBy(category) `:133`, reduce `:133-136`. `first()` is non-deterministic
    * in batch; in streaming update mode it matches Flink's first-seen exactly.
    */
  def salesPerCategoryFaithful(tx: DataFrame, tsCol: String, catCol: String,
      amtCol: String): DataFrame =
    tx.groupBy(col(catCol).as("category"))
      .agg(
        first(to_date(col(tsCol))).as("transaction_date"),
        sum(col(amtCol)).as("total_sales"))
      .select("transaction_date", "category", "total_sales")

  /** Pipeline B (deterministic surface): total sales per category. */
  def salesPerCategory(tx: DataFrame, catCol: String, amtCol: String): DataFrame =
    tx.groupBy(col(catCol).as("category"))
      .agg(sum(col(amtCol)).as("total_sales"))

  /** Pipeline B with the composite key the reference's Postgres PK implies
    * (`DataStreamJob.java:307` PK (transaction_date, category)) — the
    * "intended" semantics the reference's keyBy(category) misses. */
  def salesPerCategoryDay(tx: DataFrame, tsCol: String, catCol: String,
      amtCol: String): DataFrame =
    tx.groupBy(
        to_date(col(tsCol)).as("transaction_date"),
        col(catCol).as("category"))
      .agg(sum(col(amtCol)).as("total_sales"))

  /** Pipeline C/day: total sales per calendar day. Reference: map
    * `DataStreamJob.java:138-150` (manual Y/M/D → Date reconstruction ≡
    * `to_date`), keyBy(date) `:150`, reduce `:150-153`. */
  def salesPerDay(tx: DataFrame, tsCol: String, amtCol: String): DataFrame =
    tx.groupBy(to_date(col(tsCol)).as("transaction_date"))
      .agg(sum(col(amtCol)).as("total_sales"))

  /** Pipeline C/month (faithful): keyed by month-of-year ONLY — Jan-2023 and
    * Jan-2024 share one accumulator, `year` is first-seen (reference
    * `DataStreamJob.java:160-163` vs PK (year, month) at `:280`). */
  def salesPerMonthFaithful(tx: DataFrame, tsCol: String, amtCol: String): DataFrame =
    tx.groupBy(month(col(tsCol)).as("month"))
      .agg(first(year(col(tsCol))).as("year"), sum(col(amtCol)).as("total_sales"))
      .select("year", "month", "total_sales")

  /** Pipeline C/month with the intended composite (year, month) key. */
  def salesPerMonth(tx: DataFrame, tsCol: String, amtCol: String): DataFrame =
    tx.groupBy(year(col(tsCol)).as("year"), month(col(tsCol)).as("month"))
      .agg(sum(col(amtCol)).as("total_sales"))

  /** Pipeline C/month (faithful, deterministic projection): month-only key
    * with the first-seen `year` column dropped, so results are
    * arrival-order independent and oracle-checkable. */
  def salesPerMonthOfYear(tx: DataFrame, tsCol: String, amtCol: String): DataFrame =
    tx.groupBy(month(col(tsCol)).as("month"))
      .agg(sum(col(amtCol)).as("total_sales"))

  /** Batch expression of the raw-copy pipeline's upsert end-state
    * (W5, `DataStreamJob.java:237-272`): `ON CONFLICT (pk) DO UPDATE` with
    * at-least-once delivery converges to "latest write per key". Expressed
    * as a ranked-window dedup; the shuffle is one exchange on the key, and
    * the window never materializes more than a partition at a time.
    * Tie-break columns make the result deterministic under equal order keys.
    */
  def latestPerKey(df: DataFrame, keyCols: Seq[String], orderCol: String,
      tieBreakCols: Seq[String] = Nil): DataFrame = {
    val ordering: Seq[Column] =
      (col(orderCol) +: tieBreakCols.map(col)).map(_.desc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ordering: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
