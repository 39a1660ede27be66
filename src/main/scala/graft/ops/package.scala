package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared conventions for every declared query (SURVEY.md §5.3):
  * money math in DECIMAL(18,2) cast to DOUBLE only after aggregation;
  * every float output rounded; integer-valued outputs normalized to
  * BIGINT so Spark parquet schemas match the DuckDB oracle's result
  * types; total-order ORDER BY in every query.
  */
package object ops {
  val D18_2: DecimalType = DecimalType(18, 2)
  val D18_6: DecimalType = DecimalType(18, 6)
  val D28_15: DecimalType = DecimalType(28, 15)

  /** cast to DECIMAL(18,2) — apply BEFORE summing money. */
  def dec2(c: Column): Column = c.cast(D18_2)

  /** round(cast(sum(cast(c AS DECIMAL(18,2))) AS DOUBLE), 2) */
  def moneySum2(c: Column): Column = round(sum(dec2(c)).cast(DoubleType), 2)

  /** Cross-engine-stable average: exact decimal sum -> double / count.
    * (Spark's avg(DECIMAL) rounds to scale+4 internally which can
    * diverge from DuckDB's double average at the rounding knife-edge.)
    */
  def decAvg(c: Column, scale: Int): Column =
    round(sum(dec2(c)).cast(DoubleType) / count(lit(1)), scale)

  /** Spark ints where DuckDB yields BIGINT (rank, year, length, ...). */
  def asLong(c: Column): Column = c.cast(LongType)

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Tables(spark, sfDir, name)

  /** Materialize + truncate lineage: incremental operator state is
    * consumed by the NEXT advance too, and without a cut each version
    * would replan the whole history (the Iterate/label-prop
    * discipline). In a stored deployment this is the write-back to the
    * state tables. */
  private[ops] def stabilize(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** A query program: (session, sfDir) => result DataFrame. */
  type Q = (SparkSession, String) => DataFrame
}
