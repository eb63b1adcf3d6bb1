package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.functions._
import graft.functions.ExactSum
import graft.sources.Tables

/** Core OLAP queries — the batch query surface of the engine (SURVEY §2 B).
  *
  * Oracle-parity rules used throughout:
  *  - money/double aggregates accumulate exactly ([[exactSum]]:
  *    order-independent, bit-identical between engines), then cast back
  *    to DOUBLE;
  *  - every query ends with a fully deterministic ORDER BY.
  */
object Olap {

  /** Decimal-exact sum of an expression, returned as double: the double of
    * [[exactSum]]. Rows are rounded to integer units (in double arithmetic,
    * error < 2^-8 unit, when more than 2^-6 from a tie) and summed as longs,
    * exact up to 2^42 rows per group, so the result is identical no matter
    * how Spark partitions the data — required for oracle hash-match and
    * good hygiene on a 1000-executor cluster. */
  def dsum(e: Column, scale: Int = 6): Column =
    exactSum(e, scale).cast("double")

  /** `sum(e.cast("decimal(25,scale)"))` — its DECIMAL(35,scale) value and
    * type, nulls and errors — without a BigDecimal per row in a grouped
    * sum ([[graft.functions.ExactSum]]). */
  def exactSum(e: Column, scale: Int): Column =
    column(ExactSum(expression(e), scale).toAggregateExpression())

  /** Row `e` as a LONG count of 10^-scale units: the value, nulls and errors
    * of `CAST(CAST(e AS DECIMAL(25,scale)) * 10^scale AS BIGINT)`, the
    * units [[exactSum]] adds. */
  def units(e: Column, scale: Int): Column = column(ExactSum.units(expression(e), scale))

  /** Pricing summary (TPC-H Q1 shape): wide aggregation with partial
    * (map-side) aggregation — one shuffle on a tiny key space. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir).lineitem
    l.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity"), 2).as("sum_qty"),
        dsum(col("l_extendedprice"), 2).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
          .as("sum_charge"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(25,6))) AS DOUBLE) AS sum_charge,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin
}
