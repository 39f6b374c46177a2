package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-profile aggregates (SURVEY §2.5 A1-A6): the stats the reference
  * computes to drive imputation and rebalancing decisions (notebook cells
  * 15-25, 43).
  *
  * All of these are single-pass partial+final hash aggregations — at 100 TB
  * they cost one scan with map-side combine, no wide rows ever materialize.
  */
object ColumnStats {

  private def isNullish(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => c.isNull || c.isNaN
    case _ => c.isNull
  }

  /** A1 — null count per column, one row out (notebook `df.isna().sum()`). */
  def nullCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    val dts = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(cols.map(c =>
      sum(when(isNullish(col(c), dts(c)), 1L).otherwise(0L)).as(c)): _*)
  }

  /** A2 — exact distinct count per column in one pass (notebook
    * `nunique()`), one `count_distinct` per column.
    */
  def distinctCounts(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(c => count_distinct(col(c)).as(c)): _*)

  /** A3 — most frequent value of a column, ties broken by smallest value
    * (deterministic, unlike pandas' arbitrary `.mode().iloc[0]`).
    */
  def modeOf(df: DataFrame, c: String): DataFrame =
    df.groupBy(col(c)).count()
      .orderBy(desc("count"), asc(c))
      .limit(1)

  /** A6 — value histogram (notebook `value_counts()`). */
  def histogram(df: DataFrame, c: String): DataFrame =
    df.groupBy(col(c)).count().orderBy(desc("count"), asc(c))
}
