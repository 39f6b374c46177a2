package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's `DataMaker` re-expressed as stateless DataFrame
  * transformations (reference: /root/reference/src/preprocess.py:60-90,
  * /root/reference/src/predict.py:138).
  *
  * Everything here is a narrow (no-shuffle) projection/expression transform,
  * so Catalyst folds the whole chain into one whole-stage-codegen'd scan:
  * at 100 TB these ops cost one pass and prune the parquet scan to only the
  * referenced columns.
  */
object Preprocess {

  /** P1 — strip whitespace from every column name (raw CICIDS headers carry
    * leading spaces; reference preprocess.py:62). Schema-level rename: free.
    */
  def trimHeaders(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.trim): _*)

  /** P4 — CASE label derivation: benign value → 1, everything else → 0
    * (reference preprocess.py:84).
    */
  def deriveLabel(df: DataFrame, labelCol: String, benign: String,
      out: String = "state"): DataFrame =
    df.withColumn(out, when(col(labelCol) === benign, 1).otherwise(0))

  /** P5 — ±Infinity → null across the given numeric columns (reference
    * preprocess.py:85: `replace([inf,-inf], nan)`). NaN is normalized to
    * null too: pandas' NaN plays the null role, Spark distinguishes them.
    */
  def infToNull(df: DataFrame, cols: Seq[String]): DataFrame = {
    val fixed = df.schema.fields.map { f =>
      if (cols.contains(f.name))
        when(col(f.name).isNaN || abs(col(f.name)) === Double.PositiveInfinity,
          lit(null).cast(f.dataType)).otherwise(col(f.name)).as(f.name)
      else col(f.name)
    }
    df.select(fixed.toIndexedSeq: _*)
  }

  /** P2 — tolerant drop: ignore names not present (reference preprocess.py:88
    * `drop(..., errors='ignore')`).
    */
  def dropTolerant(df: DataFrame, drop: Seq[String]): DataFrame =
    df.drop(drop.filter(df.columns.contains): _*)

  /** P8 — conform a frame to a declared schema: keep matching columns (cast
    * to the declared type), fill missing ones with typed nulls, in declared
    * order (reference predict.py:138 `reindex(columns=...)`).
    */
  def conform(df: DataFrame, schema: StructType): DataFrame = {
    val cols = schema.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** P7 — rows that occur more than once (reference notebook cell 5
    * `df[df.duplicated()]`), as (row-values, count>1). Hash-partitioned
    * group-by on all columns: scales linearly, never all-pairs.
    */
  def duplicateRows(df: DataFrame): DataFrame =
    df.groupBy(df.columns.map(col).toIndexedSeq: _*)
      .count()
      .filter(col("count") > 1)
}
