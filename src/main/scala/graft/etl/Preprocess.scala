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

  /** F8 — mode-impute: fill nulls in each column with that column's most
    * frequent value (reference notebook cells 18, 39 `fillna(df.mode())`),
    * with the same deterministic tie-break as [[ColumnStats.modeOf]]
    * (highest count, then smallest value — numeric order for numeric
    * columns, lexicographic otherwise).
    *
    * ONE pass for any number of columns: melt each row into (column,
    * value) structs, hash-aggregate counts with map-side combine, pick
    * each column's winner over the tiny aggregated frame. The reference's
    * 85-column frame costs one scan here, not 85 (the per-column
    * `modeOf().collect()` loop this replaces ran N jobs for N columns).
    * Non-fillable column types (dates, arrays, …) are left untouched,
    * matching `na.fill`'s own contract.
    */
  def imputeMode(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dts = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val fillable = cols.filter(c => dts(c) match {
      case _: NumericType | StringType | BooleanType => true
      case _ => false
    })
    if (fillable.isEmpty) return df
    val melted = df.select(explode(array(fillable.map { c =>
      val ord = dts(c) match {
        case _: NumericType => col(c).cast(DoubleType)
        case _ => lit(null).cast(DoubleType)
      }
      struct(lit(c).as("name"), col(c).cast(StringType).as("vs"),
        ord.as("ord"))
    }: _*)).as("m"))
      .select(col("m.name").as("name"), col("m.vs").as("vs"),
        col("m.ord").as("ord"))
      .filter(col("vs").isNotNull)
    val counts = melted.groupBy("name", "vs", "ord")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("name")
      .orderBy(desc("cnt"), asc_nulls_last("ord"), asc("vs"))
    val winners = counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("name", "vs")
      .collect()
    val modes: Map[String, Any] = winners.map { r =>
      val c = r.getString(0)
      val v = r.getString(1)
      val typed: Any = dts(c) match {
        case ByteType | ShortType | IntegerType | LongType => v.toLong
        case FloatType | DoubleType | _: DecimalType => v.toDouble
        case BooleanType => v.toBoolean
        case _ => v
      }
      c -> typed
    }.toMap
    df.na.fill(modes)
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
