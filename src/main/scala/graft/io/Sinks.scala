package graft.io

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.QueryMetrics

/** S2/S4 — file sinks matching the reference's persisted artifacts. */
object Sinks {

  /** S2 — CSV with an explicit index column (reference
    * `to_csv(..., index=True)`, /root/reference/src/preprocess.py:106-107).
    * The index is the persisted rejoin key for split X/y files (SURVEY
    * §2.3): deterministic dense row numbers ordered by the given key
    * columns.
    *
    * The dense index is minted by a per-partition-count prefix sum
    * (`zipWithIndex`: one lightweight count pass over the sorted shuffle
    * output, then local offsets) — every partition numbers its rows in
    * parallel. No single-task global window; the only global step is the
    * range-partitioned sort itself.
    */
  def csvWithIndex(df: DataFrame, path: String, orderCols: Seq[String])
      : Unit = {
    val sorted = df.orderBy(orderCols.map(col): _*)
    val schema = StructType(
      StructField("idx", LongType, nullable = false) +: sorted.schema.fields)
    val indexed = sorted.rdd.zipWithIndex()
      .map { case (r, i) => Row.fromSeq(i +: r.toSeq) }
    df.sparkSession.createDataFrame(indexed, schema)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }

  /** Plain parquet sink — the engine's preferred format (columnar,
    * predicate-pushdown-able, splittable).
    */
  def parquet(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** [[parquet]] that returns the number of rows it wrote, counted by the
    * write itself through a named `observe`, so no second pass over `df`
    * runs just to count it. The `Observation` API is avoided: it attaches
    * a non-serializable manager to the session, which breaks later
    * closures that capture the session.
    */
  def parquetCounted(df: DataFrame, path: String): Long = {
    val name = "graft_rows_" + java.util.UUID.randomUUID.toString.replace("-", "")
    QueryMetrics.executed(df.sparkSession)(_.observedMetrics.contains(name)) {
      parquet(df.observe(name, count(lit(1))), path)
    }.observedMetrics(name).getLong(0)
  }

  /** S4 — JSON predictions document
    * `{"predictions": [...], "created_at": ...}` (reference
    * /root/reference/src/predict.py:248-260). Collapses to a single JSON
    * doc like the reference's fallback file; predictions frames are
    * result-sized, not data-sized.
    */
  def jsonPredictions(df: DataFrame, predictionCol: String, path: String)
      : Unit = {
    df.agg(collect_list(col(predictionCol).cast("int"))
        .as("predictions"))
      .withColumn("created_at",
        date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ssX"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).json(path)
  }
}
