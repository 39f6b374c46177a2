package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.etl.Preprocess

/** S1/S3 — the reference's two data sources re-expressed Spark-first. */
object Sources {

  /** S1 — CICIDS-style CSV scan: header row, latin1 encoding, explicit
    * schema (never inferSchema: at 100 TB an inference pass is a wasted
    * full read and schema drift breaks plan stability), header whitespace
    * normalized (reference /root/reference/src/preprocess.py:103 + :62).
    */
  def csv(spark: SparkSession, path: String, schema: StructType,
      encoding: String = "latin1", trimHeaders: Boolean = true): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("encoding", normalizeEncoding(encoding))
      .schema(schema)
      .csv(path)
    if (trimHeaders) Preprocess.trimHeaders(df) else df
  }

  /** pandas' "latin1" alias → the charset name Spark 4 accepts. */
  private def normalizeEncoding(e: String): String =
    if (e.equalsIgnoreCase("latin1") || e.equalsIgnoreCase("latin-1"))
      "iso-8859-1"
    else e

  /** S3 — JSON scoring documents `{"X": [...], "y": [...]}`
    * (reference /root/reference/src/predict.py:131-135): multiline scan,
    * explode the X record array to rows, carry y positionally via the
    * paired index (Spark has no stable row order; the explicit index
    * replaces pandas' positional alignment — SURVEY §7.4).
    */
  def jsonDocs(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("multiLine", "true").json(path)
    if (raw.columns.contains("y")) {
      // zip X and y WITHIN each document before exploding: a join on a
      // bare posexplode index would cross-match rows and labels across
      // documents when the path holds more than one scoring doc. The
      // lengths must agree first — arrays_zip null-pads the short side,
      // which would silently emit partially-null training rows; a
      // malformed document fails loudly instead (the filter shape keeps
      // the assert from being pruned as an unused projection).
      raw.filter(assert_true(size(col("X")) === size(col("y")),
          format_string("jsonDocs: X/y length mismatch (%d vs %d)",
            size(col("X")), size(col("y")))).isNull)
        .select(posexplode(arrays_zip(col("X"), col("y")))
          .as(Seq("idx", "__z")))
        .select("idx", "__z.X.*", "__z.y")
        .withColumnRenamed("y", "label")
    } else
      raw.select(posexplode(col("X")).as(Seq("idx", "row")))
        .select(col("idx"), col("row.*"))
  }
}
