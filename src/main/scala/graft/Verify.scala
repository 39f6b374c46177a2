package graft
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // same session and SPARK_GRAFT_ONLY selection as Bench; under
    // SPARK_GRAFT_PROFILE=cluster the dump checks the cluster profile's
    // CORRECTNESS (not just liveness) — oracle results must be identical
    // under 2000-partition Kryo-serialized execution or the profile is
    // wrong
    val (spark, selected) = SparkEntry.measurement("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      System.err.println(s"[verify] running $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    spark.stop()
  }

  /** `SparkEntry.oracleSql` as a JSON object string. Shared by the verify
    * dump and by OracleLintSpec (which feeds it to tools/lint_oracles.py
    * so a HUGEINT-typed oracle fails `sbt test`, not the driver's gate).
    */
  def oracleJson: String =
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(SparkEntry.oracleSql)
}
