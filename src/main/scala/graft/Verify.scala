package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_PROFILE=cluster: dump under clusterDefaults() so the
    // documented cluster profile's CORRECTNESS (not just liveness) is
    // checkable — oracle results must be identical under 2000-partition
    // Kryo-serialized execution or the profile is wrong
    val base = SparkSession.builder().master(s"local[$cpus]")
      .appName("graft-verify")
    val spark = (if (sys.env.get("SPARK_GRAFT_PROFILE").contains("cluster"))
        graft.core.GraftSession.benchScratch(
          graft.core.GraftSession.clusterDefaults(base))
      else graft.core.GraftSession.benchScratch(
        graft.core.GraftSession.configure(base))
        .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    graft.core.GraftSession.tuneScanSplits(spark)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration aid (same contract as Bench): SPARK_GRAFT_ONLY=<regex>
    // restricts the dump to matching names; unset in the driver invocation
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.findFirstIn(n).isDefined) }
      .foreach { case (name, fn) =>
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
