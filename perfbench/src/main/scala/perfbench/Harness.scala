package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** JVM side of the benchmark: runs one workload on inputs that run.py
  * generated from the seed, and writes what it measured and checked to a
  * JSON file. Usage: `Harness <inputs.json> <result.json>`.
  *
  * Every file it writes goes under the inputs' `tmp_dir`. Each workload
  * records `setup_end_ms`, the wall-clock time its set-up ended, from
  * which run.py derives the set-up time since the JVM was launched.
  */
object Harness {

  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The operations a workload attempted and the failures it saw. */
  final class Report {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    @volatile var attempted = 0L
    def fail(msg: String): Unit = synchronized { failures += msg }
  }

  final case class Ctx(spark: SparkSession, in: JsonNode, dataDir: String,
      tmp: String, trace: Trace)

  def main(args: Array[String]): Unit = {
    val in = mapper.readTree(new File(args(0)))
    val workload = in.get("workload").asText
    val tmp = in.get("tmp_dir").asText
    val cores = in.get("cores").asInt
    val trace = new Trace(in.get("trace").asBoolean, in.get("run_id").asText)
    val builder = GraftSession.configure(SparkSession.builder()
        .master(s"local[$cores]").appName(s"perfbench-$workload"))
      .config("spark.local.dir", s"$tmp/spark-local")
    // shuffle partitions = cores, as graft.Bench and ServeMain set them
    val spark = builder.config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
    if (workload == "sweep") GraftSession.tuneScanSplits(spark)
    spark.sparkContext.setLogLevel("ERROR")
    trace.attach(spark.sparkContext, spark)
    val ctx = Ctx(spark, in, in.get("data_dir").asText, tmp, trace)
    val report = new Report
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    try {
      workload match {
        case "sweep" => Sweep.run(ctx, report, out)
        case "pipeline" => Pipeline.run(ctx, report, out)
        case other => sys.error(s"unknown workload $other")
      }
      out("heap_retained_mb") = heapRetainedMb()
      trace.drain()
      if (trace.enabled) out("trace") = trace.dump()
    } finally {
      out("attempted") = report.attempted
      out("failures") = report.failures.toSeq
      Files.write(Paths.get(args(1)),
        mapper.writeValueAsBytes(out), java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
        java.nio.file.StandardOpenOption.WRITE)
      spark.stop()
    }
    // the server under test leaves non-daemon worker threads behind
    System.exit(0)
  }

  /** Heap in use after full collections, in MiB. */
  def heapRetainedMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def jsonStrings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
}
