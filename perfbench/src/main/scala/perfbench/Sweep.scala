package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `sweep`: the panel's registry queries, serially, once cold and once
  * warm in the same order. Each query is materialized through the noop
  * sink as graft.Bench does; a CollectMetrics observer on that same
  * materialization yields its row count and an order-insensitive content
  * checksum, which run.py compares with the recorded values.
  */
object Sweep {

  /** Hash input for one column: floating values are narrowed to float so
    * last-bit differences in summation order do not change the checksum;
    * vectors become arrays; maps become sorted entry arrays.
    */
  def normalized(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(et, _) => transform(c, x => normalized(x, et))
    case st: StructType =>
      when(c.isNull, lit(null)).otherwise(struct(st.fields.toIndexedSeq.map(f =>
        normalized(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      normalized(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt),
          StructField("value", vt)))))
    case u: UserDefinedType[_] if u.getClass.getName.endsWith("VectorUDT") =>
      normalized(org.apache.spark.ml.functions.vector_to_array(c),
        ArrayType(DoubleType))
    case _: UserDefinedType[_] => c.cast(StringType)
    case _ => c
  }

  def checksum(schema: StructType): Column = {
    val cols = schema.fields.toIndexedSeq.map(f =>
      normalized(col(s"`${f.name}`"), f.dataType))
    coalesce(sum(xxhash64(cols: _*).cast(DecimalType(38, 0))),
      lit(BigDecimal(0)).cast(DecimalType(38, 0)))
  }

  def run(ctx: Harness.Ctx, report: Harness.Report,
      out: mutable.Map[String, Any]): Unit = {
    val queries = ctx.in.get("sweep").get("queries").elements().asScala
      .map(n => (n.get(0).asText, n.get(1).asText)).toSeq
    val registry = SparkEntry.registry
    // Set-up runs one plain Spark job over a table, so the one-off costs of
    // a session's first scan, shuffle and code generation are paid here,
    // not by whichever query the seed puts first in the cold pass.
    ctx.spark.read.parquet(s"${ctx.dataDir}/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    out("setup_end_ms") = System.currentTimeMillis()
    val trace = ctx.trace
    // calibration only (record.py): clear graft's caches before every cold
    // query so each pays for, and reveals, the cache builds it needs
    val isolate = Option(ctx.in.get("sweep").get("isolate")).exists(_.asBoolean)
    val results = mutable.ArrayBuffer.empty[Map[String, Any]]
    // Named observations, read back through a listener. The Observation
    // object API is avoided on purpose: it instantiates the session's
    // ObservationManager, which is not serializable, and that breaks graft
    // queries whose fitted models hold a reference to the session.
    val observed = new java.util.concurrent.ConcurrentHashMap[String, Row]()
    ctx.spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.observedMetrics.foreach { case (k, r) => observed.put(k, r) }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    Seq("cold", "warm").foreach { pass =>
      trace.span(pass, "sweep") {
        queries.zipWithIndex.foreach { case ((name, module), i) =>
          if (isolate && pass == "cold") clearCaches()
          report.attempted += 1
          val before = ledger()
          val t0 = System.nanoTime()
          val row = Map("pass" -> pass, "query" -> name, "module" -> module,
            "start_ns" -> trace.rel(t0))
          try {
            val tag = s"perfbench_${pass}_$i"
            trace.span(name, s"queries.$module") {
              val df: DataFrame = registry(name).fn(ctx.spark, ctx.dataDir)
              df.observe(tag, count(lit(1)).as("rows"),
                  checksum(df.schema).as("checksum"))
                .write.format("noop").mode("overwrite").save()
            }
            val sec = Harness.seconds(t0)
            PerfbenchBridge.drainListeners(ctx.spark.sparkContext)
            val m = Option(observed.remove(tag)).getOrElse(
              sys.error(s"no observed metrics for $name"))
            results += row ++ Map("seconds" -> sec,
              "rows" -> m.getAs[Long]("rows"),
              "checksum" -> m.getAs[java.math.BigDecimal]("checksum").toString,
              "builds" -> newBuilds(before))
          } catch {
            case NonFatal(e) =>
              e.printStackTrace()
              val msg = String.valueOf(e.getMessage).take(300)
              results += row ++ Map("seconds" -> Harness.seconds(t0),
                "error" -> msg, "builds" -> newBuilds(before))
              report.fail(s"$pass $name threw: ${msg.take(200)}")
          }
        }
      }
    }
    out("queries") = results.toSeq
  }

  /** graft's public cache-build ledgers, as (cache, key) -> seconds. */
  private def ledger(): Map[(String, String), Double] =
    graft.core.FrameCache.buildLog.map { case ((_, k), s) => ("frame", k) -> s } ++
      graft.ml.ModelCache.buildLog.map { case ((_, k, tag), s) =>
        ("model", s"$k:$tag") -> s } ++
      graft.ml.TrainingCache.buildLog.map { case ((_, k, fc), s) =>
        ("training", s"$k:${fc.mkString("+")}") -> s }

  private def newBuilds(before: Map[(String, String), Double]): Seq[Map[String, Any]] =
    ledger().toSeq.filter { case (k, _) => !before.contains(k) }.sortBy(_._1)
      .map { case ((cache, key), s) => Map("cache" -> cache, "key" -> key, "s" -> s) }

  private def clearCaches(): Unit = {
    graft.core.FrameCache.clear()
    graft.ml.ModelCache.clear()
    graft.ml.TrainingCache.clear()
  }
}

/** Prints `<query>\t<module>` for every registered query, the module
  * named after its QueryModule object (EtlQueries → etl). record.py uses
  * it to list the queries it records.
  */
object ListQueries {
  def main(args: Array[String]): Unit =
    SparkEntry.modules.foreach { m =>
      val module = m.getClass.getSimpleName.stripSuffix("$")
        .stripSuffix("Queries").toLowerCase
      m.defs.keys.toSeq.sorted.foreach(q => println(s"$q\t$module"))
    }
}
