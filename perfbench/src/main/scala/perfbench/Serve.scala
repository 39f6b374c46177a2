package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.cli.Jobs
import graft.ml.{ModelRegistry, MultiModel}
import graft.serve.GraftServer

/** The serving half of `pipeline`: an in-process GraftServer over the
  * pipeline's model directory and modeling frame, serving the model the
  * chain just saved, driven by a closed loop: `clients` threads each send
  * their next request from the shared seeded stream as soon as the
  * previous reply arrives, until the stream is used up.
  *
  * Predictions name the pipeline's model; each /train/ saves under a
  * fresh name and clears the response cache. Re-saving an existing name
  * overwrites the model directory while concurrent /predict/ and
  * /metrics/ requests load it, and those then fail with missing files;
  * that race is a known server defect this workload does not measure.
  */
object Serve {

  final case class Call(kind: String, body: Int, status: Int, ms: Double,
      fromCache: Boolean, reply: Map[String, Any], error: String,
      start: Long)

  def run(ctx: Harness.Ctx, report: Harness.Report,
      out: mutable.Map[String, Any], modelDir: String, model: String): Unit = {
    val spark = ctx.spark
    val cfg = ctx.in.get("serve")
    val bodies = Harness.jsonStrings(cfg.get("bodies"))
    val stream = cfg.get("requests").elements().asScala
      .map(n => (n.get(0).asText, n.get(1).asInt)).toIndexedSeq
    val timeout = Duration.ofSeconds(cfg.get("timeout_s").asLong)
    val server = new GraftServer(spark, () => Jobs.labeled(spark, ctx.dataDir),
      Jobs.FeatureCols, modelDir, port = 0)
    server.start()
    try {
      val http = HttpClient.newBuilder()
        .version(HttpClient.Version.HTTP_1_1).connectTimeout(timeout).build()
      val base = s"http://127.0.0.1:${server.boundPort}"
      def call(kind: String, body: Int): Call = {
        val req = kind match {
          case "upload" => HttpRequest.newBuilder(URI.create(
              s"$base/predict/?mode=upload&name=$model"))
            .POST(HttpRequest.BodyPublishers.ofString(bodies(body)))
          case "smoke" => HttpRequest.newBuilder(URI.create(
              s"$base/predict/?mode=smoke&name=$model"))
            .POST(HttpRequest.BodyPublishers.noBody())
          case "metrics" => HttpRequest.newBuilder(URI.create(
              s"$base/metrics/?name=$model")).GET()
          case "train" => HttpRequest.newBuilder(URI.create(
              s"$base/train/?model_type=D_TREE&name=d_tree_$body"))
            .POST(HttpRequest.BodyPublishers.noBody())
        }
        val t0 = System.nanoTime()
        try {
          val resp = http.send(req.timeout(timeout).build(),
            HttpResponse.BodyHandlers.ofString())
          val ms = (System.nanoTime() - t0) / 1e6
          val reply = Harness.mapper.readValue(resp.body(), classOf[Map[String, Any]])
          Call(kind, body, resp.statusCode(), ms,
            reply.get("from_cache").contains(true), reply,
            if (resp.statusCode() / 100 == 2) null else resp.body().take(200), t0)
        } catch {
          case NonFatal(e) =>
            Call(kind, body, -1, (System.nanoTime() - t0) / 1e6, false, Map.empty,
              s"${e.getClass.getSimpleName}: ${e.getMessage}", t0)
        }
      }
      val next = new AtomicInteger(0)
      val calls = new java.util.concurrent.ConcurrentLinkedQueue[Call]()
      val t0 = System.nanoTime()
      ctx.trace.span("serve", "serve") {
        val clients = (0 until cfg.get("clients").asInt).map { _ =>
          val t = new Thread(() => {
            var i = next.getAndIncrement()
            while (i < stream.size) {
              val (kind, body) = stream(i)
              calls.add(call(kind, body))
              i = next.getAndIncrement()
            }
          })
          t.start(); t
        }
        clients.foreach(_.join())
      }
      val wall = Harness.seconds(t0)
      val all = calls.asScala.toSeq.sortBy(_.start)
      report.attempted += all.size
      all.filter(_.status / 100 != 2).foreach(c =>
        report.fail(s"${c.kind} status ${c.status}: ${c.error}"))
      out("serve_s") = wall
      out("calls") = all.map(c => Map("kind" -> c.kind, "status" -> c.status,
        "ms" -> c.ms, "from_cache" -> c.fromCache))
      check(ctx, report, all, bodies, modelDir, model, cfg, out)
    } finally server.stop()
  }

  /** Outside the timed region: every reply for one upload body must carry
    * the same predictions (a cache hit equals the miss that filled it),
    * smoke and metrics replies must agree with each other, and for a sample
    * of bodies the served predictions must equal an offline
    * MultiModel.score of the rows.
    */
  private def check(ctx: Harness.Ctx, report: Harness.Report, calls: Seq[Call],
      bodies: Seq[String], modelDir: String, model: String,
      cfg: com.fasterxml.jackson.databind.JsonNode,
      out: mutable.Map[String, Any]): Unit = {
    val ok = calls.filter(_.status == 200)
    val uploads = ok.filter(_.kind == "upload")
      .groupBy(_.body).map { case (b, cs) => b -> cs.map(_.reply("predictions")) }
    uploads.foreach { case (b, ps) =>
      if (ps.distinct.size != 1) report.fail(s"body $b got differing predictions")
    }
    Seq("smoke" -> "test_score", "metrics" -> "confusion").foreach { case (k, f) =>
      val distinct = ok.filter(_.kind == k).map(_.reply(f)).distinct
      if (distinct.size > 1) report.fail(s"$k replies disagree: $distinct")
    }
    val served = MultiModel.load(new ModelRegistry(s"$modelDir/registry.jsonl")
      .latest(model).get.path)
    val schema = StructType(Jobs.FeatureCols.map(StructField(_, DoubleType)))
    var checked = 0
    cfg.get("check_bodies").elements().asScala.map(_.asInt).foreach { b =>
      uploads.get(b).foreach { ps =>
        val lines = bodies(b).split("\n").filter(_.trim.nonEmpty)
        val header = lines.head.split(",").map(_.trim)
        val rows = lines.tail.toSeq.map { l =>
          val v = l.split(",").map(_.trim.toDouble)
          Row.fromSeq(Jobs.FeatureCols.map(c => v(header.indexOf(c))))
        }
        val offline = MultiModel.score(served,
            ctx.spark.createDataFrame(rows.asJava, schema))
          .select("prediction").collect().map(_.getDouble(0)).toSeq
        val online = ps.head.asInstanceOf[Seq[Any]].map(_.toString.toDouble)
        if (online != offline) report.fail(s"body $b: served != offline score")
        checked += 1
      }
    }
    out("offline_checked") = checked
  }
}
