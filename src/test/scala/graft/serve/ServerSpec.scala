package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.ml.{ModelCache, ModelEntry, ModelRegistry, MultiModel}

/** Functional API tests mirroring the reference's live-API suite
  * (/root/reference/src/tests/test_functional.py:22-112): train each model
  * type over HTTP, invalid type → 400, predict smoke with cache hit on the
  * second call, plus the upload mode the reference ships broken.
  */
class ServerSpec extends SparkSpec {

  private val featureCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private def labeled(): DataFrame =
    Tables.load(spark, sf0001, "lineitem").select(
      when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("label"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"),
      col("l_tax"))

  private val modelDir = Files.createTempDirectory("graft-serve").toString
  private lazy val registry = new ModelRegistry(s"$modelDir/registry.jsonl")

  private lazy val server = {
    val s = new GraftServer(spark, () => labeled(), featureCols, modelDir)
    s.start()
    s
  }

  private val http = HttpClient.newHttpClient()

  private def post(path: String, body: String = "",
      port: => Int = server.boundPort): (Int, String) = {
    val req = HttpRequest.newBuilder()
      .uri(new URI(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def testScore(body: String): Double =
    """"test_score":([0-9.Ee-]+)""".r.findFirstMatchIn(body)
      .getOrElse(fail(s"no test_score in $body")).group(1).toDouble

  /** Spark jobs started while `body` runs (listener bus drained on both
    * sides, so no earlier job leaks in and no job of `body` is missed).
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBridge.drain(sc)
      (r, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  private def loadsOf(entry: ModelEntry): Int =
    ModelCache.buildLog.keys.count(_._2 == entry.path)

  test("POST /train/ trains each model type (functional suite parity)") {
    for (mt <- Seq("LOG_REG", "GNB", "D_TREE")) {
      val (code, body) = post(
        s"/train/?model_type=$mt&max_iter=5&n_estimators=3&name=m_$mt")
      assert(code === 200, body)
      assert(body.contains("\"model_trained\":true"))
      assert(body.contains("\"model_saved\":true"))
    }
  }

  test("POST /train/ with invalid model type returns 400") {
    val (code, body) = post("/train/?model_type=NOT_A_MODEL")
    assert(code === 400)
    assert(body.contains("invalid model type"))
  }

  test("POST /predict/ smoke scores in [0,1]; second call hits cache") {
    post("/train/?model_type=D_TREE&name=cache_test")
    val (c1, b1) = post("/predict/?mode=smoke&name=cache_test")
    assert(c1 === 200, b1)
    assert(b1.contains("\"from_cache\":false"))
    assert(b1.contains("test_score"))
    val (c2, b2) = post("/predict/?mode=smoke&name=cache_test")
    assert(c2 === 200)
    assert(b2.contains("\"from_cache\":true"))
  }

  test("POST /predict/ upload mode scores CSV rows (fixed vs reference)") {
    post("/train/?model_type=D_TREE&name=upload_test")
    // a malformed body is a 400 naming the row and the column
    val header = "l_quantity,l_extendedprice,l_discount,l_tax\n"
    val cases = Seq(
      (header + "10,1000.0,0.05,0.02\n25,50000.0,0.1,0.08\n", 200,
        "\"n_scored\":2"),
      // an empty cell is a missing value the model's imputer fills
      (header + "10,,0.05,0.02\n25,50000.0,0.1,\n", 200, "\"n_scored\":2"),
      // column order follows the header, not the model
      ("l_tax,l_discount,l_extendedprice,l_quantity\n0.02,0.05,1000.0,10\n",
        200, "\"n_scored\":1"),
      ("", 400, "no data rows"),
      (header, 400, "no data rows"),
      (header + "10,1000.0,0.05,0.02\n25,50000.0,0.1\n", 400,
        "upload row 2: 3 cells, header has 4"),
      (header + "10,1000.0,0.05,0.02\n1,2,3,4\n7,abc,0.1,0.08\n", 400,
        "upload row 3, column l_extendedprice: not a number: 'abc'"))
    for ((csv, expectCode, expectText) <- cases) {
      val (code, body) = post("/predict/?mode=upload&name=upload_test", csv)
      assert(code === expectCode, s"$csv -> $body")
      assert(body.contains(expectText), s"$csv -> $body")
      if (code == 200) assert(body.contains("predictions"))
    }
  }

  test("POST /predict/ unknown mode returns 400") {
    post("/train/?model_type=D_TREE&name=mode_test")
    val (code, _) = post("/predict/?mode=bogus&name=mode_test")
    assert(code === 400)
  }

  test("GET-style /metrics/ returns confusion matrix for trained model") {
    post("/train/?model_type=D_TREE&name=metrics_test")
    val (code, body) = post("/metrics/?name=metrics_test")
    assert(code === 200, body)
    assert(body.contains("confusion"))
  }

  test("unknown or missing model is 404 on /predict/ and /metrics/; an " +
      "internal failure is 500") {
    val dir = Files.createTempDirectory("graft-serve-codes").toString
    val fresh = new GraftServer(spark, () => labeled(), featureCols, dir)
    fresh.start()
    try {
      def at(path: String) = post(path, port = fresh.boundPort)
      // no name and nothing trained yet
      assert(at("/predict/?mode=smoke")._1 === 404)
      assert(at("/metrics/")._1 === 404)
      val (pc, pb) = at("/predict/?mode=upload&name=no_such_model")
      assert(pc === 404, pb)
      assert(pb.contains("unknown model no_such_model"))
      val (mc, mb) = at("/metrics/?name=no_such_model")
      assert(mc === 404, mb)
      assert(mb.contains("unknown model no_such_model"))
      // a registered entry whose model cannot be loaded is the server's
      // failure, not the client's
      new ModelRegistry(s"$dir/registry.jsonl").append(ModelEntry(
        "broken", s"$dir/missing-model", "D_TREE", Map.empty, Map.empty,
        System.currentTimeMillis()))
      assert(at("/metrics/?name=broken")._1 === 500)
      assert(at("/predict/?mode=smoke&name=broken")._1 === 500)
    } finally fresh.stop()
  }

  test("each registry entry is loaded once: a second upload body runs at " +
      "most one Spark job; a retrain under the same name is served by " +
      "the new entry") {
    val (tc, tb) = post("/train/?model_type=D_TREE&name=load_once")
    assert(tc === 200, tb)
    val first = registry.latest("load_once").get
    val header = "l_quantity,l_extendedprice,l_discount,l_tax\n"
    val (c1, b1) = post("/predict/?mode=upload&name=load_once",
      header + "10,1000.0,0.05,0.02\n")
    assert(c1 === 200, b1)
    val ((c2, b2), jobs) = jobsDuring(post(
      "/predict/?mode=upload&name=load_once", header + "25,50000.0,0.1,0.08\n"))
    assert(c2 === 200, b2)
    assert(b2.contains("\"from_cache\":false"), b2)
    assert(jobs <= 1, s"second upload ran $jobs Spark jobs")
    assert(post("/metrics/?name=load_once")._1 === 200)
    assert(loadsOf(first) === 1, ModelCache.buildLog.keys)

    val (rc, rb) = post(
      "/train/?model_type=LOG_REG&max_iter=5&name=load_once")
    assert(rc === 200, rb)
    val second = registry.latest("load_once").get
    assert(second.path != first.path)
    assert(second.modelType === "LOG_REG")
    val (sc, sb) = post("/predict/?mode=smoke&name=load_once")
    assert(sc === 200, sb)
    assert(sb.contains("\"from_cache\":false"), sb)
    val (_, te) = MultiModel.split(labeled())
    assert(testScore(sb) ===
      MultiModel.accuracy(MultiModel.load(second.path), te))
    assert(loadsOf(second) === 1)
    assert(loadsOf(first) === 1)
  }
}
