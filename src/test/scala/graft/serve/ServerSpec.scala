package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.DecisionTreeClassificationModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.ml.{ModelCache, ModelEntry, ModelRegistry, MultiModel,
  TrainingCache}

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

  private val header = "l_quantity,l_extendedprice,l_discount,l_tax\n"

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
    // a bad parameter is a 400 naming the parameter and its value
    for ((query, msg) <- Seq(
        "use_smote=maybe" -> "invalid use_smote: maybe",
        "smote_strategy=adasyn" -> "invalid smote_strategy: adasyn",
        "max_depth=deep" -> "invalid max_depth: deep",
        "model_type=LOG_REG&max_iter=1.5" -> "invalid max_iter: 1.5",
        "model_type=RAND_FOREST&n_estimators=ten" ->
          "invalid n_estimators: ten")) {
      val (c, b) = post(s"/train/?$query")
      assert(c === 400, s"$query: $b")
      assert(b.contains(msg), s"$query: $b")
    }
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

  test("smoke test_score is the trace over the total of the /metrics/ " +
      "confusion, and MultiModel.accuracy of the saved model") {
    val (tc, tb) = post("/train/?model_type=D_TREE&name=one_score")
    assert(tc === 200, tb)
    val entry = registry.latest("one_score").get
    val (sc, sb) = post("/predict/?mode=smoke&name=one_score")
    assert(sc === 200, sb)
    val (mc, mb) = post("/metrics/?name=one_score")
    assert(mc === 200, mb)
    val cm = new com.fasterxml.jackson.databind.ObjectMapper().readTree(mb)
      .get("confusion")
    val cells = (0 until cm.size).map(i => cm.get(i))
      .map(c => (c.get(0).asDouble, c.get(1).asDouble, c.get(2).asLong))
    import scala.math.Ordering.Double.TotalOrdering
    assert(cells === cells.sortBy(c => (c._1, c._2)))
    val (_, te) = MultiModel.split(labeled())
    assert(cells.map(_._3).sum === te.count())
    val trace = cells.collect { case (l, p, n) if l == p => n }.sum
    val fromMetrics = trace.toDouble / cells.map(_._3).sum
    assert(testScore(sb) === fromMetrics)
    assert(fromMetrics ===
      MultiModel.accuracy(PipelineModel.load(entry.path), te))
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
      // each query value is decoded once: an encoded %, & or + is part
      // of the name
      val (ec, eb) = at("/predict/?mode=smoke&name=%25zz")
      assert(ec === 404, eb)
      assert(eb.contains("unknown model %zz"))
      val (ac, ab) = at("/metrics/?name=x%26y")
      assert(ac === 404, ab)
      assert(ab.contains("unknown model x&y"))
      val (tc, tb) = at("/train/?model_type=D_TREE&name=a%2Bb")
      assert(tc === 200, tb)
      val reg = new ModelRegistry(s"$dir/registry.jsonl")
      assert(reg.latest("a+b").isDefined)
      assert(reg.latest("a b").isEmpty)
    } finally fresh.stop()
  }

  test("each registry entry is loaded once: a second upload body runs at " +
      "most one Spark job; a retrain under the same name is served by " +
      "the new entry") {
    val (tc, tb) = post("/train/?model_type=D_TREE&name=load_once")
    assert(tc === 200, tb)
    val first = registry.latest("load_once").get
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

  test("a same-name retrain evicts the superseded entry's model from " +
      "ModelCache") {
    assert(post("/train/?model_type=D_TREE&name=evict_me")._1 === 200)
    val first = registry.latest("evict_me").get
    assert(ModelCache.holds(spark, first.path))
    assert(post("/predict/?mode=smoke&name=evict_me")._1 === 200)
    assert(post("/train/?model_type=D_TREE&max_depth=3&name=evict_me")._1
      === 200)
    val second = registry.latest("evict_me").get
    assert(!ModelCache.holds(spark, first.path))
    assert(ModelCache.holds(spark, second.path))
  }

  test("an upload miss on a just-trained entry runs no Spark job") {
    assert(post("/train/?model_type=D_TREE&name=no_jobs")._1 === 200)
    val ((c, b), jobs) = jobsDuring(post("/predict/?mode=upload&name=no_jobs",
      header + "10,1000.0,0.05,0.02\n25,,0.1,0.08\n"))
    assert(c === 200, b)
    assert(b.contains("\"from_cache\":false"), b)
    assert(jobs === 0)
  }

  test("four concurrent smoke misses on one entry run one confusion pass") {
    for (n <- Seq("pass_warm", "pass_one", "pass_four"))
      assert(post(s"/train/?model_type=D_TREE&name=$n")._1 === 200)
    // the first smoke of the suite also fills the held-out split's cache
    assert(post("/predict/?mode=smoke&name=pass_warm")._1 === 200)
    val ((c1, _), onePass) =
      jobsDuring(post("/predict/?mode=smoke&name=pass_one"))
    assert(c1 === 200)
    assert(onePass > 0)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val smoke = new Callable[(Int, String)] {
        def call(): (Int, String) = post("/predict/?mode=smoke&name=pass_four")
      }
      val (replies, jobs) = jobsDuring((1 to 4).map(_ => pool.submit(smoke))
        .map(_.get(120, TimeUnit.SECONDS)))
      assert(replies.forall(_._1 == 200), replies)
      assert(replies.map(r => testScore(r._2)).distinct.size === 1)
      assert(jobs === onePass)
    } finally pool.shutdown()
  }

  test("/predict/ on a just-trained entry runs no ReadWrite load jobs") {
    assert(post("/train/?model_type=D_TREE&name=no_load")._1 === 200)
    val (_, sites) = jobSitesDuring {
      for (mode <- Seq("smoke", "db"))
        assert(post(s"/predict/?mode=$mode&name=no_load")._1 === 200)
      assert(post("/predict/?mode=upload&name=no_load",
        header + "10,1000.0,0.05,0.02\n")._1 === 200)
      assert(post("/metrics/?name=no_load")._1 === 200)
    }
    assert(sites.nonEmpty)
    assert(!sites.exists(_.contains("ReadWrite")), sites)
    // a load from disk does show up as ReadWrite jobs
    val (_, loadSites) = jobSitesDuring(
      PipelineModel.load(registry.latest("no_load").get.path))
    assert(loadSites.exists(_.contains("ReadWrite")), loadSites)
  }

  test("stop() ends the handler threads and unpersists the cached split") {
    // its own frame, so its split is not the cache entry of the suite's
    // server
    val data = () => labeled().where(col("l_quantity") > 0)
    val s = new GraftServer(spark, data, featureCols,
      Files.createTempDirectory("graft-stop").toString)
    s.start()
    assert(post("/train/?model_type=GNB&use_smote=false&name=stop_me",
      port = s.boundPort)._1 === 200)
    assert(post("/predict/?mode=smoke&name=stop_me",
      port = s.boundPort)._1 === 200)
    val (_, te) = MultiModel.split(data())
    assert(te.storageLevel.useMemory)
    // a hit: the server's fit input
    val in = TrainingCache.entry(spark, s.heldOut, featureCols, None)(
      fail("the server's fit input was not cached"))
    assert(in.matrix.storageLevel.useMemory)
    def handlers = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith(s.threadPrefix))
    assert(handlers.nonEmpty)
    s.stop()
    assert(handlers.filter(_.isAlive).isEmpty, handlers)
    assert(!te.storageLevel.useMemory)
    assert(!in.matrix.storageLevel.useMemory)
    var rebuilt = false
    TrainingCache.entry(spark, s.heldOut, featureCols, None) {
      rebuilt = true; data()
    }
    assert(rebuilt, "TrainingCache still held the stopped server's entry")
    TrainingCache.remove(spark, s.heldOut, featureCols)
  }

  test("a second /train/ of a strategy reuses the first one's fit input: " +
      "one TrainingCache build, and none of fitInput's jobs") {
    val s = new GraftServer(spark, () => labeled(), featureCols,
      Files.createTempDirectory("graft-reuse").toString)
    s.start()
    try {
      def builds = TrainingCache.buildLog.keys
        .count(_._2.startsWith(s"${s.heldOut}:"))
      val ((c1, b1), first) = jobSitesDuring(
        post("/train/?model_type=D_TREE&name=reuse_a", port = s.boundPort))
      assert(c1 === 200, b1)
      assert(builds === 1)
      // of fitInput's jobs only the checkpoint is named by its site: AQE
      // submits the aggregate's stages from threads of its own
      def checkpoint(site: String) = site.contains("localCheckpoint at")
      assert(first.exists(checkpoint), first)
      val ((c2, b2), second) = jobSitesDuring(
        post("/train/?model_type=GNB&name=reuse_b", port = s.boundPort))
      assert(c2 === 200, b2)
      assert(!second.exists(checkpoint), second)
      // a D_TREE again runs the first call's jobs less the fit input's
      // and less one: the first call's training-accuracy pass also
      // materialized the fit input's persisted matrix, in a job of its own
      val ((c3, b3), third) = jobSitesDuring(
        post("/train/?model_type=D_TREE&name=reuse_c", port = s.boundPort))
      assert(c3 === 200, b3)
      assert(builds === 1)
      val (tr, te) = MultiModel.split(labeled())
      val (in, fitInputJobs) = jobsDuring(MultiModel.fitInput(tr,
        featureCols, Some("oversample"), Some(te)))
      in.release()
      assert(fitInputJobs > 0)
      assert(third.size + fitInputJobs + 1 === first.size,
        s"${first.mkString("\n")}\n--\n${third.mkString("\n")}")
    } finally s.stop()
  }

  test("the D_TREE /train/ serves equals MultiModel.train's on the same " +
      "split, with oversample, smote and without SMOTE") {
    type Dt = DecisionTreeClassificationModel
    def shape(m: PipelineModel) = m.stages.last.asInstanceOf[Dt]
      .toDebugString.replaceAll("uid=dtc_[0-9a-f]+", "uid=<norm>")
    val (tr, _) = MultiModel.split(labeled())
    for ((query, useSmote, strategy) <- Seq(
        ("smote_strategy=oversample", true, "oversample"),
        ("smote_strategy=smote", true, "smote"),
        ("use_smote=false", false, "oversample"))) {
      val name = s"same_${strategy}_$useSmote"
      val (c, b) = post(s"/train/?model_type=D_TREE&$query&name=$name")
      assert(c === 200, b)
      val served = MultiModel.load(registry.latest(name).get.path)
      val offline = MultiModel.train(tr, featureCols, "D_TREE",
        useSmote = useSmote, smoteStrategy = strategy).pipeline
      assert(shape(served) === shape(offline), query)
    }
  }
}
