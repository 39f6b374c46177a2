package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.RedisSink
import graft.ml.{LocalScorer, ModelCache, ModelEntry, ModelRegistry,
  MultiModel, Smote, Trainers, TrainingCache}

/** The reference's FastAPI serving layer re-expressed on the JDK HTTP
  * server (zero extra dependencies): `POST /train/` and `POST /predict/`
  * with a response cache (reference /root/reference/src/app.py:37-140).
  *
  * Deliberate fixes over the reference (SURVEY §2.12):
  *   - one long-lived SparkSession, and the fit input of each rebalance
  *     strategy built once per server in TrainingCache, so a `/train/`
  *     after the first of its strategy fits only the classifier — the
  *     reference re-reads and re-fits the world per request
  *     (train.py:26-114);
  *   - each registry entry's model is read once per session through
  *     ModelCache (`MultiModel.load`), and a model `/train/` just fitted
  *     is served as fitted, with no read at all — the reference re-reads
  *     the model per request (predict.py:99-125);
  *   - smoke's `test_score` and `/metrics/` share one confusion pass per
  *     entry, kept next to the model in ModelCache and computed once
  *     however many requests ask for it at the same time;
  *   - a retrain under an existing name evicts the superseded entry's
  *     model and confusion from ModelCache for good: a request that
  *     resolved that entry just before the retrain is still answered,
  *     but leaves nothing of it held;
  *   - `upload` mode actually works (app.py:124 calls a method that does
  *     not exist), and scores its rows on the driver (LocalScorer): no
  *     Spark job, no query planning;
  *   - no CLI-argv parsing inside the HTTP path (predict.py:100);
  *   - registry is append-only JSONL, not racy INI rewrites.
  *
  * Status codes: 404 for an unknown or missing model name, 400 for a bad
  * request (unknown mode or model type, a `/train/` parameter of the
  * wrong type or value, malformed upload body), 500 for anything else.
  *
  * Cache: in-memory by default; Redis-backed (`predict:{mode}` keys, as in
  * app.py:98-140) when a redis endpoint is configured.
  */
class GraftServer(
    spark: SparkSession,
    trainData: () => DataFrame,
    featureCols: Seq[String],
    modelDir: String,
    port: Int = 0,
    redis: Option[(String, Int)] = None) {

  import GraftServer._

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val registry = new ModelRegistry(s"$modelDir/registry.jsonl")
  private val localCache = new ConcurrentHashMap[String, String]()
  @volatile private var lastModelName: Option[String] = None
  // names this server's held-out split in ModelCache's confusion entries
  // and its fit inputs in TrainingCache
  private[serve] val heldOut = Identifiable.randomUID("heldOut")

  // the held-out split smoke, db and /metrics/ score, cached once (and
  // unpersisted at stop)
  private lazy val test: DataFrame = MultiModel.split(trainData())._2.cache()

  // Send every reply without waiting on Nagle's algorithm: a reply is
  // written as headers then body, and without TCP_NODELAY the body waits
  // for the client's delayed ACK, about 40 ms. The JDK reads this
  // property once, when the first HttpServer is created.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  // the handler threads, named after this server
  private[serve] val threadPrefix = Identifiable.randomUID("graft-serve")
  private val handlers = Executors.newFixedThreadPool(4, {
    val n = new AtomicInteger(0)
    (r: Runnable) => new Thread(r, s"$threadPrefix-${n.incrementAndGet()}")
  })
  server.setExecutor(handlers)

  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: Map[String, Any])
      : Unit = {
    val bytes = mapper.writeValueAsString(body)
      .getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Register a handler whose `HttpError`s answer with their own status
    * and whose other failures answer 500.
    */
  private def route(path: String)(handle: HttpExchange => Map[String, Any])
      : Unit =
    server.createContext(path, (ex: HttpExchange) => {
      val (code, body) =
        try 200 -> handle(ex)
        catch {
          case e: HttpError => e.code -> Map("error" -> e.getMessage)
          case e: Throwable => 500 -> Map("error" -> e.getMessage)
        }
      respond(ex, code, body)
    })

  /** The query string's parameters, each key and value decoded once:
    * split the raw query first, so an encoded `&`, `=`, `+` or `%` stays
    * part of its value.
    */
  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  private def cacheGet(key: String): Option[String] = redis match {
    case Some((h, p)) => RedisSink.cacheGet(h, p, key)
    case None => Option(localCache.get(key))
  }

  private def cachePut(key: String, value: String): Unit = redis match {
    case Some((h, p)) => RedisSink.cacheSet(h, p, key, value)
    case None => localCache.put(key, value)
  }

  /** The registry entry a request names (`name`, else the last model
    * trained by this server); 404 when there is none.
    */
  private def resolve(p: Map[String, String]): ModelEntry = {
    val name = p.get("name").orElse(lastModelName)
      .getOrElse(throw new HttpError(404, "no trained model"))
    registry.latest(name)
      .getOrElse(throw new HttpError(404, s"unknown model $name"))
  }

  /** The entry's confusion counts over the held-out split, as
    * (label, prediction, n) sorted by label then prediction: the one
    * scoring pass behind smoke's `test_score` and `/metrics/`, run once
    * per entry through ModelCache.
    */
  private def confusion(entry: ModelEntry): Seq[(Double, Double, Long)] =
    ModelCache.confusion(spark, entry.path, heldOut) {
      import scala.math.Ordering.Double.TotalOrdering
      MultiModel.score(MultiModel.load(entry.path), test)
        .groupBy(col("label").cast("double").as("label"), col("prediction"))
        .count().collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSeq.sorted
    }

  route("/train/") { ex =>
    val p = queryParams(ex)
    def invalid(k: String) = throw new HttpError(400, s"invalid $k: ${p(k)}")
    val modelType = p.getOrElse("model_type", "D_TREE")
    if (!Trainers.ModelTypes.contains(modelType.toUpperCase))
      throw new HttpError(400, s"invalid model type: $modelType")
    val useSmote = p.get("use_smote")
      .fold(true)(_.toBooleanOption.getOrElse(invalid("use_smote")))
    val smoteStrategy = p.getOrElse("smote_strategy", "oversample")
    if (!Smote.Strategies.contains(smoteStrategy)) invalid("smote_strategy")
    Trainers.IntParams.filter(k => p.get(k).exists(_.toIntOption.isEmpty))
      .foreach(invalid)
    val in = TrainingCache.entry(spark, heldOut, featureCols,
      Option.when(useSmote)(smoteStrategy))(trainData())
    val t = MultiModel.fit(in, modelType, p)
    val name = p.getOrElse("name", modelType.toLowerCase)
    val superseded = registry.latest(name)
    MultiModel.save(t, modelDir, registry, name)
    superseded.foreach(e => ModelCache.evict(spark, e.path, heldOut))
    lastModelName = Some(name)
    localCache.clear()
    Map(
      "model_trained" -> true,
      "model_type" -> modelType,
      "model_saved" -> true,
      "train_accuracy" -> t.trainAccuracy)
  }

  route("/predict/") { ex =>
    val p = queryParams(ex)
    val mode = p.getOrElse("mode", "smoke")
    // upload bodies can only be read once — read before the cache probe
    val uploadBody =
      if (mode == "upload")
        new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      else ""
    // resolve the model BEFORE the cache probe: the key carries
    // everything the answer depends on — mode, resolved model name,
    // request body digest, and the registry entry's durable identity
    // (path + created_at). A retrain appends a new registry entry, so
    // its key can never alias a pre-retrain hit — and unlike a
    // process-local generation counter, this survives server restarts
    // against a persistent Redis cache.
    val entry = resolve(p)
    val cacheKey = s"predict:$mode:${entry.name}:" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"${entry.path}@${entry.createdAtMs}\n$uploadBody"
          .getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    cacheGet(cacheKey) match {
      case Some(hit) =>
        mapper.readValue(hit, classOf[Map[String, Any]]) +
          ("from_cache" -> true)
      case None =>
        val result: Map[String, Any] = mode match {
          case "smoke" =>
            val cm = confusion(entry)
            val correct = cm.collect { case (l, p, n) if l == p => n }.sum
            Map("mode" -> "smoke",
              "test_score" -> correct.toDouble / cm.map(_._3).sum)
          case "db" =>
            val preds = MultiModel.score(MultiModel.load(entry.path), test)
            redis.foreach { case (h, rp) =>
              RedisSink.writeList(preds, "prediction", h, rp)
            }
            Map("mode" -> "db", "n_predictions" -> preds.count(),
              "sink" -> redis.map(_ => "redis").getOrElse("none"))
          case "upload" =>
            // the mode the reference 500s on (app.py:124): parse the CSV
            // rows and score them in this process
            val predictions = LocalScorer.predict(MultiModel.load(entry.path),
              featureCols, parseUpload(uploadBody, featureCols))
            Map("mode" -> "upload", "n_scored" -> predictions.length,
              "predictions" -> predictions)
          case other =>
            throw new HttpError(400, s"unknown mode: $other")
        }
        cachePut(cacheKey, mapper.writeValueAsString(result))
        result + ("from_cache" -> false)
    }
  }

  route("/metrics/") { ex =>
    val entry = resolve(queryParams(ex))
    Map("name" -> entry.name,
      "confusion" -> confusion(entry).map { case (l, p, n) => Seq(l, p, n) })
  }

  def start(): Unit = server.start()

  /** Stop serving: close the listener, end the handler threads once their
    * requests are answered, unpersist the held-out split this server
    * cached and drop its fit inputs from TrainingCache.
    */
  def stop(): Unit = {
    server.stop(0)
    handlers.shutdown()
    if (!handlers.awaitTermination(60, TimeUnit.SECONDS))
      handlers.shutdownNow()
    test.unpersist()
    TrainingCache.remove(spark, heldOut, featureCols)
  }
}

object GraftServer {

  /** A request failure answered with `code` instead of 500. */
  private final class HttpError(val code: Int, msg: String)
      extends RuntimeException(msg)

  /** Parse an upload body into rows of `featureCols`, in that order. The
    * body is CSV without quoting: a header line naming the columns, then
    * one line per row; blank lines are skipped. An empty cell is a
    * missing value (null, filled by the model's imputer), as is a feature
    * the header does not name; columns that are not features are ignored.
    * A body without data rows, a row whose cell count differs from the
    * header's, or a non-numeric feature cell is a 400 naming the 1-based
    * data row and the column.
    */
  private def parseUpload(body: String, featureCols: Seq[String]): Seq[Row] = {
    val lines = body.split("\n").filter(_.trim.nonEmpty).toSeq
    if (lines.size < 2)
      throw new HttpError(400, "upload body has no data rows: expected a " +
        "header line and at least one row of CSV cells")
    val header = lines.head.split(",", -1).map(_.trim)
    val index = featureCols.map(header.indexOf(_))
    lines.tail.zipWithIndex.map { case (line, i) =>
      val cells = line.split(",", -1).map(_.trim)
      if (cells.length != header.length)
        throw new HttpError(400, s"upload row ${i + 1}: ${cells.length} " +
          s"cells, header has ${header.length}")
      Row.fromSeq(featureCols.zip(index).map {
        case (_, -1) => null
        case (_, j) if cells(j).isEmpty => null
        case (c, j) => cells(j).toDoubleOption.getOrElse(
          throw new HttpError(400, s"upload row ${i + 1}, column $c: " +
            s"not a number: '${cells(j)}'"))
      })
    }
  }
}
