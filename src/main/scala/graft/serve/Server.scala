package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.eval.Metrics
import graft.io.RedisSink
import graft.ml.{ModelCache, ModelEntry, ModelRegistry, MultiModel}

/** The reference's FastAPI serving layer re-expressed on the JDK HTTP
  * server (zero extra dependencies): `POST /train/` and `POST /predict/`
  * with a response cache (reference /root/reference/src/app.py:37-140).
  *
  * Deliberate fixes over the reference (SURVEY §2.12):
  *   - one long-lived SparkSession and a cached prepared DataFrame shared
  *     across requests — the reference re-reads and re-fits the world per
  *     request (train.py:26-114);
  *   - each registry entry is loaded once per session (through
  *     ModelCache) and shared by `/predict/` and `/metrics/` — the
  *     reference re-reads the model per request (predict.py:99-125);
  *   - `upload` mode actually works (app.py:124 calls a method that does
  *     not exist);
  *   - no CLI-argv parsing inside the HTTP path (predict.py:100);
  *   - registry is append-only JSONL, not racy INI rewrites.
  *
  * Status codes: 404 for an unknown or missing model name, 400 for a bad
  * request (unknown mode or model type, malformed upload body), 500 for
  * anything else.
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

  // the reference rebuilds this per request; we prepare once and reuse
  private lazy val prepared: (DataFrame, DataFrame) = {
    val (tr, te) = MultiModel.split(trainData())
    (tr.cache(), te.cache())
  }

  private val uploadSchema =
    StructType(featureCols.map(StructField(_, DoubleType)))

  // Send every reply without waiting on Nagle's algorithm: a reply is
  // written as headers then body, and without TCP_NODELAY the body waits
  // for the client's delayed ACK, about 40 ms. The JDK reads this
  // property once, when the first HttpServer is created.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.setExecutor(Executors.newFixedThreadPool(4))

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

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
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

  /** The entry's model, loaded once per session. The tag carries the
    * entry's creation time, so a retrain under the same name (a new
    * entry at a new path) is a new load, never the old model.
    */
  private def loaded(entry: ModelEntry): PipelineModel =
    ModelCache.fitted(spark, entry.path, s"load@${entry.createdAtMs}") {
      MultiModel.load(entry.path)
    }.asInstanceOf[PipelineModel]

  route("/train/") { ex =>
    val p = queryParams(ex)
    val modelType = p.getOrElse("model_type", "D_TREE")
    if (!graft.ml.Trainers.ModelTypes.contains(modelType.toUpperCase))
      throw new HttpError(400, s"invalid model type: $modelType")
    val (tr, _) = prepared
    val t = MultiModel.train(tr, featureCols, modelType, p,
      useSmote = p.getOrElse("use_smote", "true").toBoolean,
      smoteStrategy = p.getOrElse("smote_strategy", "oversample"))
    val name = p.getOrElse("name", modelType.toLowerCase)
    MultiModel.save(t, modelDir, registry, name)
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
            val (_, te) = prepared
            Map("mode" -> "smoke",
              "test_score" -> MultiModel.accuracy(loaded(entry), te))
          case "db" =>
            val (_, te) = prepared
            val preds = MultiModel.score(loaded(entry), te)
            redis.foreach { case (h, rp) =>
              RedisSink.writeList(preds, "prediction", h, rp)
            }
            Map("mode" -> "db", "n_predictions" -> preds.count(),
              "sink" -> redis.map(_ => "redis").getOrElse("none"))
          case "upload" =>
            // the mode the reference 500s on (app.py:124): parse the CSV
            // rows in this process, score them in one Spark action
            val rows = parseUpload(uploadBody, featureCols)
            val predictions = MultiModel.score(loaded(entry),
                spark.createDataFrame(rows.asJava, uploadSchema))
              .select("prediction").collect().map(_.getDouble(0)).toSeq
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
    val (_, te) = prepared
    val cm = Metrics.confusion(
      MultiModel.score(loaded(entry), te)
        .select(col("label").cast("double").as("label"),
          col("prediction")))
      .collect().map(r => Seq(r.get(0), r.get(1), r.get(2)))
    Map("name" -> entry.name, "confusion" -> cm.toSeq)
  }

  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)
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
