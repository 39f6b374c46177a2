package graft.io

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.multimodal.Multimodal

/** S1-S5 sources/sinks + multimodal plumbing. The Redis tests run against
  * an in-process fake RESP server (no redis binary in the container).
  */
class IoSpec extends SparkSpec {

  import spark.implicits._

  test("S1 csv source applies explicit schema + header trim, latin1") {
    val dir = Files.createTempDirectory("graft-csv").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/data.csv"),
      " Flow Duration,Flow Bytes/s, Label\n1.5,2.5,BENIGN\n3.5,,DDoS\n")
    val schema = StructType(Seq(
      StructField(" Flow Duration", DoubleType),
      StructField("Flow Bytes/s", DoubleType),
      StructField(" Label", StringType)))
    val df = Sources.csv(spark, s"$dir/data.csv", schema)
    assert(df.columns.toSeq === Seq("Flow Duration", "Flow Bytes/s", "Label"))
    assert(df.count() === 2)
    assert(df.filter(col("Flow Bytes/s").isNull).count() === 1)
  }

  test("S3 jsonDocs explodes X records and aligns y by position") {
    val dir = Files.createTempDirectory("graft-json").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/doc.json"),
      """{"X": [{"f1": 1.0, "f2": 2.0}, {"f1": 3.0, "f2": 4.0}],
        | "y": [1, 0]}""".stripMargin)
    val df = Sources.jsonDocs(spark, s"$dir/doc.json")
    val rows = df.orderBy("idx").collect()
    assert(rows.length === 2)
    assert(df.columns.toSet === Set("idx", "f1", "f2", "label"))
    assert(rows(0).getAs[Double]("f1") === 1.0)
    assert(rows(0).getAs[Long]("label") === 1L)
    assert(rows(1).getAs[Long]("label") === 0L)
  }

  test("S3 jsonDocs fails loudly on X/y length mismatch") {
    val dir = Files.createTempDirectory("graft-json-bad").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/doc.json"),
      """{"X": [{"f1": 1.0, "f2": 2.0}, {"f1": 3.0, "f2": 4.0}],
        | "y": [1]}""".stripMargin)
    val e = intercept[Exception] {
      Sources.jsonDocs(spark, s"$dir/doc.json").collect()
    }
    assert(e.getMessage != null)
  }

  test("columnar + text format round-trips: ORC and line-text preserve " +
      "data exactly") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val orcDir = Files.createTempDirectory("graft-orc").toString
    docs.write.mode("overwrite").orc(orcDir)
    val backOrc = spark.read.orc(orcDir)
    assert(backOrc.schema === docs.schema)
    assert(backOrc.orderBy("doc_id").collect().toSeq ===
      docs.orderBy("doc_id").collect().toSeq)
    // line-oriented text (the raw-corpus interchange format): one doc
    // per line; round-trip preserves count and content
    val txtDir = Files.createTempDirectory("graft-text").toString
    val lines = graft.core.Tables.load(spark, sf001, "documents")
      .select(concat_ws("", col("doc_id"), col("text")).as("value"))
    lines.write.mode("overwrite").text(txtDir)
    val backTxt = spark.read.text(txtDir)
      .select(
        split(col("value"), "").getItem(0).cast("long").as("doc_id"),
        split(col("value"), "").getItem(1).as("text"))
    assert(backTxt.count() === 500L)
    val orig = graft.core.Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), col("text"))
    assert(backTxt.join(orig, Seq("doc_id"))
      .filter(backTxt("text") =!= orig("text")).count() === 0L)
  }

  test("S2 csvWithIndex writes a dense 0-based index usable as rejoin key") {
    val dir = Files.createTempDirectory("graft-csvidx").toString + "/out"
    val df = Seq((30L, "c"), (10L, "a"), (20L, "b")).toDF("k", "v")
    Sinks.csvWithIndex(df, dir, Seq("k"))
    val back = spark.read.option("header", "true").csv(dir)
    val rows = back.orderBy("idx").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("0", "1", "2"))
    assert(rows.map(_.getString(2)).toSeq === Seq("a", "b", "c"))
  }

  test("S4 jsonPredictions writes single predictions document") {
    val dir = Files.createTempDirectory("graft-jsonp").toString + "/out"
    val df = Seq(1.0, 0.0, 1.0).toDF("prediction")
    Sinks.jsonPredictions(df, "prediction", dir)
    val back = spark.read.json(dir)
    val row = back.head()
    assert(row.getAs[Seq[Long]]("predictions") === Seq(1L, 0L, 1L))
    assert(row.getAs[String]("created_at").nonEmpty)
  }

  // ---- fake RESP server ---------------------------------------------------

  private def withFakeRedis[T](f: Int => T): T = {
    val server = new ServerSocket(0)
    val store = mutable.Map[String, mutable.Buffer[String]]()
    val kv = mutable.Map[String, String]()
    @volatile var running = true
    val t = new Thread(() => {
      while (running) {
        try {
          val s = server.accept()
          new Thread(() => {
            val in = new BufferedReader(
              new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
            val out = new PrintWriter(s.getOutputStream)
            try {
              var line = in.readLine()
              while (line != null) {
                if (line.startsWith("*")) {
                  val n = line.drop(1).toInt
                  val args = (1 to n).map { _ =>
                    in.readLine(); in.readLine() // $len, payload
                  }
                  args.head.toUpperCase match {
                    case "PING" => out.print("+PONG\r\n")
                    case "DEL" =>
                      store.remove(args(1)); kv.remove(args(1))
                      out.print(":1\r\n")
                    case "RPUSH" =>
                      val n = store.synchronized {
                        val buf = store.getOrElseUpdate(args(1),
                          mutable.Buffer.empty)
                        buf ++= args.drop(2)
                        buf.size
                      }
                      out.print(s":$n\r\n")
                    case "LRANGE" =>
                      val vs = store.getOrElse(args(1), mutable.Buffer.empty)
                      out.print(s"*${vs.size}\r\n")
                      vs.foreach(v => out.print(s"$$${v.length}\r\n$v\r\n"))
                    case "SET" =>
                      kv(args(1)) = args(2); out.print("+OK\r\n")
                    case "GET" =>
                      kv.get(args(1)) match {
                        case Some(v) => out.print(s"$$${v.length}\r\n$v\r\n")
                        case None => out.print("$-1\r\n")
                      }
                    case "EXISTS" =>
                      out.print(s":${if (kv.contains(args(1))) 1 else 0}\r\n")
                    case _ => out.print("-ERR unknown\r\n")
                  }
                  out.flush()
                }
                line = in.readLine()
              }
            } catch { case _: Throwable => () }
          }).start()
        } catch { case _: Throwable => () }
      }
    })
    t.setDaemon(true); t.start()
    try f(server.getLocalPort)
    finally { running = false; server.close() }
  }

  test("S5 RedisSink pushes predictions from executors; list reads back") {
    withFakeRedis { port =>
      val df = (1 to 100).map(i => i % 2).toDF("prediction")
        .repartition(4)
      RedisSink.writeList(df, "prediction", "127.0.0.1", port)
      val c = new RedisClient("127.0.0.1", port)
      try {
        val got = c.lrange("predictions")
        assert(got.size === 100)
        assert(got.map(_.toInt).sum === 50)
      } finally c.close()
    }
  }

  test("S6 Redis KV cache set/get/exists round-trip") {
    withFakeRedis { port =>
      val c = new RedisClient("127.0.0.1", port)
      try {
        assert(c.ping())
        assert(!c.exists("predict:smoke"))
        c.set("predict:smoke", """{"score": 0.97}""")
        assert(c.exists("predict:smoke"))
        assert(c.get("predict:smoke").contains("""{"score": 0.97}"""))
      } finally c.close()
    }
  }

  test("multimodal: media schema, batched decode, resize, frame sampling") {
    val docs = Seq((1L, "abcdef"), (2L, "xyz")).toDF("id", "payload")
      .withColumn("payload", col("payload").cast("binary"))
    val media = Multimodal.asMedia(docs, "id", "payload", "video")
    assert(media.schema.fieldNames.toSeq ===
      Seq("media_id", "media_type", "content", "meta"))
    val decoded = Multimodal.decodeBatched(media).collect()
    assert(decoded.map(_.getAs[Int]("n_bytes")).toSet === Set(6, 3))
    // non-image media types never get codec dimensions
    assert(decoded.forall(r =>
      r.isNullAt(r.fieldIndex("width")) && r.isNullAt(r.fieldIndex("height"))))
    // decode is deterministic
    val d2 = Multimodal.decodeBatched(media).collect()
    assert(decoded.map(_.toString).toSeq === d2.map(_.toString).toSeq)
    val frames = Multimodal.frameSample(media, stride = 7)
    val counts = frames.groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nFrames = media.select("media_id", "meta.n_frames").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    counts.foreach { case (id, n) =>
      assert(n === (nFrames(id) + 6) / 7)
    }
  }

  test("multimodal: batched decode handles nulls and batch boundaries") {
    val docs = (1L to 200L).map(i =>
        (i, if (i % 50 == 0) null // null payloads must yield null stats
            else s"payload-$i" * (i % 7 + 1).toInt))
      .toDF("id", "payload")
      .withColumn("payload", col("payload").cast("binary"))
    val media = Multimodal.asMedia(docs, "id", "payload", "image")
    val batched = Multimodal.decodeBatched(media, batchSize = 16)
      .collect().sortBy(_.getAs[Long]("media_id"))
    assert(batched.length === 200)
    batched.foreach { r =>
      val id = r.getAs[Long]("media_id")
      if (id % 50 == 0) assert(r.isNullAt(r.fieldIndex("n_bytes")))
      else {
        val expected = s"payload-$id".length * (id % 7 + 1).toInt
        assert(r.getAs[Int]("n_bytes") === expected)
        // text bytes are not a decodable image — codec must decline,
        // not throw or fabricate dimensions
        assert(r.isNullAt(r.fieldIndex("width")))
      }
    }
  }

  test("multimodal: real PNG decode via javax.imageio") {
    val media = Seq(
        (1L, "image", Multimodal.synthPng(20, 10, seed = 7L)),
        (2L, "image", Multimodal.synthPng(33, 47, seed = 2L)),
        (3L, "image", "not an image".getBytes("UTF-8")))
      .toDF("media_id", "media_type", "content")
    val rows = Multimodal.decodeBatched(media)
      .collect().sortBy(_.getAs[Long]("media_id"))
    // width/height come from the codec reading actual PNG bytes
    assert(rows(0).getAs[Int]("width") === 20)
    assert(rows(0).getAs[Int]("height") === 10)
    assert(rows(1).getAs[Int]("width") === 33)
    assert(rows(1).getAs[Int]("height") === 47)
    assert(rows(2).isNullAt(rows(2).fieldIndex("width")))
    // the synthetic PNG itself is deterministic (stable bytes → stable
    // downstream fingerprints)
    assert(Multimodal.synthPng(20, 10, 7L).toSeq ===
      Multimodal.synthPng(20, 10, 7L).toSeq)
  }

  test("multimodal: decode-bomb payload falls back instead of OOMing") {
    // a tiny payload whose PNG header declares 50000x50000 (~7.5 GB
    // decoded) — the defensive header probe must refuse it, not allocate
    val bomb = {
      val real = Multimodal.synthPng(4, 4, 1L)
      // IHDR width/height live at byte offsets 16-23; splice in huge dims
      val b = real.clone()
      val w = 50000; val h = 50000
      b(16) = (w >> 24).toByte; b(17) = (w >> 16).toByte
      b(18) = (w >> 8).toByte; b(19) = w.toByte
      b(20) = (h >> 24).toByte; b(21) = (h >> 16).toByte
      b(22) = (h >> 8).toByte; b(23) = h.toByte
      b
    }
    val media = Seq((1L, "image", bomb)).toDF(
      "media_id", "media_type", "content")
    val rows = Multimodal.decodeBatched(media).collect()
    assert(rows.length === 1)
    // byte stats still computed; codec dimensions refused
    assert(rows(0).getAs[Int]("n_bytes") === bomb.length)
    assert(rows(0).isNullAt(rows(0).fieldIndex("width")))
  }

  test("audio decode: real WAV parses via javax.sound; garbage degrades " +
      "to byte stats") {
    import spark.implicits._
    val wav = Multimodal.synthWav(nSamples = 2400, sampleRate = 12000,
      seed = 7L)
    val junk = Array.tabulate[Byte](128)(i => (i * 13).toByte)
    val media = Seq(
      (1L, "audio", wav), (2L, "audio", junk)).toDF(
      "media_id", "media_type", "content")
    val rows = Multimodal.decodeBatched(media).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    // codec-parsed header values, not synthesized metadata
    assert(rows(1L).getAs[Int]("sample_rate") === 12000)
    assert(rows(1L).getAs[Long]("n_samples") === 2400L)
    // junk: stats yes, codec fields null, no task failure
    assert(rows(2L).getAs[Int]("n_bytes") === 128)
    assert(rows(2L).isNullAt(rows(2L).fieldIndex("sample_rate")))
  }
}
