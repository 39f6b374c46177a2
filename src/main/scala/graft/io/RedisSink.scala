package graft.io

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Minimal RESP (Redis serialization protocol) client over a plain socket —
  * zero dependencies, enough surface for the reference's usage: DEL /
  * RPUSH / LRANGE / SET / GET / EXISTS / PING
  * (/root/reference/src/predict.py:217-236, app.py:98-140).
  */
class RedisClient(host: String, port: Int, timeoutMs: Int = 5000)
    extends AutoCloseable {

  private val socket = new Socket()
  socket.connect(new InetSocketAddress(host, port), timeoutMs)
  socket.setSoTimeout(timeoutMs)
  private val out = new BufferedOutputStream(socket.getOutputStream)
  private val in = new BufferedInputStream(socket.getInputStream)

  def command(args: String*): Any = {
    val sb = new StringBuilder
    sb.append('*').append(args.length).append("\r\n")
    args.foreach { a =>
      val b = a.getBytes(StandardCharsets.UTF_8)
      sb.append('$').append(b.length).append("\r\n").append(a).append("\r\n")
    }
    out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
    out.flush()
    readReply()
  }

  private def readLine(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\r' && c != -1) { sb.append(c.toChar); c = in.read() }
    in.read() // \n
    sb.toString
  }

  private def readReply(): Any = in.read().toChar match {
    case '+' => readLine()
    case '-' => throw new RuntimeException(s"redis error: ${readLine()}")
    case ':' => readLine().toLong
    case '$' =>
      val n = readLine().toInt
      if (n < 0) null
      else {
        val buf = new Array[Byte](n)
        var off = 0
        while (off < n) {
          val r = in.read(buf, off, n - off)
          if (r < 0) throw new java.io.EOFException(
            s"redis connection closed mid-reply ($off/$n bytes)")
          off += r
        }
        in.read(); in.read() // trailing \r\n
        new String(buf, StandardCharsets.UTF_8)
      }
    case '*' =>
      val n = readLine().toInt
      if (n < 0) null else Seq.fill(n)(readReply())
    case other => throw new RuntimeException(s"unexpected RESP type: $other")
  }

  def ping(): Boolean = command("PING") == "PONG"
  def del(key: String): Unit = command("DEL", key)
  def rpush(key: String, values: Seq[String]): Unit =
    if (values.nonEmpty) command(("RPUSH" +: key +: values): _*)
  def lrange(key: String): Seq[String] =
    command("LRANGE", key, "0", "-1").asInstanceOf[Seq[Any]]
      .map(String.valueOf)
  def set(key: String, value: String): Unit = command("SET", key, value)
  def get(key: String): Option[String] =
    Option(command("GET", key)).map(String.valueOf)
  def exists(key: String): Boolean = command("EXISTS", key) == 1L

  override def close(): Unit = socket.close()
}

/** S5 — Redis prediction-list sink: DEL once from the driver, then each
  * partition RPUSHes its rows over its own connection in chunks
  * (reference predict.py:217-228's row loop, distributed). No
  * driver-side collect — the executor-parallel write is the point.
  */
object RedisSink {

  /** The Redis endpoint every main uses: `GRAFT_REDIS_HOST`, with
    * `GRAFT_REDIS_PORT` (default 6379); None when no host is set.
    */
  def endpointFromEnv: Option[(String, Int)] =
    sys.env.get("GRAFT_REDIS_HOST").map(h =>
      h -> sys.env.getOrElse("GRAFT_REDIS_PORT", "6379").toInt)

  def writeList(df: DataFrame, predictionCol: String, host: String,
      port: Int, key: String = "predictions", chunk: Int = 512): Unit = {
    val vals = df.select(col(predictionCol).cast("long").cast("string"))
    val c = new RedisClient(host, port)
    try c.del(key) finally c.close()
    vals.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val cli = new RedisClient(host, port)
        try rows.map(_.getString(0)).grouped(chunk)
          .foreach(g => cli.rpush(key, g.toSeq))
        finally cli.close()
      }
    }
  }

  /** S6 — response-cache helpers (driver-side concern in the engine, as in
    * the reference's app.py:98-140).
    */
  def cacheGet(host: String, port: Int, key: String): Option[String] = {
    val c = new RedisClient(host, port)
    try c.get(key) finally c.close()
  }

  def cacheSet(host: String, port: Int, key: String, value: String): Unit = {
    val c = new RedisClient(host, port)
    try c.set(key, value) finally c.close()
  }
}
