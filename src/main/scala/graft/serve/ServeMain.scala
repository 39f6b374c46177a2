package graft.serve

import graft.cli.Jobs
import graft.io.RedisSink

/** Container entry point for the serving layer — the engine's analogue of
  * the reference's web service in its two-service compose stack
  * (/root/reference/docker-compose.yml:1 — web+redis). Everything is
  * wired from environment variables so the same artifact runs in
  * compose, k8s, or bare `sbt runMain`:
  *
  *   GRAFT_PORT        HTTP port (default 8080)
  *   GRAFT_SF_DIR      training parquet dir (default /root/testdata/sf0.01)
  *   GRAFT_MODEL_DIR   model + registry dir (default /tmp/graft_models)
  *   GRAFT_REDIS_HOST  optional — enables the Redis prediction cache
  *   GRAFT_REDIS_PORT  (default 6379 when host is set)
  *   SPARK_MASTER      Spark master (default local[SPARK_GRAFT_CPUS])
  *   SPARK_GRAFT_CPUS  local[] parallelism and shuffle partitions
  *                     (default: the host's cores)
  *
  * See DEPLOY.md for the compose recipe and CI notes.
  */
object ServeMain {
  def main(args: Array[String]): Unit = {
    val port = sys.env.getOrElse("GRAFT_PORT", "8080").toInt
    val sfDir = sys.env.getOrElse("GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val modelDir = sys.env.getOrElse("GRAFT_MODEL_DIR", "/tmp/graft_models")
    val redis = RedisSink.endpointFromEnv
    val spark = Jobs.session("graft-serve")
    spark.sparkContext.setLogLevel("WARN")
    // same modeling frame as the CLI jobs and gated queries — one
    // definition (Jobs.labeled), three consumers
    val server = new GraftServer(spark,
      () => Jobs.labeled(spark, sfDir), Jobs.FeatureCols,
      modelDir, port, redis)
    server.start()
    val log = graft.core.Log.logger("graft.serve", show = true)
    log.info(s"graft-serve listening on :${server.boundPort} " +
      s"(data=$sfDir, models=$modelDir, redis=${redis.getOrElse("off")})")
    // block until the JVM is signalled; HttpServer threads are non-daemon
    // but parking the main thread keeps lifecycle explicit
    val latch = new java.util.concurrent.CountDownLatch(1)
    sys.addShutdownHook { server.stop(); spark.stop(); latch.countDown() }
    latch.await()
  }
}
