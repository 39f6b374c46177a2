package graft.core

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("canonical session invariants hold (timezone, AQE, nanos)") {
    val spark = GraftSession.local(2, "graft-session-spec")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "4096")
    assert(
      spark.conf.get("spark.sql.codegen.useIdInClassName") === "false")
  }

  test("configure sets shuffle partitions to GraftSession.cpus; " +
      "clusterDefaults sets 2000") {
    // getOrCreate re-applies the runtime SQL configs to the shared session
    val spark = GraftSession.local(2, "graft-session-spec")
    assert(spark.conf.get("spark.sql.shuffle.partitions") ===
      GraftSession.cpus.toString)
    // create() builds a separate session over the shared context, so the
    // cluster profile's configs stay out of the other suites' session; it
    // also makes itself the active and default session, so restore those
    val cluster = GraftSession.clusterDefaults(SparkSession.builder()).create()
    try assert(cluster.conf.get("spark.sql.shuffle.partitions") === "2000")
    finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("clusterDefaults composes on any builder without clobbering") {
    // getOrCreate on a shared JVM returns the existing session, so only
    // the builder composition itself is assertable here; the applied
    // values are covered by the canonical invariants above
    val b = GraftSession.clusterDefaults(SparkSession.builder())
    assert(b != null)
  }
}
