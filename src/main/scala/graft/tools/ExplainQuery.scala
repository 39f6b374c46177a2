// Plan-audit helper: print the formatted physical plan of registered
// queries. Run with:
//   sbt "runMain graft.tools.ExplainQuery <regex> [sfDir]"
package graft.tools

import graft.SparkEntry

object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val pattern = args.headOption.getOrElse(".*").r
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    // the session Bench and Verify run, so the printed plans are theirs
    val (spark, queries) = SparkEntry.measurement("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    queries.filter(q => pattern.findFirstIn(q._1).isDefined)
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        val df = fn(spark, dir)
        // GRAFT_EXPLAIN_RUN=1: execute first, then print the FINAL
        // adaptive plan — AQE's runtime exchange reuse (stage cache) is
        // invisible in the static plan, so reuse audits need this mode.
        // The execution must drive df's OWN QueryExecution: df.write
        // AND df.foreach/rdd each create a fresh QueryExecution, leaving
        // df.queryExecution un-executed (isFinalPlan=false — observed on
        // 4.1.2) — exactly the un-reused plan this mode exists to see
        // past. collect() is the Dataset action that drives
        // df.queryExecution in place; this tool only audits gate-scale
        // outputs, so the driver-side result is small.
        if (sys.env.get("GRAFT_EXPLAIN_RUN").contains("1")) {
          df.collect()
          println(df.queryExecution.executedPlan.toString)
        } else df.explain("formatted")
      }
    spark.stop()
  }
}
