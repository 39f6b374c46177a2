package graft.core

import graft.SparkEntry

/** `CodegenReuse <sfDir> <regex>`: in a fresh `local[2]` session, run the
  * registry queries whose names match the regex, sorted by name, through
  * the noop sink twice, and print one line per pass with the codegen
  * classes it compiled, in total and per query. CodegenReuseSpec runs it
  * in a child JVM: Spark sizes its JVM-wide class cache when the JVM
  * first generates code, which in the shared test JVM happened long ago.
  */
object CodegenReuse {
  def main(args: Array[String]): Unit = {
    val Array(dir, regex) = args
    val spark = GraftSession.local(2, "codegen-reuse")
    val names = SparkEntry.registry.keys.toSeq.sorted
      .filter(regex.r.findFirstIn(_).isDefined)
    try for (pass <- 1 to 2) {
      val perQuery = names.map { n =>
        val before = QueryMetrics.compiles()
        SparkEntry.registry(n).fn(spark, dir)
          .write.format("noop").mode("overwrite").save()
        n -> (QueryMetrics.compiles() - before).classes
      }
      println(s"codegen-pass pass=$pass queries=${names.size} " +
        s"classes=${perQuery.map(_._2).sum} " +
        perQuery.map { case (n, c) => s"$n:$c" }.mkString(" "))
    } finally spark.stop()
  }
}
