package graft.core

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Warm plans reuse their compiled code: [[CodegenReuse]] run in a child
  * JVM (Spark's class cache is JVM-wide and sized when the JVM first
  * generates code) runs a fixed list of non-streaming registry queries
  * twice. The first pass compiles more classes than Spark's default
  * cache of 100 holds; the second must compile none, which holds only
  * if [[GraftSession.configure]] sized the cache to the working set and
  * kept AQE's run-dependent stage ids out of the generated class names.
  */
class CodegenReuseSpec extends SparkSpec {

  private val queries = Seq("q_canonical_select", "q_containment_dedup",
    "q_entropy_profile", "q_ks_drift", "q_max_concurrency", "q_robust_scale")

  test("a second pass over non-streaming queries compiles no codegen " +
      "class, after a first pass compiled more than Spark's default 100") {
    val jvm = ManagementFactory.getRuntimeMXBean
    val opts = jvm.getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ opts ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
        "graft.core.CodegenReuse", sf0001, queries.mkString("^(", "|", ")$"))
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream)
      .getLines().toList
    assert(proc.waitFor() === 0, out.takeRight(20).mkString("\n"))
    val passes = out.filter(_.startsWith("codegen-pass "))
    val classes = passes.map(_.split(' ').collectFirst {
      case s if s.startsWith("classes=") => s.stripPrefix("classes=").toLong
    }.get)
    assert(passes.forall(_.contains(s"queries=${queries.size} ")),
      passes.mkString("\n"))
    assert(classes.size === 2, out.takeRight(20).mkString("\n"))
    assert(classes.head > 100, passes.mkString("\n"))
    assert(classes(1) === 0, passes.mkString("\n"))
  }
}
