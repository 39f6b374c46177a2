package graft.ml

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** M1 — the train/test split is a function of the rows and the seed
  * alone: [[SplitFingerprint]] run in a child JVM at `local[1]`,
  * `local[2]` and `local[4]` (a SparkContext's core count is fixed for
  * its JVM) must print one train-row fingerprint for every core count,
  * shuffle-partition count (1, 4, 200) and AQE setting.
  */
class SplitInvarianceSpec extends SparkSpec {

  private def fingerprints(cores: Int): Seq[String] = {
    val jvm = ManagementFactory.getRuntimeMXBean
    val opts = jvm.getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ opts ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
        "graft.ml.SplitFingerprint", cores.toString, sf001)
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream)
      .getLines().toList
    assert(proc.waitFor() === 0, out.takeRight(20).mkString("\n"))
    out.filter(_.startsWith("split-fingerprint "))
  }

  test("M1 split: one train-row fingerprint at local[1], local[2] and " +
      "local[4], at 1, 4 and 200 shuffle partitions, AQE on and off") {
    val lines = Seq(1, 2, 4).flatMap(fingerprints)
    assert(lines.size === 18, lines.mkString("\n"))
    val prints = lines.map(_.replaceAll(".* rows=", "rows=")).distinct
    assert(prints.size === 1, lines.mkString("\n"))
  }
}
