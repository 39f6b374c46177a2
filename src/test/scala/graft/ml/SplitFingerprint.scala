package graft.ml

import org.apache.spark.sql.functions._

import graft.cli.Jobs
import graft.core.GraftSession

/** `SplitFingerprint <cores> <sfDir>`: in a `local[cores]` session, print
  * one line per shuffle-partition count (1, 4, 200) and AQE setting with
  * the row count and an order-free hash sum of [[MultiModel.split]]'s
  * train rows over the modeling frame. SplitInvarianceSpec runs it in a
  * child JVM per core count.
  */
object SplitFingerprint {
  def main(args: Array[String]): Unit = {
    val Array(cores, dir) = args
    val spark = GraftSession.local(cores.toInt, "split-fingerprint")
    try for (parts <- Seq(1, 4, 200); aqe <- Seq(true, false)) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toLong)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      val (tr, _) = MultiModel.split(Jobs.labeled(spark, dir))
      val r = tr.agg(count(lit(1)), sum(xxhash64(tr.columns.map(col).toSeq: _*)
        .cast("decimal(38,0)"))).head()
      println(s"split-fingerprint parts=$parts aqe=$aqe " +
        s"rows=${r.getLong(0)} hash=${r.get(1)}")
    } finally spark.stop()
  }
}
