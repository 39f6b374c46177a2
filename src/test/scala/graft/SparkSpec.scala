package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate; suites must not stop() it).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(8, "graft-test")
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** The call sites (stage names) of each Spark job started while `body`
    * runs (listener bus drained on both sides, so no earlier job leaks in
    * and no job of `body` is missed).
    */
  def jobSitesDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.name).mkString(" | "))
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBridge.drain(sc)
      (r, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** The number of Spark jobs started while `body` runs. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val (r, sites) = jobSitesDuring(body)
    (r, sites.size)
  }
}
