package graft.core

import java.util.concurrent.{ArrayBlockingQueue, TimeUnit}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
  ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Post-execution plan accounting: what a query actually read and
  * shuffled, straight from the executed plan's SQLMetrics. This is the
  * ops-side complement to PlanAuditSpec — the audit pins plan SHAPES
  * pre-execution; this reports realized VOLUMES, which is what capacity
  * planning and regression triage consume at 100 TB ("did this round's
  * change double shuffle bytes?" is answerable from bench_full.json
  * alone, no Spark UI required).
  *
  * Scope caveat: the profile covers the FINAL action's plan. Operators
  * that materialize intermediate actions while building their result
  * (the connected-components loop's per-round localCheckpoints, model
  * fits) contribute only their last job's volumes here — their
  * intermediate shuffles show up in the timing, not in this accounting.
  */
object QueryMetrics {

  final case class PlanProfile(scanRows: Long, shuffleBytes: Long,
      nShuffles: Int)

  /** Codegen classes compiled (Janino runs, i.e. misses of Spark's
    * JVM-wide class cache) and the seconds spent compiling them.
    */
  final case class Compiles(classes: Long, seconds: Double) {
    def -(o: Compiles): Compiles =
      Compiles(classes - o.classes, seconds - o.seconds)
    def +(o: Compiles): Compiles =
      Compiles(classes + o.classes, seconds + o.seconds)
  }

  /** This JVM's compiles so far; the difference of two readings is what
    * ran between them (JVM-wide, so it is a query's own only while that
    * query runs alone).
    */
  def compiles(): Compiles =
    Compiles(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime / 1e9)

  /** Execute `df` via the noop sink (same materialization Bench times)
    * and return realized scan/shuffle totals from the final adaptive
    * plan. Reused exchanges are counted once (their metrics live on the
    * original node).
    */
  def profile(df: DataFrame): PlanProfile = {
    val qe = executed(df.sparkSession)(_ => true) {
      df.write.format("noop").mode("overwrite").save()
    }
    val all = collectAll(qe.executedPlan)
    val scanRows = all.collect {
      case p if p.nodeName.contains("Scan") =>
        p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    val shuffles = all.collect {
      case s: ShuffleExchangeLike => s
    }
    val shuffleBytes = shuffles
      .map(_.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L))
      .sum
    PlanProfile(scanRows, shuffleBytes, shuffles.size)
  }

  /** Run `action` and return the first QueryExecution it completes for
    * which `accept` holds. A write runs its OWN QueryExecution (a
    * frame's `queryExecution` is a separate, never-executed plan), so the
    * executed one is captured through a QueryExecutionListener; the
    * listener bus is async, hence the bounded poll.
    */
  def executed(spark: SparkSession)(accept: QueryExecution => Boolean)(
      action: => Unit): QueryExecution = {
    val captured = new ArrayBlockingQueue[QueryExecution](4)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = if (accept(qe)) { captured.offer(qe); () }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      action
      val got = captured.poll(30, TimeUnit.SECONDS)
      require(got != null, "query-execution event not observed within 30s")
      got
    } finally spark.listenerManager.unregister(listener)
  }

  /** Recursive walk that crosses AQE boundaries (final adaptive plan,
    * materialized query stages) and skips reused-exchange duplicates.
    */
  private def collectAll(p: SparkPlan): Seq[SparkPlan] = {
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Seq.empty
      case other => other.children
    }
    p +: children.flatMap(collectAll)
  }
}
