package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.SessionCache

/** Session-scoped cache of the prepared training matrix per (session,
  * input dir, feature set), built once through [[graft.core.SessionCache]]:
  * the seed-42 split, then [[MultiModel.train]]'s own fit-input build with
  * its defaults (one aggregate fits the prep and counts the classes, then
  * the split is oversampled and prepared by [[PrepPipeline.matrix]]), so
  * `smotedTrain` is the very input `MultiModel.train` fits a classifier
  * on. The reference rebuilds all of it per request; here N trainings on
  * the same data pay scan/impute/scale/rebalance once. The split and the
  * oversample are functions of the rows and the seed alone (hash-based),
  * so their rows are the same at any core or partition count; the
  * classifier a fit input gives still follows its partition layout.
  */
object TrainingCache {

  /** The prepared train matrix, its oversampled fit input, the prepared
    * held-out matrix and the split's row counts. */
  final class Entry private[ml] (in: MultiModel.FitInput,
      val nTrain: Long, val nTest: Long) {
    def preppedTrain: DataFrame = in.matrix
    def smotedTrain: DataFrame = in.fitOn
    def preppedTest: DataFrame = in.heldOut.get
    private[ml] def release(): Unit = in.release()
  }

  private val cache =
    new SessionCache[(String, Seq[String]), Entry](_.release())

  /** Completed matrix builds this JVM: key -> build seconds. */
  def buildLog: Map[(String, String, Seq[String]), Double] =
    cache.buildLog.map { case ((app, (key, fc)), s) => (app, key, fc) -> s }

  /** Get-or-build the prepared matrix for `labeled`, a deterministic
    * function of `key` (the caller's input path). */
  def entry(spark: SparkSession, key: String, featureCols: Seq[String])
      (labeled: => DataFrame): Entry = cache(spark, (key, featureCols)) {
    val (tr, te) = MultiModel.split(labeled)
    val in = MultiModel.fitInput(tr, featureCols, Some("oversample"),
      Some(te))
    // the train count comes from the prep fit's class histogram; the
    // held-out count materializes its matrix. A build that fails never
    // reaches the cache, so it releases what it pinned
    try new Entry(in, in.rows, in.heldOut.get.count())
    catch { case e: Throwable => in.release(); throw e }
  }

  /** Drop and unpersist every cached matrix (tests / memory pressure). */
  def clear(): Unit = cache.clear()
}
