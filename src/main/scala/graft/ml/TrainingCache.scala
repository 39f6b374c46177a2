package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.SessionCache

/** Session-scoped cache of the prepared training matrix per (session,
  * input dir, feature set), built once through [[graft.core.SessionCache]]:
  * the persisted prepped train matrix, the persisted SMOTE-rebalanced fit
  * input and the persisted prepped held-out split. The build is
  * [[MultiModel.train]]'s own sequence with its defaults (split → prep fit
  * + [[PrepPipeline.matrix]] → oversample), so a classifier fit on
  * `smotedTrain` is the classifier `MultiModel.train` fits. The reference
  * rebuilds all of it per request; here N trainings on the same data pay
  * scan/impute/scale/rebalance once. Every stage is deterministic (seed
  * 42 split, hash-derived SMOTE), so cached == fresh.
  */
object TrainingCache {

  final case class Entry(preppedTrain: DataFrame, smotedTrain: DataFrame,
      preppedTest: DataFrame, nTrain: Long, nTest: Long)

  private val cache = new SessionCache[(String, Seq[String]), Entry](e =>
    Seq(e.preppedTrain, e.smotedTrain, e.preppedTest).foreach(_.unpersist()))

  /** Completed matrix builds this JVM: key -> build seconds. */
  def buildLog: Map[(String, String, Seq[String]), Double] =
    cache.buildLog.map { case ((app, (key, fc)), s) => (app, key, fc) -> s }

  /** Get-or-build the prepared matrix for `labeled`, a deterministic
    * function of `key` (the caller's input path). */
  def entry(spark: SparkSession, key: String, featureCols: Seq[String])
      (labeled: => DataFrame): Entry = cache(spark, (key, featureCols)) {
    val base = labeled.persist()
    // a failed build (OOM mid-SMOTE, bad input) never reaches the cache,
    // so it must release everything it pinned itself
    val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { pinned += df; df.persist() }
    try {
      val (tr, te) = MultiModel.split(base)
      val prep = PrepPipeline.fit(tr, featureCols)
      val preppedTrain = pin(PrepPipeline.matrix(prep, tr))
      val smoted = pin(new Smote().setStrategy("oversample")
        .transform(preppedTrain))
      val preppedTest = pin(PrepPipeline.matrix(prep, te))
      // materialize every cache while base is pinned
      smoted.count(); preppedTest.count()
      Entry(preppedTrain, smoted, preppedTest, tr.count(), te.count())
    } catch {
      case e: Throwable => pinned.foreach(_.unpersist()); throw e
    } finally base.unpersist()
  }

  /** Drop and unpersist every cached matrix (tests / memory pressure). */
  def clear(): Unit = cache.clear()
}
