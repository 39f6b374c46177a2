package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.classic.{Dataset => ClassicDataset,
  SparkSession => ClassicSession}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.{BlockId, RDDBlockId, StorageLevel}

/** Bridge to the Spark internals behind graft.core.FrameCache's entries,
  * which Spark keeps `private[sql]` or `private[spark]`: a lineage-free
  * local checkpoint that still declares its build's realized layout, and
  * a check that a checkpoint's blocks are all still stored.
  */
object GraftCheckpointBridge {

  /** `df`'s rows, materialized now as a local checkpoint (MEMORY_AND_DISK)
    * behind a single `LogicalRDD` leaf, so nothing references the build's
    * executed plan and its broadcast relations, shuffles and inner
    * checkpoints can be freed. The build runs the way `CacheManager` runs
    * a cached plan, with AQE's final-stage shuffle optimizations and
    * automatic bucketed scans off, so its last stage keeps the partitioning
    * the plan declares; the leaf declares that final plan's partitioning
    * and ordering (consumers keyed on them read without an exchange) and
    * the realized row count and row bytes as its statistics.
    * `Dataset.localCheckpoint` is no substitute: it declares the adaptive
    * plan's `UnknownPartitioning`.
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[ClassicSession]
    val session = ClassicSession.getOrCloneSessionWithConfigsOff(spark,
      Seq(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS,
        SQLConf.AUTO_BUCKETED_SCAN_ENABLED))
    val relation = session.withActive {
      val qe = session.sessionState.executePlan(df.queryExecution.analyzed)
      SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
        val rdd = qe.toRdd.map(_.copy()).localCheckpoint()
        val (rows, bytes) = rdd.mapPartitions { it =>
          var (n, b) = (0L, 0L)
          it.foreach { r =>
            n += 1
            b += (r match {
              case u: UnsafeRow => u.getSizeInBytes.toLong
              case _ => 8L * r.numFields
            })
          }
          Iterator.single((n, b))
        }.collect().foldLeft((0L, 0L)) { case ((n, b), (n1, b1)) =>
          (n + n1, b + b1) }
        val plan = qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan // final once run
          case p => p
        }
        val partitioning = plan.outputPartitioning match {
          case p if p.numPartitions == rdd.getNumPartitions => p
          case _ => UnknownPartitioning(rdd.getNumPartitions)
        }
        LogicalRDD(qe.analyzed.output, rdd, partitioning, plan.outputOrdering,
          isStreaming = false)(spark,
          Some(Statistics(sizeInBytes = bytes, rowCount = Some(rows))))
      }
    }
    ClassicDataset.ofRows(spark, relation)
  }

  /** Whether every block of the checkpoint at `df`'s plan root is still
    * stored: false once its RDD was unpersisted or an executor holding a
    * block was lost (a local checkpoint cannot recompute one). A frame
    * whose root is no checkpoint is live.
    */
  def live(df: DataFrame): Boolean = df.queryExecution.logical match {
    case r: LogicalRDD =>
      val rdd = r.rdd
      rdd.getStorageLevel != StorageLevel.NONE && {
        val ids = Array.tabulate[BlockId](rdd.getNumPartitions)(
          RDDBlockId(rdd.id, _))
        rdd.sparkContext.env.blockManager.master.getLocations(ids)
          .forall(_.nonEmpty)
      }
    case _ => true
  }
}
