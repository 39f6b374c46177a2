package graft.ml

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** M2 — minority-class rebalancing, applied at fit time only, as the
  * reference's imblearn `fit_resample` is
  * (/root/reference/src/train.py:70-71 `SMOTE(random_state=42)`; SURVEY
  * §7.3/7.4). It is never a stage of a saved model: its one entry point
  * is [[MultiModel.fitInput]], whose prep aggregate also counts the
  * classes these functions balance.
  *
  * Two strategies:
  *   - "oversample": exact-count duplication of minority rows, with no
  *     vector math, shuffle or window. Every minority row gets
  *     `deficit / minCount` copies, and the `deficit % minCount` rows
  *     first in (content hash, row) order one more. Equal rows share a
  *     hash, so the output multiset depends on the rows alone, never on
  *     their partitioning. The class histogram and the minority rows'
  *     hash-bucket counts come from the aggregate that fits the prep
  *     ([[keys]], [[PrepPipeline]]); only the bucket the cut falls in is
  *     read again, so nothing collected grows faster than a bucket.
  *   - "smote": true SMOTE semantics — each synthetic sample interpolates
  *     between a minority row and one of its k nearest minority neighbors.
  *
  * SMOTE's neighborhood search is a sorted-projection scheme rather than
  * a pair join: project every minority vector onto a deterministic random
  * unit direction, slab-partition the projection axis, sort within slabs,
  * and take the k window-adjacent rows (lag/lead) as the neighborhood.
  * Projection-adjacent ⇒ near in feature space (Johnson-Lindenstrauss
  * flavored); quality is approximate exactly like LSH-kNN, but the cost is
  * one narrow shuffle + per-slab sort — strictly linear, no candidate-pair
  * blowup, parallel windows (an all-bucket LSH self-join is quadratic
  * within buckets and stalls already at 10⁵ minority rows).
  *
  * Determinism: no RNG state — the projection direction, per-row synthetic
  * copy counts, neighbor choice and interpolation coefficient all derive
  * from xxhash64/seeded arithmetic under the fixed seed 42, so two runs on
  * identical data produce identical output (asserted in MlPipelineSpec).
  */
object Smote {
  /** The values `strategy` accepts. */
  val Strategies: Seq[String] = Seq("oversample", "smote")

  private val Seed = 42L
  private val Label = "label"
  private val Features = PrepPipeline.FeaturesCol

  /** Slab width along the unit projection; features are standardized
    * upstream so the projection is ~N(0,1) and 0.25 keeps slabs populated
    * yet local.
    */
  private val SlabWidth = 0.25

  /** A row's content hash is xxhash64 over all its columns; its top 12
    * bits name its bucket, so bucket order is hash order. */
  private val BucketShift = 52

  private def contentHash(df: DataFrame): Column =
    xxhash64(df.columns.map(c => df.col(s"`$c`")).toSeq: _*)

  /** The keys to group the rebalance's aggregate over `df` by: the label
    * as a double, and for "oversample" the content-hash bucket. */
  private[ml] def keys(df: DataFrame, strategy: Option[String]): Seq[Column] =
    if (strategy.contains("oversample"))
      Seq(col(Label).cast("double"), shiftright(contentHash(df), BucketShift))
    else Seq(col(Label).cast("double"))

  /** The class histogram of an aggregate grouped by [[keys]]. */
  private[ml] def classCounts(groups: Seq[(Row, Long)]): Seq[(Any, Long)] =
    groups.groupMapReduce(_._1.get(0))(_._2)(_ + _).toSeq

  /** `df` with its minority class duplicated up to the majority count (see
    * the object doc); `groups` is the aggregate over `df` grouped by
    * [[keys]] for "oversample". One Spark job reads the bucket the cut
    * falls in, unless the cut ends a bucket.
    */
  private[ml] def oversample(df: DataFrame, groups: Seq[(Row, Long)])
      : DataFrame = {
    val counts = classCounts(groups)
    if (counts.length < 2) return df
    val (_, majCount) = counts.maxBy(_._2)
    val (minLabel, minCount) = counts.minBy(_._2)
    val deficit = majCount - minCount
    if (deficit == 0) return df
    val rem = deficit % minCount
    val hash = contentHash(df)
    val bucket = shiftright(hash, BucketShift)
    val minority = col(Label).cast("double") === lit(minLabel)
    // the rem minority rows first in (hash, row) order get one more copy:
    // whole buckets below the cut's, then a prefix of the cut's bucket,
    // where a run of equal hashes the cut splits is topped up with copies
    // of the run's first rows in row order
    val (extra, tied) = if (rem == 0) (lit(false), Seq.empty[Row]) else {
      val buckets = groups.filter(_._1.get(0) == minLabel)
        .map(g => g._1.getLong(1) -> g._2).sortBy(_._1)
      val upTo = buckets.scanLeft(0L)(_ + _._2).tail
      val i = upTo.indexWhere(_ >= rem)
      val (b, size) = buckets(i)
      val need = (rem - upTo(i) + size).toInt
      if (need == size) (bucket <= b, Nil) else {
        val rows = df.filter(minority && bucket === b).withColumn("__h", hash)
          .collect().toSeq.map(r => r.getLong(r.length - 1) ->
            Row.fromSeq(r.toSeq.init)).sortBy { case (h, r) => (h, r.toString) }
        val cut = rows(need - 1)._1
        if (rows(need)._1 != cut) (hash <= cut, Nil)
        else (hash < cut, rows.filter(_._1 == cut)
          .take(need - rows.count(_._1 < cut)).map(_._2))
      }
    }
    // the copies go beside the rows, not among them, so a fit reads them
    // in partitions of their own
    val copies = lit(deficit / minCount) + when(extra, 1L).otherwise(0L)
    val added = df.filter(minority && copies > 0)
      .withColumn("__copy", explode(sequence(lit(1L), copies)))
      .drop("__copy")
    val out = df.unionByName(added)
    if (tied.isEmpty) out
    else out.unionByName(df.sparkSession.createDataFrame(tied.asJava,
      df.schema))
  }

  /** `df` plus the synthetic minority rows interpolated for its class
    * histogram `counts`: each between a minority row and one of its `k`
    * projection-nearest minority neighbors, in a `dim`-dimensional
    * feature space. */
  private[ml] def smote(df: DataFrame, counts: Seq[(Any, Long)], dim: Int,
      k: Int): DataFrame = {
    if (counts.length < 2) return df
    val (_, majCount) = counts.maxBy(_._2)
    val (minLabel, minCount) = counts.minBy(_._2)
    val deficit = majCount - minCount
    if (deficit == 0) return df

    val minority = df.filter(col(Label) === lit(minLabel))

    // deterministic unit projection direction from the seed
    val rng = new scala.util.Random(Seed)
    val raw = Array.fill(dim)(rng.nextGaussian())
    val nrm = math.sqrt(raw.map(x => x * x).sum)
    val u = raw.map(_ / nrm)
    val proj = aggregate(
      zip_with(vector_to_array(col(Features)),
        lit(u), (x, w) => x * w),
      lit(0.0d), (acc, v) => acc + v)

    // localCheckpoint: the slab frame is read TWICE (the offsets collect
    // below and the synthesis job) and its lineage contains the entire
    // upstream prep transform — without truncation each reader
    // re-executes that transform (round-9 profiling: 4 full upstream
    // passes per SMOTE call; 2 after this + the class-count pass).
    // Minority-class rows only, so the materialization is the small side
    // by construction.
    val slabbed = minority
      .withColumn("__proj", proj)
      .withColumn("__slab", floor(col("__proj") / SlabWidth))
      .localCheckpoint()
    // slab sizes: tiny driver-side frame → global sid = slab offset + rank,
    // attached via a broadcast join (stays cheap at any slab count)
    val slabSizes = slabbed.groupBy("__slab").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = slabSizes.scanLeft(0L)(_ + _._2).zip(slabSizes)
      .map { case (off, (slab, _)) => (slab, off) }
    val offDf = broadcast(
      df.sparkSession.createDataFrame(offsets.toSeq)
        .toDF("__slab", "__off"))

    val w = Window.partitionBy(col("__slab"))
      .orderBy(col("__proj"), xxhash64(col(Features).cast("string")))
    // exactly k candidates: alternate lag/lead then truncate (odd k would
    // otherwise yield k+1 — one farther neighbor than asked)
    val neighborCols = (1 to (k + 1) / 2).flatMap(i =>
      Seq(lag(col(Features), i).over(w), lead(col(Features), i).over(w)))
      .take(k)
    val ranked = slabbed.join(offDf, Seq("__slab"))
      .withColumn("__sid", row_number().over(w) + col("__off"))
      .withColumn("__nbs", filter(array(neighborCols: _*), x => x.isNotNull))
      .drop("__proj", "__slab", "__off")

    // deterministic per-row synthetic copy counts: spread the deficit
    // round-robin (base copies for all, +1 for the first `rem` sids)
    val base = deficit / minCount
    val rem = deficit % minCount
    val expanded = ranked
      .withColumn("__copies",
        lit(base) + when(col("__sid") <= rem, 1L).otherwise(0L))
      .filter(col("__copies") > 0)
      .withColumn("__ci", explode(sequence(lit(1L), col("__copies"))))

    // neighbor pick + interpolation coefficient, both hash-derived
    val synth = expanded
      .withColumn("__nb", when(size(col("__nbs")) > 0,
        element_at(col("__nbs"),
          (pmod(xxhash64(col("__sid"), col("__ci"), lit(Seed)),
            size(col("__nbs"))) + 1).cast("int"))))
      .withColumn("__t",
        pmod(xxhash64(col("__ci"), col("__sid"), lit(Seed)),
          lit(1000000L)).cast("double") / 1000000.0)
      .select(col(Label),
        when(col("__nb").isNull, col(Features))
          .otherwise(lerpUdf(col(Features), col("__nb"), col("__t")))
          .as(Features))
    df.unionByName(synth)
  }

  /** `out` with its label column carrying, as nominal metadata, the class
    * count a classifier infers from `labels` (max label + 1), so a fit on
    * `out` skips its own max(label) pass. Unchanged unless the labels are
    * non-negative integers below 100, where a classifier infers the count
    * itself (and raises its own error otherwise).
    */
  private[ml] def withNumClasses(out: DataFrame, labels: Seq[Any])
      : DataFrame = {
    val values = labels.collect { case n: Number => n.doubleValue }
    if (values.isEmpty || values.size != labels.size ||
        values.exists(v => v < 0 || v != math.floor(v)) || values.max >= 100)
      out
    else out.withMetadata(Label, NominalAttribute.defaultAttr
      .withNumValues(values.max.toInt + 1).toMetadata())
  }

  /** synthetic = a + t·(b − a), elementwise. */
  private[ml] val lerpUdf =
    udf((a: Vector, b: Vector, t: Double) => {
      val av = a.toArray; val bv = b.toArray
      val out = new Array[Double](av.length)
      var i = 0
      while (i < av.length) { out(i) = av(i) + t * (bv(i) - av(i)); i += 1 }
      Vectors.dense(out): Vector
    })
}
