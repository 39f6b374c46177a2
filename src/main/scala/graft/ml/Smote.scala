package graft.ml

import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** M2 — SMOTE minority-class rebalancing of a prepared matrix, applied at
  * fit time only, as the reference's imblearn `fit_resample` is
  * (/root/reference/src/train.py:70-71 `SMOTE(random_state=42)`; SURVEY
  * §7.3/7.4). It is never a stage of a saved model.
  *
  * Two strategies:
  *   - "oversample": exact-count duplication of minority rows (cheap
  *     fallback; no vector math).
  *   - "smote": true SMOTE semantics — each synthetic sample interpolates
  *     between a minority row and one of its k nearest minority neighbors.
  *
  * Neighborhood search is a sorted-projection scheme rather than a pair
  * join: project every minority vector onto a deterministic random unit
  * direction, slab-partition the projection axis, sort within slabs, and
  * take the k window-adjacent rows (lag/lead) as the neighborhood.
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

  /** `matrix` (a [[PrepPipeline.matrix]]: `label`, `features`) plus the
    * synthetic minority rows that balance its classes under `strategy`,
    * interpolating between each minority row and one of its `k` nearest
    * minority neighbors for "smote". The label carries the class count
    * from SMOTE's class histogram as nominal metadata, so a classifier fit
    * on the output skips its own max(label) pass.
    */
  def rebalance(matrix: DataFrame, strategy: String, k: Int = 5)
      : DataFrame = {
    val df = matrix.select(col(Label), col(Features))
    // class histogram is |classes| rows — driver-side collect is exact
    // and cheap at any scale. The per-class sample vector rides along so
    // the feature dimension comes out of the SAME pass (round-9: a
    // separate head() action re-executed the whole upstream prep
    // transform once more per call — measurable when the input is an
    // unpersisted pipeline output).
    val stats = df.groupBy(col(Label))
      .agg(count(lit(1)).as("__n"), first(col(Features)).as("__sample"))
      .collect()
    withNumClasses(synthesize(df, stats, strategy, k),
      stats.map(_.get(0)).toSeq)
  }

  /** `df` plus the synthetic minority rows its class histogram `stats`
    * calls for. */
  private def synthesize(df: DataFrame, stats: Array[Row], strategy: String,
      k: Int): DataFrame = {
    val counts = stats.map(r => (r.get(0), r.getLong(1)))
    if (counts.length < 2) return df
    val (_, majCount) = counts.maxBy(_._2)
    val (minLabel, minCount) = counts.minBy(_._2)
    val deficit = majCount - minCount
    if (deficit == 0) return df

    val minority = df.filter(col(Label) === lit(minLabel))

    // deterministic unit projection direction from the seed
    val dim = stats.head.getAs[Vector]("__sample").size
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
    // passes per SMOTE call; 2 after this + the fused stats pass above).
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
    val indexed = slabbed.join(offDf, Seq("__slab"))
      .withColumn("__sid", row_number().over(w) + col("__off"))
    // the k lag/lead vector neighborhoods are only consumed by the
    // interpolating strategy — "oversample" duplicates rows verbatim, so
    // skip shipping k extra vectors per row through the window there
    val ranked = (strategy match {
      case "smote" =>
        // exactly k candidates: alternate lag/lead then truncate (odd k
        // would otherwise yield k+1 — one farther neighbor than asked)
        val neighborCols = (1 to (k + 1) / 2).flatMap(i =>
          Seq(lag(col(Features), i).over(w), lead(col(Features), i).over(w)))
          .take(k)
        indexed.withColumn("__nbs",
          filter(array(neighborCols: _*), x => x.isNotNull))
      case _ => indexed
    }).drop("__proj", "__slab", "__off")

    // deterministic per-row synthetic copy counts: spread the deficit
    // round-robin (base copies for all, +1 for the first `rem` sids)
    val base = deficit / minCount
    val rem = deficit % minCount
    val expanded = ranked
      .withColumn("__copies",
        lit(base) + when(col("__sid") <= rem, 1L).otherwise(0L))
      .filter(col("__copies") > 0)
      .withColumn("__ci", explode(sequence(lit(1L), col("__copies"))))

    val synth = strategy match {
      case "oversample" => expanded.select(col(Label), col(Features))
      case "smote" =>
        // neighbor pick + interpolation coefficient, both hash-derived
        expanded
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
      case other =>
        throw new IllegalArgumentException(s"unknown strategy: $other")
    }
    df.unionByName(synth.select(col(Label), col(Features)))
  }

  /** `out` with its label column carrying, as nominal metadata, the class
    * count a classifier infers from `labels` (max label + 1), so a fit on
    * `out` skips its own max(label) pass. Unchanged unless the labels are
    * non-negative integers below 100, where a classifier infers the count
    * itself (and raises its own error otherwise).
    */
  private def withNumClasses(out: DataFrame, labels: Seq[Any])
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
