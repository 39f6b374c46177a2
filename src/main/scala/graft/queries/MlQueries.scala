package graft.queries

import org.apache.spark.ml.feature.StringIndexer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cli.Jobs
import graft.core.{QueryDef, QueryModule, Tables}
import graft.eval.Metrics
import graft.ml.{Importance, ModelCache, MultiModel, PrepPipeline, Trainers,
  TrainingCache}

/** ML-pipeline queries (SURVEY §2.8-2.9). Queries whose semantics are
  * SQL-expressible carry a DuckDB oracle (label encoding); trainer/metric
  * queries over model output are registered rows-only and asserted in
  * ScalaTest (score bounds, determinism under seed).
  */
object MlQueries extends QueryModule {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The shared oversampled fit input for a testdata dir (split + prep
    * fit + SMOTE paid once per session per dir — SURVEY §7.4.6's
    * cached-prepared-data requirement; the split and the oversample are
    * hash-based, so their rows are the same at any partitioning). Built
    * from the modeling frame the CLI jobs and the server train on,
    * [[Jobs.labeled]].
    */
  private def prepared(s: SparkSession, dir: String): MultiModel.FitInput =
    TrainingCache.entry(s, dir, Jobs.FeatureCols, Some("oversample"))(
      Jobs.labeled(s, dir))

  /** Train one reference model type end-to-end and report the
    * oracle-expressible invariants of the run: the split conserves every
    * input row (n_total == COUNT(*) of the source — DuckDB recomputes
    * it), the train fraction is 70%±2, and both accuracies are sane
    * ([0.3, 1.0] — the lineitem numerics are near-uninformative for the
    * return flag, so a balanced-trained model scores ~0.5 on the 2:1 test
    * split; raw accuracy values stay spec-asserted, not hashed).
    * Semantics identical to MultiModel.train(useSmote=true) + scoring
    * (MlPipelineSpec pins the classifier) — the classifier fit is the
    * only per-model stage.
    */
  private def trainerQuery(modelType: String,
      params: Map[String, String]): (SparkSession, String) => DataFrame =
    (s, dir) => {
      val e = prepared(s, dir)
      val tag = s"$modelType:${params.toSeq.sorted.mkString(",")}:smoted"
      val clf = ModelCache.fitted(s, dir, tag)(
        Trainers.byName(modelType, params).fit(e.fitOn)
          .asInstanceOf[org.apache.spark.ml.Transformer])
      // Scoring cost shaping (this IS the timed cost of the trainer
      // gates — the fit itself is ModelCache'd): (a) disable the
      // rawPrediction/probability output columns, so the model's
      // transform runs ONE prediction UDF per row instead of also
      // materializing two VectorUDT columns nobody reads (for the
      // 20-tree forest those allocations dominated the per-row cost);
      // (b) score train+test in a single pass over their union, one
      // job instead of two. Both matrices come cached from
      // TrainingCache, so the union is a cache read, not a rebuild.
      val lean = clf match {
        case p: org.apache.spark.ml.classification
            .ProbabilisticClassificationModel[_, _] =>
          p.copy(org.apache.spark.ml.param.ParamMap(
            p.rawPredictionCol -> "", p.probabilityCol -> ""))
        case other => other
      }
      val scored = lean.transform(
        e.matrix.withColumn("__is_train", lit(true))
          .unionByName(e.heldOut.get.withColumn("__is_train", lit(false))))
        .groupBy(col("__is_train"))
        .agg((sum(when(col("label") === col("prediction"), 1L)
          .otherwise(0L)) / count(lit(1))).as("accuracy"))
        .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
      val trainAcc = scored(true)
      val testAcc = scored(false)
      val frac = e.rows.toDouble / (e.rows + e.heldOutRows)
      s.createDataFrame(Seq(
        (modelType, e.rows + e.heldOutRows,
          math.abs(frac - 0.7) <= 0.02,
          trainAcc >= 0.3 && trainAcc <= 1.0,
          testAcc >= 0.3 && testAcc <= 1.0)))
        .toDF("model_type", "n_total", "split_ok",
          "train_acc_ok", "test_acc_ok")
    }

  /** The trainer-gate oracle: DuckDB recomputes the source row count and
    * expects every invariant flag TRUE.
    */
  private def trainerOracle(modelType: String): String =
    s"""SELECT '$modelType' AS model_type, COUNT(*) AS n_total,
       | TRUE AS split_ok, TRUE AS train_acc_ok, TRUE AS test_acc_ok
       | FROM lineitem""".stripMargin

  def defs: Map[String, QueryDef] = Map(

    // -- trainers L2-L5 (invariant flags hash-checked; raw scores in specs)

    "q_l2_log_reg" -> QueryDef(
      trainerQuery("LOG_REG", Map("max_iter" -> "20")),
      Some(trainerOracle("LOG_REG")),
      "L2: logistic regression train+score (train.py:116-126)"),

    "q_l3_rand_forest" -> QueryDef(
      trainerQuery("RAND_FOREST",
        Map("n_estimators" -> "20", "criterion" -> "gini")),
      Some(trainerOracle("RAND_FOREST")),
      "L3: random forest train+score (train.py:128-138)"),

    "q_l4_gnb" -> QueryDef(
      trainerQuery("GNB", Map.empty),
      Some(trainerOracle("GNB")),
      "L4: gaussian naive Bayes train+score (train.py:140-147)"),

    "q_l5_d_tree" -> QueryDef(
      trainerQuery("D_TREE",
        Map("max_depth" -> "5", "min_samples_split" -> "2")),
      Some(trainerOracle("D_TREE")),
      "L5: decision tree train+score (train.py:149-159)"),

    "q_l6_predict_confusion" -> QueryDef(
      (s, dir) => {
        // L6+A8: score the held-out split with a DT (no SMOTE — fit on
        // the cached prepped train matrix) and gate on the confusion
        // matrix's oracle-expressible invariants: the scored rows
        // conserve the test split exactly, accuracy clears a sanity
        // floor, and both true classes appear. The raw cell counts stay
        // spec-asserted.
        val e = prepared(s, dir)
        val clf = ModelCache.fitted(s, dir, "D_TREE:max_depth=5:prepped")(
          Trainers.byName("D_TREE", Map("max_depth" -> "5"))
            .fit(e.matrix)
            .asInstanceOf[org.apache.spark.ml.Transformer])
        val conf = Metrics.confusion(
          clf.transform(e.heldOut.get)
            .select(col("label"), col("prediction")))
        conf.agg(
            sum(col("n")).as("__total"),
            sum(when(col("label") === col("prediction"), col("n"))
              .otherwise(0L)).as("__correct"),
            countDistinct(col("label")).as("__classes"))
          .select(lit("D_TREE").as("model_type"),
            (col("__total") === e.heldOutRows).as("scored_all_ok"),
            (col("__correct") / col("__total") >= 0.3).as("acc_ok"),
            col("__classes").cast("long").as("n_classes"))
      },
      Some("""SELECT 'D_TREE' AS model_type, TRUE AS scored_all_ok,
             | TRUE AS acc_ok,
             | COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
             |   AS n_classes
             | FROM lineitem""".stripMargin),
      "L6: batch scoring + confusion invariants of model output " +
        "(predict.py:118-125)"),

    "q_m1_split" -> QueryDef(
      (s, dir) => {
        // 70/30 hash split seed 42: the split sizes themselves are not
        // ANSI-SQL-reproducible, but conservation (the two splits sum to
        // the exact source count — DuckDB recomputes it) and the 70%±2
        // fraction are
        val e = prepared(s, dir)
        val n = e.rows + e.heldOutRows
        val frac = e.rows.toDouble / n
        s.createDataFrame(Seq(
          ("test", n, math.abs(frac - 0.7) <= 0.02),
          ("train", n, math.abs(frac - 0.7) <= 0.02)))
          .toDF("split", "n_sum", "frac_ok").orderBy(col("split"))
      },
      Some("""SELECT s AS split, (SELECT COUNT(*) FROM lineitem) AS n_sum,
             | TRUE AS frac_ok
             | FROM (VALUES ('test'), ('train')) t(s) ORDER BY split""".stripMargin),
      "M1: 70/30 split seed 42 (a row trains when pmod(xxhash64(row, " +
        "42), 10^6) < 700,000), conservation + fraction gated " +
        "(notebook cell 46)"),

    "q_m4_stratified_sample" -> QueryDef(
      (s, dir) => {
        // M-family extension: class-stratified sampling (sampleBy) — the
        // imbalance-aware DOWNsampling counterpart to SMOTE's
        // oversampling: keep all minority rows, thin the majority.
        // Per-class Bernoulli at the scan, no shuffle. Gate: DuckDB
        // recomputes the exact per-class totals; fraction 1.0 must keep
        // every minority row exactly, fraction 0.1 must land within ±2pp.
        val labeled = Jobs.labeled(s, dir)
        val sampled = labeled.stat.sampleBy("label",
            Map(0.0 -> 0.1, 1.0 -> 1.0), seed = 42L)
          .groupBy(col("label")).agg(count(lit(1)).as("__n"))
        labeled.groupBy(col("label")).agg(count(lit(1)).as("class_total"))
          .join(sampled, Seq("label"), "left")
          .select(col("label"), col("class_total"),
            when(col("label") === 1.0,
                coalesce(col("__n"), lit(0L)) === col("class_total"))
              .otherwise(abs(coalesce(col("__n"), lit(0L))
                / col("class_total") - 0.1) <= 0.02).as("sample_ok"))
          .orderBy(col("label"))
      },
      Some("""SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END
             |   AS label,
             | COUNT(*) AS class_total, TRUE AS sample_ok
             | FROM lineitem GROUP BY 1 ORDER BY label""".stripMargin),
      "M4: class-stratified sample (majority thinning, seed 42), " +
        "per-class totals gated"),

    "q_m2_smote" -> QueryDef(
      (s, dir) => {
        // SMOTE balance invariant IS oracle-checkable: post-rebalance
        // both classes sit at the majority count. The fit input is built
        // fresh on every run, SMOTE being the operator under measurement;
        // its one aggregate fits the prep and counts the classes
        val in = MultiModel.fitInput(Jobs.labeled(s, dir), Jobs.FeatureCols,
          Some("smote"), k = 3)
        val counts = try in.fitOn.groupBy(col("label"))
            .agg(count(lit(1))).collect()
            .map(r => r.getDouble(0) -> r.getLong(1)).sortBy(_._1).toSeq
          finally in.release()
        s.createDataFrame(counts).toDF("label", "cnt")
      },
      Some("""WITH c AS (SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS label,
             |   COUNT(*) AS cnt FROM lineitem GROUP BY 1)
             | SELECT label, (SELECT MAX(cnt) FROM c) AS cnt FROM c
             | ORDER BY label""".stripMargin),
      "M2: SMOTE rebalance — exact class-balance invariant (train.py:70-71)"),

    "q_a10_importance" -> QueryDef(
      (s, dir) => {
        // importances come from the cached prepared TRAIN matrix (the
        // split+prep+persist is shared with the trainer family via
        // TrainingCache — one fit per session per dir, and importances
        // never see the test rows, matching the trainer protocol)
        val e = prepared(s, dir)
        val rf = ModelCache.fitted(s, dir, "RAND_FOREST:n=20:prepped")(
          Trainers.randomForest(nEstimators = 20).fit(e.matrix))
          .asInstanceOf[
            org.apache.spark.ml.classification.RandomForestClassificationModel]
        // gate on the distribution invariants (every feature present
        // with a valid weight; weights sum to 1); raw importances stay
        // spec-asserted (ImportanceSpec). The total comes from a
        // broadcast single-row aggregate, not a global window — a
        // partitionBy(lit(1)) spec gets constant-folded away and
        // executes as an unpartitioned WindowExec.
        val ranked = Importance.ranked(s, rf, Jobs.FeatureCols)
        ranked
          .crossJoin(broadcast(
            ranked.agg(sum(col("importance")).as("__sum"))))
          .select(col("feature"),
            (col("importance") >= 0.0 && col("importance") <= 1.0)
              .as("imp_ok"),
            (abs(col("__sum") - 1.0) <= 1e-6).as("sum_ok"))
          .orderBy(col("feature"))
      },
      Some("""SELECT f AS feature, TRUE AS imp_ok, TRUE AS sum_ok
             | FROM (VALUES ('l_discount'), ('l_extendedprice'),
             |   ('l_quantity'), ('l_tax')) t(f)
             | ORDER BY feature""".stripMargin),
      "A10/L8: RF feature importances — distribution invariants gated " +
        "(notebook cells 26-29)"),

    "q_cv_folds" -> QueryDef(
      (s, dir) => {
        // k-fold cross-validation protocol (k=3): fold assignment is
        // pmod(l_orderkey, 3) — deterministic, leakage-free BY
        // CONSTRUCTION (all lineitems of one order share a fold, the
        // group-split discipline q_group_split gates in isolation), and
        // exactly recomputable by the oracle. Per fold: prep+tree fit
        // on the complement (ModelCache-tagged like the trainer family
        // — one fit per session per fold), score the held-out fold.
        // Gate: exact per-fold test sizes (DuckDB recomputes the modulo
        // histogram) + sane-accuracy flags; raw scores stay
        // spec-asserted. Scale shape: fold assignment is a map-side
        // expression; each fit scans its complement once — the protocol
        // parallelizes over folds with zero cross-fold state.
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{BooleanType, LongType => LT,
          StructField, StructType}
        val base = T(s, dir, "lineitem").select(
          pmod(col("l_orderkey"), lit(3)).cast(LT).as("fold"),
          when(col("l_returnflag") === "R", 1.0).otherwise(0.0)
            .as("label"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax"))
        // guide §2.6 (round-14): the three fold pipelines are INDEPENDENT
        // jobs — submit them from a 3-thread pool so fold f+1's tasks
        // back-fill executors idled by fold f's stage tails instead of
        // serializing three small jobs end to end (this query's driver
        // core-count ratio was 0.72: pure job-launch overhead at gate
        // scale). Results assemble BY FOLD INDEX, so the output is
        // order-deterministic regardless of completion order; ModelCache
        // is promise-per-key concurrent (same fits, fitted once per
        // session either way), and Spark job submission is thread-safe
        // by design (the scheduler backfills FIFO).
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val rows = try {
          val futs = (0L until 3L).map { f =>
            scala.concurrent.Future {
              val train = base.filter(col("fold") =!= f).drop("fold")
              val test = base.filter(col("fold") === f).drop("fold")
              val prep = ModelCache.fitted(s, dir, s"CV_PREP:fold=$f")(
                PrepPipeline.fit(train, Jobs.FeatureCols))
                .asInstanceOf[org.apache.spark.ml.PipelineModel]
              val clf = ModelCache.fitted(s, dir, s"CV_DT:fold=$f")(
                Trainers.byName("D_TREE", Map("max_depth" -> "5"))
                  .fit(PrepPipeline.matrix(prep, train))
                  .asInstanceOf[org.apache.spark.ml.Transformer])
              val scored = clf.transform(PrepPipeline.matrix(prep, test))
              val r = scored.agg(count(lit(1)).as("n"),
                sum(when(col("label") === col("prediction"), 1L)
                  .otherwise(0L)).as("ok")).head()
              val n = r.getLong(0)
              val acc = r.getLong(1).toDouble / n
              Row(f, n, acc >= 0.3 && acc <= 1.0)
            }(ec)
          }
          futs.map(scala.concurrent.Await.result(_,
            scala.concurrent.duration.Duration(600, "seconds")))
        } finally pool.shutdown()
        s.createDataFrame(
          s.sparkContext.parallelize(rows, 1),
          StructType(Seq(StructField("fold", LT, nullable = false),
            StructField("n_test", LT, nullable = false),
            StructField("acc_ok", BooleanType, nullable = false))))
          .orderBy(col("fold"))
      },
      Some("""SELECT l_orderkey % 3 AS fold, COUNT(*) AS n_test,
             | TRUE AS acc_ok
             | FROM lineitem GROUP BY 1 ORDER BY fold""".stripMargin),
      "3-fold CV protocol: order-keyed fold split (leakage-free by " +
        "construction), per-fold fit/score, exact fold sizes gated"),

    "q_kmeans_lloyd" -> QueryDef(
      (s, dir) => {
        // distributed k-means (Lloyd) in EXACT integer arithmetic — the
        // corpus-clustering step of a curation pipeline (topic balance,
        // semantic shards), made fully oracle-checkable: embeddings
        // quantize to 1e6 fixed point, distances are integer sums of
        // squares, and each new centroid component mints by exact floor
        // division (subtract pmod first, so truncating and flooring
        // division agree for negative sums too) — every value both
        // engines compute is a BIGINT, so the final per-cluster sizes,
        // within-cluster sum of squares AND centroid components all
        // hash-match, not just invariant flags. Scale shape per
        // iteration: centroids (k×d longs) BROADCAST against the
        // unshuffled corpus for assignment (map-side zip_with/aggregate
        // lambdas, no explode), one keyed (cid,pos) agg for the
        // recompute — the canonical distributed Lloyd; the corpus is
        // localCheckpointed once so 3 assignment passes and 2 recomputes
        // share one materialization. Spark ML's KMeans (already used by
        // the IVF quantizer) remains the training-scale path; this is
        // the deterministic, gate-able form. k=4 seeded from the 4
        // smallest vec_ids, 2 Lloyd updates, final assignment reported.
        val k = 4
        val pts = T(s, dir, "embeddings")
          .select(col("vec_id"),
            transform(col("embedding"),
              x => floor(x.cast(DoubleType) * 1e6).cast(LongType))
              .as("qv"))
          .localCheckpoint()
        val cents0 = pts.filter(col("vec_id") < k)
          .select(col("vec_id").as("cid"), col("qv").as("qc"))
        def assign(cents: DataFrame): DataFrame =
          pts.crossJoin(broadcast(cents))
            .select(col("vec_id"), col("qv"), col("cid"),
              // native codegen'd fused loop (SqDistLong) — bit-identical
              // to the HOF zip_with/aggregate form (integer arithmetic)
              graft.functions.VectorMath
                .sq_dist_long(col("qv"), col("qc")).as("dist"))
            .groupBy(col("vec_id"), col("qv"))
            .agg(min(struct(col("dist"), col("cid"))).as("__m"))
            .select(col("vec_id"), col("qv"),
              col("__m.cid").as("cid"), col("__m.dist").as("dist"))
        def recompute(assigned: DataFrame): DataFrame =
          assigned.select(col("cid"), posexplode(col("qv")))
            .withColumnsRenamed(Map("pos" -> "pos", "col" -> "q"))
            .groupBy(col("cid"), col("pos"))
            .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
            .select(col("cid"), col("pos"),
              expr("(sq - pmod(sq, n)) div n").as("c"))
            .groupBy(col("cid"))
            .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
              .as("ps"))
            .select(col("cid"),
              transform(col("ps"), x => x.getField("c")).as("qc"))
        var cents = cents0
        for (_ <- 1 to 2) cents = recompute(assign(cents))
        val fin = assign(cents)
        fin.groupBy(col("cid"))
          .agg(count(lit(1)).as("n"), sum(col("dist")).as("wss"))
          .join(cents.select(col("cid"),
            element_at(col("qc"), 1).as("qc1"),
            element_at(col("qc"), 2).as("qc2")), Seq("cid"))
          .orderBy(col("cid"))
      },
      Some("""WITH e AS (SELECT vec_id, i - 1 AS pos,
             |     CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6)
             |       AS BIGINT) AS q
             |   FROM embeddings, range(1, 65) t(i)),
             | c0 AS (SELECT vec_id AS cid, pos, q AS c FROM e
             |   WHERE vec_id < 4),
             | d1 AS (SELECT e.vec_id, c.cid,
             |     CAST(SUM((e.q - c.c) * (e.q - c.c)) AS BIGINT) AS dist
             |   FROM e JOIN c0 c ON e.pos = c.pos GROUP BY 1, 2),
             | a1 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
             |     ROW_NUMBER() OVER (PARTITION BY vec_id
             |       ORDER BY dist, cid) AS rn FROM d1) WHERE rn = 1),
             | c1 AS (SELECT a.cid, e.pos,
             |     (SUM(e.q) - ((SUM(e.q) % COUNT(*)) + COUNT(*))
             |       % COUNT(*)) // COUNT(*) AS c
             |   FROM e JOIN a1 a ON e.vec_id = a.vec_id GROUP BY 1, 2),
             | d2 AS (SELECT e.vec_id, c.cid,
             |     CAST(SUM((e.q - c.c) * (e.q - c.c)) AS BIGINT) AS dist
             |   FROM e JOIN c1 c ON e.pos = c.pos GROUP BY 1, 2),
             | a2 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
             |     ROW_NUMBER() OVER (PARTITION BY vec_id
             |       ORDER BY dist, cid) AS rn FROM d2) WHERE rn = 1),
             | c2 AS (SELECT a.cid, e.pos,
             |     (SUM(e.q) - ((SUM(e.q) % COUNT(*)) + COUNT(*))
             |       % COUNT(*)) // COUNT(*) AS c
             |   FROM e JOIN a2 a ON e.vec_id = a.vec_id GROUP BY 1, 2),
             | d3 AS (SELECT e.vec_id, c.cid,
             |     CAST(SUM((e.q - c.c) * (e.q - c.c)) AS BIGINT) AS dist
             |   FROM e JOIN c2 c ON e.pos = c.pos GROUP BY 1, 2),
             | a3 AS (SELECT vec_id, cid, dist FROM (SELECT vec_id, cid,
             |     dist, ROW_NUMBER() OVER (PARTITION BY vec_id
             |       ORDER BY dist, cid) AS rn FROM d3) WHERE rn = 1),
             | cc AS (SELECT cid,
             |     CAST(MAX(CASE WHEN pos = 0 THEN c END) AS BIGINT)
             |       AS qc1,
             |     CAST(MAX(CASE WHEN pos = 1 THEN c END) AS BIGINT)
             |       AS qc2
             |   FROM c2 GROUP BY cid),
             | g AS (SELECT cid, COUNT(*) AS n,
             |     CAST(SUM(dist) AS BIGINT) AS wss FROM a3 GROUP BY cid)
             | SELECT g.cid, g.n, g.wss, cc.qc1, cc.qc2
             | FROM g JOIN cc ON g.cid = cc.cid ORDER BY g.cid""".stripMargin),
      "distributed Lloyd k-means in exact fixed-point integers: " +
        "broadcast centroids, map-side distances, keyed recompute — " +
        "sizes, WSS and centroids all hash-gated"),

    "q_f5_label_encode" -> QueryDef(
      (s, dir) => {
        // F5: StringIndexer with frequencyDesc ordering — ties broken
        // alphabetically (documented), which the oracle mirrors with
        // ROW_NUMBER OVER (ORDER BY cnt DESC, lang ASC).
        val docs = T(s, dir, "documents")
        val model = new StringIndexer()
          .setInputCol("lang").setOutputCol("lang_code")
          .setStringOrderType("frequencyDesc")
          .fit(docs)
        val mapping = model.labelsArray(0).zipWithIndex.toSeq
        s.createDataFrame(mapping).toDF("lang", "code_raw")
          .select(col("lang"), col("code_raw").cast(IntegerType).as("code"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang,
             | CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, lang ASC) - 1 AS INTEGER) AS code
             | FROM (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang) t
             | ORDER BY lang""".stripMargin),
      "F5: label encoding via StringIndexer (notebook cell 23)")
  )
}
