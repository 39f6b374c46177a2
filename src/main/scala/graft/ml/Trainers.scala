package graft.ml

import org.apache.spark.ml.classification.{
  Classifier, DecisionTreeClassifier, LogisticRegression, NaiveBayes,
  RandomForestClassifier}

/** L2-L5 — the four classifiers the reference exposes through `/train/`
  * (reference /root/reference/src/train.py:116-159; param surface
  * app.py:38-51). Hyperparameters are mapped to the nearest Spark
  * semantics; sklearn-only knobs (liblinear solver) are accepted and
  * recorded but do not change the Spark optimizer (SURVEY §2.9).
  *
  * All trainers run on (label: Double, features: Vector) and fix seed 42
  * (reference protocol, train.py:70 + notebook cells 46-47).
  */
object Trainers {

  val Seed = 42L

  /** L2 — logistic regression (train.py:116-126); Spark always uses its
    * internal L-BFGS/OWL-QN, so the reference's `solver` is recorded only.
    */
  def logReg(maxIter: Int = 100): LogisticRegression =
    new LogisticRegression()
      .setMaxIter(maxIter)
      .setLabelCol("label").setFeaturesCol(PrepPipeline.FeaturesCol)

  /** L3 — random forest (train.py:128-138): n_estimators → numTrees,
    * criterion gini|entropy → impurity.
    */
  def randomForest(nEstimators: Int = 100, criterion: String = "gini")
      : RandomForestClassifier =
    new RandomForestClassifier()
      .setNumTrees(nEstimators)
      .setImpurity(criterion)
      .setSeed(Seed)
      .setLabelCol("label").setFeaturesCol(PrepPipeline.FeaturesCol)

  /** L4 — Gaussian naive Bayes (train.py:140-147). */
  def gaussianNB(): NaiveBayes =
    new NaiveBayes()
      .setModelType("gaussian")
      .setLabelCol("label").setFeaturesCol(PrepPipeline.FeaturesCol)

  /** L5 — decision tree (train.py:149-159): max_depth → maxDepth,
    * min_samples_split → minInstancesPerNode (nearest semantic: both
    * gate node splitting on population size).
    */
  def decisionTree(maxDepth: Int = 5, minSamplesSplit: Int = 2)
      : DecisionTreeClassifier =
    new DecisionTreeClassifier()
      .setMaxDepth(maxDepth)
      .setMinInstancesPerNode(math.max(1, minSamplesSplit / 2))
      .setSeed(Seed)
      .setLabelCol("label").setFeaturesCol(PrepPipeline.FeaturesCol)

  /** Dispatch by the reference's model-type strings (app.py:56-83 +
    * config.ini section names).
    */
  def byName(modelType: String,
      params: Map[String, String] = Map.empty): Classifier[_, _, _] = {
    def p(k: String, d: Int): Int = params.get(k).map(_.toInt).getOrElse(d)
    modelType.toUpperCase match {
      case "LOG_REG" => logReg(p("max_iter", 100))
      case "RAND_FOREST" =>
        randomForest(p("n_estimators", 100),
          params.getOrElse("criterion", "gini"))
      case "GNB" => gaussianNB()
      case "D_TREE" | "DECISION_TREE" =>
        decisionTree(p("max_depth", 5), p("min_samples_split", 2))
      case other =>
        throw new IllegalArgumentException(s"unknown model type: $other")
    }
  }

  val ModelTypes: Seq[String] = Seq("LOG_REG", "RAND_FOREST", "GNB", "D_TREE")

  /** The hyperparameters [[byName]] parses as integers. */
  val IntParams: Seq[String] =
    Seq("max_iter", "n_estimators", "max_depth", "min_samples_split")
}
