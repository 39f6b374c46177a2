package graft.cli

import java.nio.file.Files

import graft.SparkSpec
import graft.io.ExperimentManifest

/** End-to-end CLI parity flow: preprocess → train → score, the reference's
  * DVC pipeline (SURVEY §3.3), sharing this suite's session via
  * SPARK_MASTER being irrelevant (getOrCreate reuses the JVM session).
  */
class JobsSpec extends SparkSpec {

  test("PreprocessJob → TrainJob → ScoreJob round-trip") {
    spark // force shared session before jobs call getOrCreate
    val dataDir = Files.createTempDirectory("graft-cli-data").toString
    val modelDir = Files.createTempDirectory("graft-cli-models").toString

    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(PreprocessJob.main(Array(sf0001, dataDir)))
    assert(Files.exists(java.nio.file.Paths.get(s"$dataDir/train_X.csv")))
    // the printed counts come from the writes themselves; they must be
    // the row counts of the files written
    val printed = """"(train|test)": (\d+)""".r.findAllMatchIn(out.toString)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    val written = Seq("train", "test").map(s =>
      s -> spark.read.parquet(s"$dataDir/$s.parquet").count()).toMap
    assert(printed === written, out.toString)
    assert(written.values.forall(_ > 0))

    TrainJob.main(Array(dataDir, modelDir, "D_TREE", "max_depth=4",
      "name=cli_dtree"))
    val manifest = ExperimentManifest.read(
      s"$modelDir/cli_dtree-exp/exp_config.yaml")
    assert(manifest.modelType === "D_TREE")
    assert(manifest.metrics.contains("train_accuracy"))
    assert(manifest.inputs.head.files > 0)

    ScoreJob.main(Array(dataDir, modelDir, "cli_dtree", "smoke"))
    ScoreJob.main(Array(dataDir, modelDir, "cli_dtree", "json"))
    assert(Files.exists(java.nio.file.Paths.get(
      s"$modelDir/cli_dtree-predictions.json")))
  }

  test("X/y split files rejoin on idx (S2 contract)") {
    val dataDir = Files.createTempDirectory("graft-cli-xy").toString
    PreprocessJob.main(Array(sf0001, dataDir))
    val x = spark.read.option("header", "true").csv(s"$dataDir/train_X.csv")
    val y = spark.read.option("header", "true").csv(s"$dataDir/train_y.csv")
    val joined = x.join(y.select("idx", "label"), Seq("idx"))
    assert(joined.count() === x.count())
    assert(x.count() === y.count())
  }
}
