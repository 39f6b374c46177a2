package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{ColumnStats, Preprocess}
import graft.io.Sources
import graft.ml.MultiModel

/** End-to-end reference-parity flow on CICIDS-shaped data (FIXTURES.md):
  * the full DataMaker → MultiModel pipeline
  * (/root/reference/src/preprocess.py:60-90 + train.py:26-159) with every
  * operator in its reference order: CSV scan (latin1, leading-space
  * headers) → trim → dedup → label CASE → ±inf→null → categorical drop →
  * impute/scale → SMOTE → DT fit → score bound. Plus the JSON-conform edge
  * cases and the NSL-KDD heterogeneous union.
  */
class ReferenceParitySpec extends SparkSpec {

  test("full DataMaker→MultiModel flow on a CICIDS-shaped CSV") {
    // 1. materialize as a real latin1 CSV and re-scan through S1
    val raw = CicidsFixture.generate(spark, n = 400)
    val dir = Files.createTempDirectory("graft-cicids").toString
    raw.coalesce(1).write.option("header", "true")
      .option("encoding", "iso-8859-1").mode("overwrite")
      .csv(s"$dir/flows.csv")
    val scanned = Sources.csv(spark, s"$dir/flows.csv",
      CicidsFixture.schema)
    assert(scanned.columns.forall(c => c == c.trim)) // P1

    // 2. dedup (U3): the fixture ships 5 exact duplicates
    val deduped = scanned.dropDuplicates()
    assert(deduped.count() === scanned.count() - 5)

    // 3. P4 label, P5 inf→null, P2 categorical drop
    val labeled = Preprocess.deriveLabel(deduped, "Label", "BENIGN", "label")
    val rateCols = Seq("Flow Bytes/s", "Flow Packets/s")
    val hadInf = deduped.filter(
      abs(col("Flow Bytes/s")) === Double.PositiveInfinity).count()
    assert(hadInf > 0)
    val cleaned = Preprocess.infToNull(labeled, rateCols)
    assert(cleaned.filter(
      abs(col("Flow Bytes/s")) === Double.PositiveInfinity).count() === 0)
    val modeling = Preprocess.dropTolerant(cleaned,
      Seq("Flow ID", "Source IP", "Destination IP", "Timestamp", "Label",
        "not a real column"))
    val featureCols = modeling.columns.filterNot(_ == "label").toSeq
    assert(featureCols.size === CicidsFixture.doubleCols.size)

    // 4. class imbalance present (M3), then the ML spine: impute → scale
    //    → SMOTE → DT fit → bounded score (L1, M2, L5, L6, A7)
    val counts = modeling.groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts(1) > counts(0)) // benign-heavy, as in the reference

    val withLabel = modeling.withColumn("label", col("label").cast("double"))
    val (tr, te) = MultiModel.split(withLabel)
    val t = MultiModel.train(tr, featureCols, "D_TREE",
      Map("max_depth" -> "5"), useSmote = true,
      smoteStrategy = "smote")
    val acc = MultiModel.accuracy(t.pipeline, te)
    assert(acc >= 0.0 && acc <= 1.0)

    // 5. SMOTE balanced the training matrix exactly (reference invariant)
    val in = MultiModel.fitInput(tr, featureCols, Some("smote"), k = 3)
    val smoted = try in.fitOn.groupBy("label").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
      finally in.release()
    assert(smoted(0.0) === smoted(1.0))
  }

  test("A1 null census on the fixture matches direct counts") {
    val raw = Preprocess.trimHeaders(CicidsFixture.generate(spark, 200))
    val cleaned = Preprocess.infToNull(raw,
      Seq("Flow Bytes/s", "Flow Packets/s"))
    val census = ColumnStats.nullCounts(cleaned,
      Seq("Flow Bytes/s", "Flow IAT Mean")).head()
    val direct = cleaned.filter(col("Flow Bytes/s").isNull).count()
    assert(census.getLong(0) === direct)
  }

  test("JSON scoring docs: missing and extra columns conform (P8)") {
    val dir = Files.createTempDirectory("graft-jsonconf").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/complete.json"),
      """{"X": [{"f1": 1.0, "f2": 2.0}], "y": [1]}""")
    Files.writeString(java.nio.file.Paths.get(s"$dir/partial.json"),
      """{"X": [{"f1": 3.0, "extra_col": 9.9}], "y": [0]}""")
    val target = StructType(Seq(
      StructField("f1", DoubleType), StructField("f2", DoubleType)))
    for ((f, expF2Null) <- Seq(("complete.json", false),
        ("partial.json", true))) {
      val docs = Sources.jsonDocs(spark, s"$dir/$f")
      val conformed = Preprocess.conform(docs, target)
      assert(conformed.columns.toSeq === Seq("f1", "f2"))
      assert(conformed.head().isNullAt(1) === expF2Null)
    }
  }

  test("NSL-KDD heterogeneous union (U2): outer column union + null fill") {
    import spark.implicits._
    val cicids = Seq((1.0, 2.0, 1), (3.0, 4.0, 0))
      .toDF("Flow Duration", "Flow Bytes/s", "attack_state")
    val nsl = Seq((10.0, "tcp", "http", 1), (20.0, "udp", "dns", 0))
      .toDF("duration", "protocol_type", "service", "attack_state")
    val merged = cicids.unionByName(nsl, allowMissingColumns = true)
    assert(merged.columns.length ===
      (cicids.columns.toSet ++ nsl.columns.toSet).size)
    assert(merged.count() === 4)
    // null proportions: each side's exclusive columns are null on the other
    assert(merged.filter(col("duration").isNull).count() === 2)
    assert(merged.filter(col("Flow Duration").isNull).count() === 2)
    // shared column survives fully populated
    assert(merged.filter(col("attack_state").isNull).count() === 0)
  }
}
