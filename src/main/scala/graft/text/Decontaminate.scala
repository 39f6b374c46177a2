package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination for pretraining corpora: flag training
  * documents that share any long token n-gram (13-gram by convention)
  * with an evaluation benchmark, so eval items quoted verbatim in the
  * corpus can be dropped before training.
  *
  * Scale design: benchmark suites are tiny next to a 100 TB corpus
  * (~1e6 items ⇒ ~1e7 distinct 13-grams, a few hundred MB of hashes),
  * so the benchmark n-gram set is the BROADCAST side of a semi-join
  * against the corpus's exploded n-grams. The corpus is scanned once
  * and never shuffled for matching; only the (doc, hit) pairs — a
  * vanishingly small fraction — reach the per-doc aggregation. Never
  * an all-pairs or corpus-vs-corpus join.
  */
object Decontaminate {

  /** Distinct n-gram hashes of the benchmark texts (the broadcast
    * set). Shingles are 64-bit rolling hashes, not strings
    * (`NearDup.shingleHashes`): only identity matters here, and the
    * hash form skips the O(n²)-char gram construction. Both sides of a
    * decontamination run use the same tokenization + hash, so equality
    * structure is preserved.
    *
    * @return single-column frame (__bench_ngram: long)
    */
  def benchmarkNgrams(bench: DataFrame, textCol: String,
      n: Int = 13): DataFrame =
    NearDup.shingleHashes(bench, textCol, n)
      .select(explode(col("__shingle_hashes")).as("__bench_ngram"))
      .distinct()

  /** Contaminated training docs: any doc sharing >= 1 n-gram with the
    * benchmark set, with the count of distinct shared n-grams.
    *
    * @return (idCol, n_overlap) — one row per contaminated doc
    */
  def contaminated(train: DataFrame, benchNgrams: DataFrame,
      idCol: String, textCol: String, n: Int = 13): DataFrame = {
    val tg = NearDup.shingleHashes(train, textCol, n)
      .select(col(idCol), explode(col("__shingle_hashes")).as("__ngram"))
    // inner join against the deduplicated broadcast set: each (doc,
    // shared-ngram) survives exactly once because both sides are
    // distinct (shingleHashes() dedups per doc), so the count is
    // |shared distinct n-grams|
    tg.join(broadcast(benchNgrams),
        col("__ngram") === col("__bench_ngram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
  }
}
