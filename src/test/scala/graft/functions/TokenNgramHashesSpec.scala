package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.NearDup

/** Units for the native token_ngram_hashes expression (the shingle-hash
  * primitive behind decontamination).
  */
class TokenNgramHashesSpec extends SparkSpec {

  import spark.implicits._
  import TokenNgramHashesSpec.stringGrams

  private def hashesOf(text: String, n: Int): Seq[Long] =
    NearDup.shingleHashes(Seq((1L, text)).toDF("id", "t"), "t", n)
      .select(col("__shingle_hashes")).head().getSeq[Long](0)

  test("gram count and equality structure match the string shingles") {
    val texts = Seq(
      "a b c d e f", "a b c d e", "x a b c d e f y",
      "one two", "single", "\tabc d e", "a b c\n", "\t", "")
    for (n <- Seq(2, 3, 5)) {
      val hs = NearDup.shingleHashes(texts.zipWithIndex.toDF("t", "id"),
          "t", n)
        .select(col("id"), col("__shingle_hashes")).collect()
        .map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
      val gs = texts.map(stringGrams(_, n))
      for (i <- texts.indices) {
        assert(hs(i).size === gs(i).size, s"text='${texts(i)}' n=$n")
        assert(hs(i).distinct.size === hs(i).size)
        // equal hashes exactly where the string grams are equal
        for (j <- texts.indices)
          assert(hs(i).intersect(hs(j)).size === gs(i).intersect(gs(j)).size,
            s"texts='${texts(i)}','${texts(j)}' n=$n")
      }
    }
  }

  test("shared windows hash equal across different documents/positions") {
    val h1 = hashesOf("p q r s t", 3)
    val h2 = hashesOf("zz p q r s t zz", 3).toSet
    // every 3-gram of doc1 appears in doc2
    assert(h1.forall(h2.contains))
    // and an unrelated doc shares nothing
    val h3 = hashesOf("totally different words here", 3).toSet
    assert(!h1.exists(h3.contains))
  }

  test("short and degenerate docs yield exactly one whole-text hash") {
    assert(hashesOf("a b", 13).size === 1)
    assert(hashesOf("", 3).size === 1)
    assert(hashesOf("   ", 3) === hashesOf("", 3)) // trim parity
    // the whole-text gram of a short doc equals the same text's full gram
    assert(hashesOf("a b c", 3) === hashesOf("x a b c", 3)
      .intersect(hashesOf("a b c", 3)))
  }

  test("case folding happens before hashing; repeated grams dedup") {
    assert(hashesOf("A B C", 3) === hashesOf("a b c", 3))
    // "a b a b a b" has 3-grams {aba, bab} twice each -> 2 distinct
    assert(hashesOf("a b a b a b", 3).size === 2)
  }
}

object TokenNgramHashesSpec {

  /** The distinct space-joined n-grams of Spark's
    * `split(trim(lower(text)), "\\s+")`, built driver-side: strip U+0020
    * only (Spark's `trim`), lower-case, split keeping leading and
    * trailing empty tokens, take n-windows (one window of all tokens
    * when there are fewer than n).
    */
  def stringGrams(text: String, n: Int): Set[String] = {
    val trimmed = text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    trimmed.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1).toSeq
      .sliding(n).map(_.mkString(" ")).toSet
  }
}
