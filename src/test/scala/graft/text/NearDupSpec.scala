package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class NearDupSpec extends SparkSpec {

  import spark.implicits._

  // two near-identical docs (one token differs), one exact pair, one
  // unrelated doc
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy cat again and again today"),
    (3L, "completely different content about spark query engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today"))
    .toDF("doc_id", "text")

  test("minHashPairs finds near and exact duplicates, skips unrelated") {
    val pairs = NearDup.minHashPairs(docs, "doc_id", "text",
        minJaccard = 0.4, numHashTables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("adjacentNgramJaccard equals hashJaccard on the adjacent pair set") {
    // gapped + shuffled ids: pair (2,3) exists, (4,5)/(1,2) partial-gap
    // cases (5 and 0 absent) must behave identically in both shapes,
    // including a doc (id 7) with NO adjacent partner at all
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy cat again and again"),
      (3L, "the quick brown fox jumps over the lazy cat again and never"),
      (4L, "completely different content about spark query engines"),
      (7L, "an island document with no neighbor either side"))
      .toDF("doc_id", "text")
    val pairs = d.select(col("doc_id").as("id_a"),
        (col("doc_id") + 1).as("id_b"))
      .join(d.select(col("doc_id").as("id_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"))
    val general = NearDup.hashJaccard(d, "doc_id", "text", pairs, n = 3)
      .orderBy(col("id_a")).collect().toSeq
    val adjacent = NearDup.adjacentNgramJaccard(d, "doc_id", "text", n = 3)
      .collect().toSeq
    assert(adjacent === general)
    assert(adjacent.map(_.getLong(0)) === Seq(1L, 2L, 3L))
  }

  test("exact-dup pair has jaccard 1.0; near-dup below 1") {
    val rows = NearDup.minHashPairs(docs, "doc_id", "text",
        minJaccard = 0.2, numHashTables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(rows((1L, 4L)) === 1.0)
    rows.get((1L, 2L)).foreach(j => assert(j > 0.2 && j < 1.0))
  }

  test("simHash is identical for identical docs, near for near-dups") {
    val sh = NearDup.simHash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(4L))
    val hamming12 = java.lang.Long.bitCount(sh(1L) ^ sh(2L))
    val hamming13 = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    assert(hamming12 < hamming13)
  }

  test("hashJaccard computes exact jaccard on given pairs") {
    val pairs = Seq((1L, 4L), (1L, 3L)).toDF("id_a", "id_b")
    val out = NearDup.hashJaccard(docs, "doc_id", "text", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(out((1L, 4L)) === 1.0)
    assert(out((1L, 3L)) === 0.0)
  }

  test("langId classifies real-language samples") {
    val samples = Seq(
      (1L, "the cat is on the mat and it is happy"),
      (2L, "el gato que vive en la casa de los vecinos"),
      (3L, "der hund ist nicht in das haus und der garten"),
      (4L, "le chien est dans la maison et les jardins"),
      (5L, "xyzzy plugh quux")).toDF("id", "text")
    val got = samples.select(col("id"), TextStats.langId(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "fr",
      5L -> "und"))
  }

  test("quality score is in [0,1] band and rewards stopword-bearing text") {
    val df = Seq(
      (1L, ("the of and to in is " * 10).trim),
      (2L, "%%% ### !!! @@@")).toDF("id", "text")
    val q = df.select(col("id"),
        TextStats.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(1L) > 0.9)
    assert(q(2L) < 0.3)
  }
}
