package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.text.NearDup

import org.apache.spark.sql.types.StringType

/** ScalaCheck properties for the distributed primitives whose
  * correctness is least obvious from their plans: the two-phase
  * prefix-sum scan (vs the single-task window cumsum it replaces, and
  * ksStat's aggregate form vs a driver-side brute force), the near-dup
  * candidate generators (vs raw-id or exhaustive references) and
  * pointer-jumping connected components (vs a driver-side union-find).
  * Samples use fixed seeds (PropertiesSpec convention: no
  * scalatest-scalacheck bridge in the offline cache), so failures are
  * reproducible.
  */
class DistributedPrimitivesPropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(2026L + i)))

  // --- PrefixSum.runningTotal vs window cumsum -------------------------

  private val deltasGen: Gen[List[Long]] =
    Gen.choose(1, 120).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-1000L, 1000L)))

  test("property: runningTotal == single-task window cumsum on random " +
      "deltas (distinct keys, negatives included)") {
    for (deltas <- samples(deltasGen, 8)) {
      // distinct, non-contiguous, unsorted keys: reverse + stride so the
      // range partitioner sees arbitrary insertion order
      val rows = deltas.zipWithIndex.map { case (v, i) =>
        Row((deltas.size - i) * 7L, v)
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 5),
        StructType(Seq(StructField("t", LongType, nullable = false),
          StructField("net", LongType, nullable = false))))
      val got = PrefixSum.runningTotal(df, "t", "net", "run")
        .orderBy(col("t")).collect()
        .map(r => (r.getLong(0), r.getLong(2)))
      val expect = df
        .withColumn("run", sum(col("net")).over(
          Window.orderBy(col("t"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .orderBy(col("t")).collect()
        .map(r => (r.getLong(0), r.getLong(2)))
      assert(got.toSeq === expect.toSeq)
    }
  }

  // --- ExactStats.ksStat vs driver-side brute-force KS ---------------

  // raw two-era observations (value, era A?) on a per-sample stride, so
  // the key span (and with it the bucket width of the two-phase scan)
  // varies and small value ranges produce ties; both eras non-empty
  private val erasGen: Gen[List[(Long, Boolean)]] =
    for {
      n <- Gen.choose(2, 150)
      stride <- Gen.choose(1L, 1000L)
      obs <- Gen.listOfN(n, Gen.zip(
        Gen.choose(-300L, 300L).map(_ * stride), Gen.oneOf(true, false)))
    } yield (0L, true) :: (stride, false) :: obs

  test("property: ksStat (value-grain two-phase scan) == driver-side " +
      "brute-force KS on random two-era inputs") {
    for ((obs, k) <- samples(erasGen, 8).zipWithIndex) {
      // value grain as q_ks_drift builds it: one row per value with its
      // per-era counts, in reverse key order over 4 partitions
      val grain = obs.groupBy(_._1).toSeq.sortBy(-_._1).map {
        case (v, os) => Row(v, os.count(_._2).toLong, os.count(!_._2).toLong)
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(grain, 4),
        StructType(Seq(StructField("cents", LongType, nullable = false),
          StructField("da", LongType, nullable = false),
          StructField("db", LongType, nullable = false))))
      val got = ExactStats.ksStat(df)
        .select("na", "nb", "at_cents", "ks_d").head()
      val (a, b) = obs.partition(_._2)
      val (na, nb) = (a.size.toLong, b.size.toLong)
      // |ca·nb − cb·na| at every pooled value; first value reaching the max
      val devs = obs.map(_._1).distinct.sorted.map { v =>
        val ca = BigInt(a.count(_._1 <= v))
        val cb = BigInt(b.count(_._1 <= v))
        v -> (ca * nb - cb * na).abs
      }
      val md = devs.map(_._2).max
      val at = devs.find(_._2 == md).get._1
      val ksD = BigDecimal(md.toDouble / (na.toDouble * nb.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert((got.getLong(0), got.getLong(1), got.getLong(2),
          got.getDouble(3)) === ((na, nb, at, ksD)),
        s"sample #$k obs=${obs.take(8)}...")
    }
  }

  // --- containmentPairs vs exhaustive subset ground truth --------------

  // small token alphabet so shared shingles (and accidental full
  // containments) arise naturally, plus planted prefix docs whose
  // 3-gram sets are subsets by construction; ~1 in 5 docs is DEGENERATE
  // (empty, whitespace-only, or < n tokens ⇒ zero shingles) to pin the
  // documented empty-set convention — no shingles ⇒ no candidate pairs,
  // vacuous ⊆ is never reported
  private val corpusGen: Gen[List[String]] =
    for {
      nDocs <- Gen.choose(4, 20)
      docs <- Gen.listOfN(nDocs, Gen.frequency(
        4 -> (for {
          len <- Gen.choose(3, 24)
          toks <- Gen.listOfN(len, Gen.oneOf(
            "a", "b", "c", "d", "e", "f", "g", "h"))
        } yield toks.mkString(" ")),
        1 -> Gen.oneOf("", "   ", "a", "a b", "b c")))
    } yield docs

  test("property: rarest-shingle containment blocking finds EXACTLY the " +
      "all-pairs shingle-subset ground truth (planted prefixes included)") {
    for ((docs, k) <- samples(corpusGen, 6).zipWithIndex) {
      // plant prefix docs (>= 5 tokens so the prefix keeps full 3-grams)
      val planted = docs.zipWithIndex.collect {
        case (d, i) if d.split(" ").length >= 8 =>
          d.split(" ").take(5).mkString(" ") -> (1000L + i)
      }
      val all = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) } ++
        planted.map { case (d, id) => (id, d) }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(all.map { case (id, t) =>
          Row(id, t) }, 3),
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("text", StringType, nullable = false))))
      val got = NearDup.containmentPairs(df, "id", "text", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // exhaustive truth over the SAME shingle semantics
      val sets = NearDup.shingleHashes(df, "text", 3)
        .select(col("id"), col("__shingle_hashes")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      // sa.nonEmpty: the documented empty-set convention — a zero-shingle
      // doc vacuously ⊆ everything but must emit no pairs. sets.toSeq is
      // LOAD-BEARING: a for-comprehension over the Map would build a
      // Map[id_a, id_b], silently collapsing every id_a contained in 2+
      // docs to its last pair (a truth bug the degenerate-doc cases
      // exposed — short docs are contained in many)
      val expect = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
        if a != b && sa.nonEmpty && sa.subsetOf(sb)
      } yield (a, b)).toSet
      assert(got === expect, s"sample #$k docs=${all.take(6)}...")
    }
  }

  // --- hashed-gram Jaccard vs driver-side string-gram Jaccard ----------

  // mixed-case tokens joined by random whitespace runs, with random
  // leading and trailing whitespace; the edge texts ride in every sample
  // (a non-space whitespace byte at either end of the trimmed text is an
  // empty token in Spark's split, so it is part of the grams)
  private val wsCorpusGen: Gen[List[String]] = {
    val ws = Gen.oneOf(" ", "  ", "\t", "\n", " \r\n")
    val edge = Gen.oneOf("", "", " ", "\t", " \t", "\n ")
    for {
      nDocs <- Gen.choose(3, 12)
      docs <- Gen.listOfN(nDocs, for {
        len <- Gen.choose(1, 9)
        toks <- Gen.listOfN(len, Gen.oneOf("a", "b", "B", "c", "abc", "d"))
        seps <- Gen.listOfN(len - 1, ws)
        lead <- edge
        trail <- edge
      } yield lead + toks.head +
        seps.zip(toks.tail).map { case (w, t) => w + t }.mkString + trail)
    } yield docs ++ List("\tabc d e", "a b c\n", "\t", "")
  }

  test("property: hashJaccard and adjacentNgramJaccard == driver-side " +
      "string-gram Jaccard on random corpora (edge whitespace included)") {
    import graft.functions.TokenNgramHashesSpec.stringGrams
    for ((docs, k) <- samples(wsCorpusGen, 6).zipWithIndex) {
      // a gap after every third id, so some docs have no right neighbor
      val all = docs.zipWithIndex.map { case (d, i) => (i + i / 3L, d) }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(all.map { case (id, t) =>
          Row(id, t) }, 3),
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("text", StringType, nullable = false))))
      val grams = all.map { case (id, t) => id -> stringGrams(t, 3) }.toMap
      def jaccard(a: Long, b: Long): Double = {
        val inter = grams(a).intersect(grams(b)).size.toDouble
        inter / (grams(a).size + grams(b).size - inter)
      }
      val ids = all.map(_._1)
      val pairs = for (a <- ids; b <- ids if a < b) yield (a, b)
      val pairsDf = spark.createDataFrame(
        spark.sparkContext.parallelize(pairs.map { case (a, b) =>
          Row(a, b) }, 3),
        StructType(Seq(StructField("id_a", LongType, nullable = false),
          StructField("id_b", LongType, nullable = false))))
      val got = NearDup.hashJaccard(df, "id", "text", pairsDf, n = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got === pairs.map { case (a, b) => (a, b, jaccard(a, b)) }.toSet,
        s"sample #$k docs=$docs")
      val adjacent = NearDup.adjacentNgramJaccard(df, "id", "text", n = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      val expectAdjacent = ids.sorted.filter(a => grams.contains(a + 1))
        .map(a => (a, a + 1, jaccard(a, a + 1)))
      assert(adjacent === expectAdjacent, s"sample #$k docs=$docs")
    }
  }

  // --- duplicate-collapsed near-dup == raw-id reference ----------------

  // duplication-HEAVY corpora: base docs from the small alphabet, then
  // each doc appears 1-4 times verbatim (distinct ids) — the shape that
  // made raw-id candidate generation quadratic and that the round-7
  // collapse rewrites must handle without changing one output row
  private val dupCorpusGen: Gen[List[String]] =
    for {
      nDocs <- Gen.choose(3, 10)
      docs <- Gen.listOfN(nDocs, for {
        len <- Gen.choose(3, 18)
        toks <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d", "e"))
      } yield toks.mkString(" "))
      reps <- Gen.listOfN(nDocs, Gen.choose(1, 4))
    } yield docs.zip(reps).flatMap { case (d, r) => List.fill(r)(d) }

  private def docsDf(docs: Seq[String]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(docs.zipWithIndex.map {
        case (d, i) => Row(i.toLong, d) }, 3),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))

  test("property: duplicate-collapsed minHashPairs == the raw-id " +
      "reference algorithm on duplication-heavy corpora") {
    for ((docs, k) <- samples(dupCorpusGen, 6).zipWithIndex) {
      val df = docsDf(docs)
      val got = NearDup.minHashPairs(df, "id", "text", minJaccard = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      // the pre-collapse algorithm, re-expressed from the same public
      // primitives: band raw ids, verify raw candidate pairs
      val sigs = NearDup.minHashSignatures(df, "id", "text")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val cand = (for {
        (a, sa) <- sigs.toSeq; (b, sb) <- sigs.toSeq
        if a < b && sa.zip(sb).exists { case (x, y) => x == y }
      } yield (a, b)).toSet
      val sets = NearDup.shingleHashes(df, "text", 3)
        .select(col("id"), col("__shingle_hashes")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      val expect = cand.flatMap { case (a, b) =>
        val inter = sets(a).intersect(sets(b)).size.toDouble
        val j = inter / (sets(a).size + sets(b).size - inter)
        if (j >= 0.5) Some((a, b, j)) else None
      }
      assert(got === expect, s"sample #$k docs=${docs.take(6)}...")
    }
  }

  test("property: simHashFpPairs over the xxhash64-distinct frame == " +
      "per-fingerprint banding + hamming on duplication-heavy corpora") {
    for ((docs, k) <- samples(dupCorpusGen, 6).zipWithIndex) {
      // the distinct-text frame q_simhash_neardup feeds the operator;
      // upper-cased copies are distinct texts (distinct fingerprints)
      // with the same shingles, so fingerprints sharing a simhash VALUE
      // occur and must pair at hamming 0
      val texts = docs ++ docs.zipWithIndex.collect {
        case (d, i) if i % 2 == 0 => d.toUpperCase }
      val dist = docsDf(texts)
        .select(xxhash64(col("text")).as("__fp"), col("text"))
        .dropDuplicates("__fp")
      val maxHamming = 6
      val numBands = 4
      val got = NearDup.simHashFpPairs(dist, "text", maxHamming,
          numBands, shingleN = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      val hashes = NearDup.simHash(dist, "__fp", "text", shingleN = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val width = 64 / numBands
      val mask = (1L << width) - 1L
      def chunks(h: Long) =
        (0 until numBands).map(i => (i, (h >>> (i * width)) & mask)).toSet
      val expect = (for {
        (a, ha) <- hashes.toSeq; (b, hb) <- hashes.toSeq
        if a < b && chunks(ha).intersect(chunks(hb)).nonEmpty
        hd = java.lang.Long.bitCount(ha ^ hb)
        if hd <= maxHamming
      } yield (a, b, hd)).toSet
      assert(got === expect, s"sample #$k docs=${docs.take(6)}...")
    }
  }

  test("property: fused side-flagged minHashPairsAcross == the raw-id " +
      "cross-shard reference on duplication-heavy corpora") {
    // round 14 session 2: the across-shards operator signs/bands ONE
    // side-flagged distinct frame instead of per-side machinery — this
    // pins its output (cross pairs ONLY, exact Jaccard) to a reference
    // built from the public per-id primitives, including texts present
    // on both sides (the fa=fb self-candidate at jaccard 1.0)
    for ((docs, k) <- samples(dupCorpusGen, 6).zipWithIndex) {
      val df = docsDf(docs)
      val corpus = df.filter(col("id") % 2 === 0)
      val batch = df.filter(col("id") % 2 === 1)
      val got = NearDup.minHashPairsAcross(corpus, batch, "id", "text",
          minJaccard = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val sigs = NearDup.minHashSignatures(df, "id", "text")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val sets = NearDup.shingleHashes(df, "text", 3)
        .select(col("id"), col("__shingle_hashes")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      // raw-id reference: candidates = (corpus id, batch id) sharing any
      // signature position; exact hashed-shingle Jaccard >= 0.5. Ids with
      // no shingles have no signature (dropped, like the operator).
      val expect = (for {
        (a, sa) <- sigs.toSeq if a % 2 == 0
        (b, sb) <- sigs.toSeq if b % 2 == 1
        if sa.zip(sb).exists { case (x, y) => x == y }
        inter = sets(a).intersect(sets(b)).size.toDouble
        j = inter / (sets(a).size + sets(b).size - inter)
        if j >= 0.5
      } yield (a, b, j)).toSet
      assert(got === expect, s"sample #$k docs=${docs.take(6)}...")
    }
  }

  test("property: duplicate-collapsed containmentPairs still matches " +
      "exhaustive subset truth on duplication-heavy corpora") {
    for ((docs, k) <- samples(dupCorpusGen, 6).zipWithIndex) {
      val df = docsDf(docs)
      val got = NearDup.containmentPairs(df, "id", "text", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sets = NearDup.shingleHashes(df, "text", 3)
        .select(col("id"), col("__shingle_hashes")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      val expect = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
        if a != b && sa.nonEmpty && sa.subsetOf(sb)
      } yield (a, b)).toSet
      assert(got === expect, s"sample #$k docs=${docs.take(6)}...")
    }
  }

  // --- connectedComponents vs driver-side union-find -------------------

  private val graphGen: Gen[(Int, List[(Long, Long)])] =
    for {
      n <- Gen.choose(2, 50)
      m <- Gen.choose(0, 80)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    } yield (n, edges.filter { case (a, b) => a != b })

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    ids.map(id => id -> find(id)).toMap
  }

  test("property: pointer-jumping components == union-find on random " +
      "graphs (min-reachable-id labels)") {
    for (((_, edges), k) <- samples(graphGen, 8).zipWithIndex
         if edges.nonEmpty) {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(
          edges.map { case (a, b) => Row(a, b) }, 3),
        StructType(Seq(StructField("id_a", LongType, nullable = false),
          StructField("id_b", LongType, nullable = false))))
      val got = NearDup.connectedComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = unionFind(edges)
      assert(got === expect, s"sample #$k edges=$edges")
    }
  }
}
