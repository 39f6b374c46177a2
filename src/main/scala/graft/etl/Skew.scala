package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling join helper: salting for hot keys.
  *
  * AQE's skew-join splitting (enabled session-wide) handles most runtime
  * skew; explicit salting remains the tool when one key dominates so
  * heavily that even split partitions bottleneck, or when the small side
  * must not be broadcast. The big side gets a random-but-deterministic
  * salt in [0, buckets); the small side is exploded ×buckets so every
  * (key, salt) pair finds its match. Shuffle then distributes each hot
  * key over `buckets` reducers.
  *
  * Round-14 measurement (OPTIMIZATION_r14.md Item 8, sf10,
  * SPARK_GRAFT_PROFILE=cluster — AQE skewJoin ON): plain join 1.69 s,
  * [[hotSaltedJoin]] 3.20 s, full [[saltedJoin]] 16.6 s min. On the
  * gate's mild-skew custkey data AQE alone wins by ~2× over even the
  * hot-only variant — these operators are for the skew regime AQE's
  * partition-splitting cannot fix (a single key larger than an
  * executor's memory, or a non-broadcastable small side), not a default
  * substitute for it.
  */
object Skew {

  /** Equi-join `big ⋈ small` on `key`, salted into `buckets` partitions
    * per key. `small` grows ×buckets — keep it the dimension side.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      buckets: Int = 8, joinType: String = "inner"): DataFrame = {
    require(buckets > 0)
    // the small side is exploded ×buckets, so join types that emit
    // UNMATCHED small-side rows (right/full outer) would duplicate each
    // such row `buckets` times — reject them rather than return a wrong
    // multiset
    val jt = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "cross")(jt),
      s"saltedJoin supports inner/left/left_semi joins, not $joinType " +
        "(the exploded small side breaks right/full-outer multiplicity)")
    // deterministic salt: hash of the whole row spreads a hot key's rows
    // uniformly without an RNG (re-runs produce identical plans/results)
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(big.columns.map(col).toIndexedSeq: _*), lit(buckets))
        .cast("int"))
    val saltedSmall = small
      .withColumn("__salt",
        explode(sequence(lit(0), lit(buckets - 1))))
    saltedBig.join(saltedSmall, Seq(key, "__salt"), joinType)
      .drop("__salt")
  }

  /** [[saltedJoin]] that salts ONLY the keys that are actually hot on
    * the big side; every other key takes the plain co-partitioned path.
    *
    * Full salting multiplies the ENTIRE small side ×buckets — at 100 TB
    * that pays the fan-out for millions of cold keys to fix a handful of
    * hot ones. Here hot keys are found with one exact count-by-key over
    * the big side (map-side partial agg, so the shuffle is key-grain —
    * dimension-sized by construction, never fact-sized), broadcast to
    * split both inputs, and the two joins union back to exactly the
    * plain join's multiset: the key sets are disjoint, so each big row
    * matches in exactly one branch.
    *
    * Cost trade-off vs [[saltedJoin]]: this shape EXECUTES THE BIG SIDE
    * THREE TIMES — the count-by-key pass plus the left_semi/left_anti
    * split branches. When `big` is a cheap columnar scan the extra
    * passes are pruned-column reads and the avoided ×buckets fan-out
    * dominates; when `big` is itself an expensive subplan (joins, regex,
    * exploded arrays), persist or localCheckpoint it first — or prefer
    * full [[saltedJoin]] when the small side is tiny enough that its
    * fan-out costs less than two extra big-side executions.
    *
    * @param hotThreshold rows-per-key on the big side above which a key
    *   is salted. Pick it so the hot set stays broadcast-able (the hot
    *   frame has at most |big|/hotThreshold keys).
    */
  def hotSaltedJoin(big: DataFrame, small: DataFrame, key: String,
      buckets: Int = 8, hotThreshold: Long = 1000000L,
      joinType: String = "inner"): DataFrame = {
    require(buckets > 0 && hotThreshold > 0)
    val jt = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi")(jt),
      s"hotSaltedJoin supports inner/left/left_semi joins, not $joinType")
    val hot = broadcast(
      big.groupBy(col(key)).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > hotThreshold)
        .select(col(key)))
    val bigHot = big.join(hot, Seq(key), "left_semi")
    val bigCold = big.join(hot, Seq(key), "left_anti")
    val smallHot = small.join(hot, Seq(key), "left_semi")
    val smallCold = small.join(hot, Seq(key), "left_anti")
    saltedJoin(bigHot, smallHot, key, buckets, joinType)
      .unionByName(bigCold.join(smallCold, Seq(key), joinType))
  }
}
