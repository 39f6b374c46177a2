package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-point integer PageRank over an edge list.
  *
  * Ranks are BIGINT micro-units (`scale` total mass, default 1e12), and
  * every operation is integer multiply / integer `div` / integer sum —
  * so the result is bit-exact, independent of partitioning, task order,
  * and parallelism. That is what makes the operator ORACLE-GATEABLE:
  * a double-typed PageRank would diverge between engines in the last
  * ulp because floating-point addition is not associative, while the
  * fixed-point form is reproducible anywhere (and the deterministic
  * output is equally valuable in production: reruns of a 100 TB link
  * graph produce byte-identical rank tables, so downstream incremental
  * jobs see no spurious diffs).
  *
  * Per iteration: one shuffle join of ranks onto edges by src + one
  * aggregate by dst — the standard distributed PageRank shape. On a
  * real cluster both sides should be bucketed by id so the join is
  * shuffle-free after the first iteration; here the plan re-shuffles
  * per iteration, which AQE coalesces at small SF. Iterations are
  * bounded (the caller picks K), so plan depth is K joins — no
  * driver-side loop state beyond plan construction, no collect.
  *
  * Dangling mass: nodes with out-degree 0 simply leak their 0.85
  * share (standard "remove dangling mass" variant); the gate asserts
  * relative order + exact values, not mass conservation, and the
  * reference edge constructions used by the queries give every node
  * a fixed out-degree anyway.
  */
object PageRank {

  /** @param nodes  one row per node: (idCol)
    * @param edges  (srcCol, dstCol) pairs; parallel edges allowed
    * @return (idCol, rank: long) — rank in `scale` micro-units
    */
  def run(nodes: DataFrame, edges: DataFrame, idCol: String,
      srcCol: String, dstCol: String, iterations: Int,
      damping: Int = 85, scale: Long = 1000000000000L,
      edgeCacheKey: Option[String] = None): DataFrame = {
    require(iterations >= 1 && damping >= 0 && damping <= 100)
    val n = nodes.select(count(lit(1)).as("__n"))
    // out-degree per node, joined once onto edges (broadcast-sized for
    // host graphs; key-partitioned for doc graphs — Spark picks by
    // stats). Each edge carries its src's outdeg so the per-iteration
    // contribution is a pure projection.
    val outdeg = edges.groupBy(col(srcCol)).agg(count(lit(1)).as("__deg"))
    // Materialize the degree-annotated edge list ONCE, hash-partitioned
    // by src — the in-memory analogue of a src-bucketed table layout
    // (io/Bucketing.scala proves the on-disk variant). The FrameCache
    // checkpoint declares the build's outputPartitioning, so every
    // iteration's join-by-src consumes the edges WITHOUT a new Exchange:
    // only the (node-sized) rank frame moves per iteration, instead of
    // re-shuffling the whole edge list K times. At 100 TB the edge list
    // is the graph's dominant volume, so this turns K edge shuffles into
    // one (PlanAuditSpec pins it). NOT a plain Dataset.localCheckpoint:
    // the LogicalRDD it produces reports UnknownPartitioning — the layout
    // would survive physically but be invisible to EnsureRequirements,
    // putting the per-iteration Exchange right back. Callers without a
    // cache key get the UN-repartitioned plan: a small (broadcast-able)
    // edge side then pays ZERO exchanges, and a big one still shuffles
    // only once because ReuseExchange dedupes the K identical join
    // subtrees — forcing the repartition there would make small-graph
    // callers pay a shuffle the optimizer would otherwise skip.
    val e = edgeCacheKey match {
      case Some(k) =>
        graft.core.FrameCache.cached(nodes.sparkSession, k) {
          edges.join(outdeg, srcCol).repartition(col(srcCol))
        }
      case None => edges.join(outdeg, srcCol)
    }
    // teleport share per node: ((scale * (100-damping)) div 100) div n
    // — all integer, n carried in-plan via the broadcast 1-row count
    var ranks = nodes
      .crossJoin(broadcast(n))
      .select(col(idCol), expr(s"${scale}L div __n").as("rank"),
        col("__n"))
    (1 to iterations).foreach { _ =>
      val contribs = e
        .join(ranks.select(col(idCol).as(srcCol), col("rank")), srcCol)
        .select(col(dstCol).as(idCol),
          expr(s"(rank * $damping div 100) div __deg").as("__c"))
        .groupBy(col(idCol))
        .agg(sum(col("__c")).as("__m"))
      ranks = ranks.select(col(idCol), col("__n"))
        .join(contribs, Seq(idCol), "left")
        .select(col(idCol),
          (expr(s"(${scale}L * ${100 - damping} div 100) div __n") +
            coalesce(col("__m"), lit(0L))).as("rank"),
          col("__n"))
    }
    ranks.select(col(idCol), col("rank"))
  }
}
