package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Near-duplicate detection for document corpora: MinHash+LSH candidate
  * generation with exact n-gram Jaccard verification, and SimHash
  * fingerprints with banded bucketing.
  *
  * Scale design: both paths are strictly bucket-local — MinHashLSH joins
  * only within matching hash bands and SimHash only within matching 16-bit
  * chunks, so candidate generation is O(bucket²·buckets), never a corpus
  * cross join. Exact Jaccard runs only on the candidate pairs.
  */
object NearDup {

  /** 64-bit rolling-hash token n-gram shingles of a text column, as a
    * distinct array. The grams are those of Spark's
    * `split(trim(lower(text)), "\\s+")`, so shingle identity is the
    * string gram's identity and only equality-based consumers (joins,
    * intersections, min-hashes) read them: building the n-gram STRINGS
    * would be wasted allocation, and at n=13 even a hash-only zip_with
    * fold pays n-1 interpreted-lambda layers per row (HOFs never enter
    * codegen; measured 3.5 s per sf0.1 corpus pass). Delegates to the
    * native codegen'd [[graft.functions.TokenNgramHashes]] expression —
    * one fused JVM tokenize+hash loop per row (~0.1 s same pass).
    * Collision probability for a 100 TB corpus (~1e12 distinct n-grams)
    * is ~1e-7 per pair lookup — and deterministic, so a gate that passes
    * is stable.
    *
    * Docs with fewer than n tokens yield one hash over all tokens, so a
    * doc always has at least one shingle (the empty token's, for empty
    * text).
    */
  def shingleHashes(df: DataFrame, textCol: String, n: Int = 13,
      seed: Long = 42L): DataFrame =
    df.withColumn("__shingle_hashes",
      graft.functions.TokenNgramHashes.token_ngram_hashes(
        lower(col(textCol)), n, seed))

  /** Per-document MinHash signatures: `numHashes` independent min-hashes
    * over the shingle set. Shape: explode the shingle array (the shingle
    * expression is evaluated exactly ONCE per document by the Generate
    * operator), then `numHashes` codegen'd min-aggregates over
    * `xxhash64(shingle, seed+i)` — partial aggregation reduces each
    * partition to one row per document before the single small shuffle.
    * (An array-HOF formulation — array_min(transform(shingles, hash)) × 8
    * — was tried and rejected: projection collapse inlines the whole
    * shingle-construction tree into every element-wise lambda, exploding
    * evaluation cost at sf0.1.)
    *
    * Documents with no shingles are dropped (no signature ⇒ no
    * candidates), matching MinHash semantics over an empty set.
    *
    * @return (__id, __sig: array<long> of length numHashes)
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 8, seed: Long = 42L): DataFrame = {
    // shingle features are the native 64-bit rolling hashes, not strings:
    // the string-shingle construction (an n-1-layer interpreted zip_with
    // fold, then per-string xxhash64) was the dominant cost of the whole
    // near-dup family; the fused tokenize+hash expression builds the same
    // distinct feature set in one codegen'd pass
    val ex = shingleHashes(df, textCol, n, seed)
      .select(col(idCol).as("__id"),
        explode(col("__shingle_hashes")).as("__s"))
    val mins = (0 until numHashes).map(i =>
      // xxhash64(hash, seed+i) = the i-th independent hash family member
      min(xxhash64(col("__s"), lit(seed + i))).as(s"__mh$i"))
    ex.groupBy(col("__id")).agg(mins.head, mins.tail: _*)
      .select(col("__id"),
        array((0 until numHashes).map(i => col(s"__mh$i")): _*).as("__sig"))
  }

  /** MinHash-LSH near-dup candidate pairs with exact Jaccard verification.
    *
    * Candidate generation: pairs agreeing on ANY of the `numHashes`
    * signature positions (numHashes bands × 1 row — the same
    * OR-construction as `numHashes` LSH hash tables, so a true pair at
    * Jaccard j is missed with probability (1-j)^numHashes, ~1e-8 at
    * j=0.9, numHashes=8). The join is strictly band-local: the only
    * shuffle is of (band, hash, id) triples, numHashes rows per document.
    * Exact n-gram Jaccard then verifies every candidate, so the OUTPUT is
    * exactly the true pair set the candidates cover — the signature step
    * affects completeness only, never precision.
    *
    * (Replaces a Spark ML MinHashLSH.approxSimilarityJoin implementation:
    * semantics identical, but this form is plain codegen'd expressions —
    * no sparse-vector UDTs, no per-row hash-UDF calls, no persisted TF
    * frame — measured ~3× faster end to end at sf0.1.)
    *
    * Duplicate-collapsed (round-7 sf1 sweep finding): banding and the
    * Jaccard verify run on DISTINCT texts (64-bit text fingerprint), and
    * member ids join back only at the end — on duplicate-heavy corpora
    * the raw-id form is quadratic in copy count (10 exact copies ⇒ 100×
    * the candidate pairs for zero information). Identical-text pairs
    * have Jaccard exactly 1.0 by definition (same shingle set), so the
    * within-group expansion emits the constant the verify would compute.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b and jaccard >= minJaccard
    */
  def minHashPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashTables: Int = 8,
      minJaccard: Double = 0.5, seed: Long = 42L): DataFrame = {
    val fp = xxhash64(col(textCol))
    val members = df.select(fp.as("__fp"), col(idCol).as("__mid"))
      .localCheckpoint()
    val dist = df.select(fp.as("__fp"), col(textCol))
      .dropDuplicates("__fp")
    val fpPairs = minHashFpPairs(dist, textCol, n, numHashTables,
      minJaccard, seed)
    val cross = fpPairs
      .join(members.select(col("__fp").as("__fa"),
        col("__mid").as("__ia")), Seq("__fa"))
      .join(members.select(col("__fp").as("__fb"),
        col("__mid").as("__ib")), Seq("__fb"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("jaccard"))
    val within = members.select(col("__fp"), col("__mid").as("id_a"))
      .join(members.select(col("__fp"), col("__mid").as("id_b")),
        Seq("__fp"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0d).as("jaccard"))
      .filter(lit(1.0d) >= lit(minJaccard))
    cross.unionByName(within)
  }

  /** The distinct-text core of [[minHashPairs]]: banding + exact Jaccard
    * verify over a frame that is ALREADY one row per text fingerprint
    * (`__fp` = xxhash64(textCol), `textCol`). Consumers that operate on
    * collapsed text groups and attach member weights/representatives
    * themselves (q_neardup_pair_stats, q_neardup_topk_pairs) call this
    * directly — wrapping it in [[minHashPairs]] paid, per query, an
    * extra members localCheckpoint job, a redundant dropDuplicates
    * exchange, two identity member joins and a structurally empty
    * within-group branch (round-13 verdict #6 probe: the stats gate
    * itself is cheap; the machinery around candidate gen was the cost).
    *
    * @return (__fa, __fb, jaccard): fingerprint pairs, __fa < __fb
    *         (long order), jaccard >= minJaccard
    */
  def minHashFpPairs(dist: DataFrame, textCol: String,
      n: Int = 3, numHashTables: Int = 8,
      minJaccard: Double = 0.5, seed: Long = 42L): DataFrame = {
    val sigs = minHashSignatures(dist, "__fp", textCol, n, numHashTables,
      seed)
    val banded = sigs.select(col("__id"),
      posexplode(col("__sig")).as(Seq("__band", "__h")))
    val a = banded.select(col("__band"), col("__h"), col("__id").as("__fa"))
    val b = banded.select(col("__band"), col("__h"), col("__id").as("__fb"))
    val cand = a.join(b, Seq("__band", "__h"))
      .filter(col("__fa") < col("__fb"))
      .select(col("__fa"), col("__fb"))
      .dropDuplicates("__fa", "__fb")
    hashJaccard(dist, "__fp", textCol,
        cand.select(col("__fa").as("id_a"), col("__fb").as("id_b")), n)
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a").as("__fa"), col("id_b").as("__fb"),
        col("jaccard"))
  }

  /** Incremental (cross-shard) MinHash-LSH near-dup: candidate pairs
    * connect a BATCH document to a CORPUS document only — never corpus ×
    * corpus — which is the ingest-time dedup shape: the standing corpus
    * is already deduped, so re-banding it against itself every increment
    * would be O(|corpus|²) wasted candidates. Cost per increment is
    * banding both sides (numHashes rows per doc; at 100 TB the corpus
    * signatures are computed once and stored, so only the batch side is
    * fresh work) plus a band-bucket equi-join whose small side is the
    * batch — AQE broadcasts it when it fits. Verification is the same
    * exact hashed-shingle Jaccard as [[minHashPairs]]: the signature
    * step affects completeness only, never precision.
    *
    * Caller guarantees corpus and batch id sets are disjoint.
    *
    * @return (id_a = corpus id, id_b = batch id, jaccard >= minJaccard)
    */
  def minHashPairsAcross(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, n: Int = 3, numHashTables: Int = 8,
      minJaccard: Double = 0.5, seed: Long = 42L): DataFrame = {
    // duplicate-collapsed like minHashPairs: band and verify DISTINCT
    // texts, expand member ids last — the raw-id form is quadratic in
    // per-side copy counts.
    //
    // Round 14 (session 2): ONE side-flagged distinct frame instead of
    // per-side machinery. The previous form localCheckpointed both member
    // frames (2 eager jobs buying nothing — each is consumed exactly
    // once), deduped each side separately (2 exchanges), SIGNED each side
    // separately (2 shingle+minhash passes — a both-sides text was signed
    // twice), and re-deduped the union for the verify (3rd exchange). Now
    // the sides union into one groupBy(fingerprint) carrying membership
    // flags (first(text) is THE group's text — identical texts share a
    // fingerprint), signatures and banding run ONCE over it, and the band
    // join's sides are flag filters of the same banded frame. Candidate
    // set provably identical: signatures are a pure function of text, so
    // per-side banding of per-side distinct rows = flag-filtered banding
    // of union-distinct rows (row-exact against the previous form, as
    // recorded in OPTIMIZATION_r14.md "q_neardup_incremental", and
    // property-tested vs the raw-id reference). A text on BOTH sides has
    // both flags set; its fa=fb self-candidate verifies at exact 1.0 as
    // before. The distinct frame is localCheckpointed — it feeds the
    // signature branch, the verify's shingle frame and the flag join
    // (3 consumers). Same-JVM measurement: −19% at sf0.1.
    val fp = xxhash64(col(textCol))
    val cMembers = corpus.select(fp.as("__fa"), col(idCol).as("__cid"))
    val bMembers = batch.select(fp.as("__fb"), col(idCol).as("__bid"))
    val dist = corpus.select(fp.as("__fp"), col(textCol),
        lit(true).as("__inC"), lit(false).as("__inB"))
      .unionByName(batch.select(fp.as("__fp"), col(textCol),
        lit(false).as("__inC"), lit(true).as("__inB")))
      .groupBy(col("__fp"))
      .agg(first(col(textCol)).as(textCol),
        max(col("__inC")).as("__inC"), max(col("__inB")).as("__inB"))
      .localCheckpoint()
    val sigs = minHashSignatures(dist, "__fp", textCol, n, numHashTables,
        seed)
      .join(dist.select(col("__fp").as("__id"), col("__inC"),
        col("__inB")), Seq("__id"))
    val banded = sigs.select(col("__id"), col("__inC"), col("__inB"),
      posexplode(col("__sig")).as(Seq("__band", "__h")))
    val cand = banded.filter(col("__inC"))
      .select(col("__band"), col("__h"), col("__id").as("__fa"))
      .join(banded.filter(col("__inB"))
        .select(col("__band"), col("__h"), col("__id").as("__fb")),
        Seq("__band", "__h"))
      .select(col("__fa"), col("__fb"))
      .dropDuplicates("__fa", "__fb")
    val fpPairs = hashJaccard(dist, "__fp", textCol,
        cand.select(col("__fa").as("id_a"), col("__fb").as("id_b")),
        n, seed)
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a").as("__fa"), col("id_b").as("__fb"),
        col("jaccard"))
    fpPairs
      .join(cMembers, Seq("__fa"))
      .join(bMembers, Seq("__fb"))
      .select(col("__cid").as("id_a"), col("__bid").as("id_b"),
        col("jaccard"))
  }

  /** All (id_a, id_b) pairs with shingles(A) ⊆ shingles(B), a ≠ b — the
    * full-containment (inclusion/quotation) dedup case Jaccard near-dup
    * misses: a short doc fully embedded in a longer one has tiny Jaccard
    * but containment 1.0.
    *
    * Candidate generation is RAREST-SHINGLE BLOCKING and it is COMPLETE,
    * not approximate: if S_A ⊆ S_B, then A's globally rarest shingle
    * (tie-broken (count, hash) — deterministic) is in B, so the pair
    * surfaces in that shingle's posting list. Candidate volume is
    * Σ_A |posting(rarest(A))| — rarest shingles have the SHORTEST
    * posting lists, the classic record-linkage blocking bound — and the
    * exact subset verify joins only candidate pairs' shingle sets, never
    * all-pairs. Runs entirely on the 64-bit rolling-hash shingles
    * (equality-only ops; ~1e-15 collision odds per pair, deterministic).
    * Completeness is property-tested against exhaustive all-pairs subset
    * truth on random corpora — including empty/short docs —
    * (DistributedPrimitivesPropertySpec).
    *
    * Degenerate-doc convention (inherited from TokenNgramHashes, and
    * property-tested): a text with fewer than `n` tokens hashes as ONE
    * whole-text gram, and an empty or all-space text as one hash of the
    * empty token — so NO document ever has an empty shingle set, and the
    * vacuous-⊆ trap (a blank doc "contained in" the entire corpus) is
    * structurally impossible. A short doc pairs exactly with docs whose
    * sets contain its whole-text gram (its verbatim short duplicates),
    * and blank docs pair only with other blank docs.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val (members, setPairs) = containmentSetPairs(df, idCol, textCol, n)
    containmentExpand(members, setPairs)
  }

  /** Member-level expansion of [[containmentSetPairs]] frames — exposed
    * standalone (round 14, session 2) so consumers holding cached
    * (members, setPairs) frames expand without re-running blocking +
    * verify. Exactly [[containmentPairs]]' expansion: strict set pairs
    * expand cross-product, equal sets (same digest) contain each other —
    * every ordered pair within a duplicate group, both directions.
    */
  def containmentExpand(members: DataFrame, setPairs: DataFrame)
      : DataFrame = {
    val cross = setPairs
      .join(members.select(col("__did").as("__da"), col("__id").as("id_a")),
        Seq("__da"))
      .join(members.select(col("__did").as("__db"), col("__id").as("id_b")),
        Seq("__db"))
      .select(col("id_a"), col("id_b"))
    val within = members.select(col("__did"), col("__id").as("id_a"))
      .join(members.select(col("__did"), col("__id").as("id_b")),
        Seq("__did"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
    cross.unionByName(within)
  }

  /** The COLLAPSED (distinct-shingle-set-level) core of
    * [[containmentPairs]]: blocking and the exact subset verify, before
    * any member expansion.
    *
    * DUPLICATE-COLLAPSED blocking (round-7 sf1 sweep finding): web
    * corpora are duplicate-heavy, and running blocking + verify on raw
    * ids is QUADRATIC in copy count — 10 exact copies of every doc
    * multiplied the candidate volume 100× and took the 10× sweep 65×
    * longer. Identical shingle SETS collapse to one representative
    * (64-bit digest of the sorted-distinct hash array — same ~1e-15
    * collision budget as the shingle hashes themselves); blocking,
    * posting lists and the subset verify all run on DISTINCT sets.
    *
    * @return (members, setPairs): members = (__did, __id) mapping every
    *   document to its set digest; setPairs = (__da, __db) STRICT
    *   set-level containments (set __da ⊂ set __db — distinct digests ⇒
    *   distinct sets; equal sets share one __did and appear only in
    *   members). Member-level expansion is inherently copy-quadratic
    *   (Σ cnt_a·cnt_b); bounded consumers (stats gates, survivorship)
    *   must aggregate on these frames and never expand — the 100 TB
    *   guidance in SCALE.md.
    */
  def containmentSetPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): (DataFrame, DataFrame) = {
    val g = shingleHashes(df, textCol, n)
      .select(col(idCol).as("__id"), col("__shingle_hashes").as("__hs"))
      .withColumn("__did", xxhash64(col("__hs")))
    val members = g.select(col("__did"), col("__id")).localCheckpoint()
    // one row per distinct set (all __hs in a group are identical)
    val sh = g.groupBy(col("__did")).agg(min(col("__hs")).as("__hs"))
      .select(col("__did"), explode(col("__hs")).as("__sh"))
      .localCheckpoint()
    val counts = sh.groupBy(col("__sh")).agg(count(lit(1)).as("__cnt"))
    val sizes = sh.groupBy(col("__did")).agg(count(lit(1)).as("__nsh"))
    // completeness argument unchanged in the distinct-set universe: if
    // S_a ⊆ S_b, a's rarest-among-distinct-sets shingle is still in b
    val rare = sh.join(counts, Seq("__sh"))
      .groupBy(col("__did"))
      .agg(min(struct(col("__cnt"), col("__sh"))).as("__m"))
      .select(col("__did").as("__da"), col("__m.__sh").as("__rsh"))
    val cands = rare
      .join(sh.select(col("__did").as("__db"), col("__sh").as("__rsh")),
        Seq("__rsh"))
      .filter(col("__da") =!= col("__db"))
      .select(col("__da"), col("__db"))
    val common = cands
      .join(sh.select(col("__did").as("__da"), col("__sh")), Seq("__da"))
      .join(sh.select(col("__did").as("__db"), col("__sh")),
        Seq("__db", "__sh"))
      .groupBy(col("__da"), col("__db"))
      .agg(count(lit(1)).as("__ncommon"))
    // distinct digests ⇒ distinct sets ⇒ these are STRICT containments
    val setPairs = common
      .join(sizes.select(col("__did").as("__da"), col("__nsh")),
        Seq("__da"))
      .filter(col("__ncommon") === col("__nsh"))
      .select(col("__da"), col("__db"))
    (members, setPairs)
  }

  /** Exact n-gram Jaccard for given candidate pairs (ids joined back to
    * texts) — the verification half of [[minHashPairs]] exposed
    * standalone. It intersects the hashed shingle sets, so it is the
    * string-gram Jaccard up to 64-bit hash collisions inside a document
    * pair's shingle union (probability ~|set|²·2⁻⁶⁴ ≈ 1e-15 per pair at
    * ~200 shingles/doc; the near-dup gates hash-match DuckDB's
    * STRING-shingle Jaccard at both test scales, confirming zero
    * collisions there). Intersecting longs instead of strings keeps the
    * verify stage inside the same fused-hash fast path as candidate
    * generation.
    */
  def hashJaccard(df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, n: Int = 3, seed: Long = 42L): DataFrame = {
    val sh = shingleHashes(df, textCol, n, seed)
      .select(col(idCol).as("__jid"), col("__shingle_hashes"))
    val a = pairs.join(sh, pairs("id_a") === col("__jid"))
      .withColumnRenamed("__shingle_hashes", "__sa").drop("__jid")
    val b = a.join(sh, a("id_b") === col("__jid"))
      .withColumnRenamed("__shingle_hashes", "__sb").drop("__jid")
    b.withColumn("__inter",
        size(array_intersect(col("__sa"), col("__sb"))).cast("double"))
      .withColumn("jaccard",
        col("__inter") /
          (size(col("__sa")) + size(col("__sb")) - col("__inter")))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** [[hashJaccard]] specialized to the ADJACENT pair set
    * {(id, id+1) | both ids present} — the sliding-window verification
    * sweep. Exploits the arithmetic pair structure for a plan the
    * general join shape can't reach (round-12 sf10 decomposition,
    * 16.0 s → 2.4 s):
    *
    *   - each doc's shingle array is tagged to the (at most) two pairs
    *     it serves — pair id as the LEFT member, pair id-1 as the
    *     RIGHT — and assembled by one groupBy(pid): ONE exchange moving
    *     each array twice, where the join shape moves arrays ~3x across
    *     two exchanges and computes the shingles twice;
    *   - `first(when(role...), ignoreNulls)` is deterministic here —
    *     exactly one row per role per pair — and partial-aggregates
    *     map-side;
    *   - the skinny (id_a, id_b, jaccard) result is lazily
    *     localCheckpoint'ed before the global sort, so the sort's
    *     range-sampling job materializes the pipeline ONCE and the main
    *     job re-reads 24-byte rows — without it the sampling pass
    *     re-executes the assembly+intersect (+3.6 s at sf10).
    *
    * PRECONDITION: `idCol` values must be UNIQUE (this is part of the
    * public contract). With duplicate ids the
    * `first(when(role...), ignoreNulls)` picks an arbitrary row per role,
    * diverging from [[hashJaccard]]'s multiset semantics, which would
    * emit one row per matching id pair.
    *
    * Output ordered by id_a (equality with hashJaccard on the same
    * pair set is spec-pinned; the registered query is oracle-gated).
    */
  def adjacentNgramJaccard(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val sh = shingleHashes(df, textCol, n)
      .select(col(idCol).as("__id"), col("__shingle_hashes").as("__sh"))
    val tagged = sh.select(explode(array(
      struct(col("__id").as("pid"), lit(0).as("role"), col("__sh").as("arr")),
      struct((col("__id") - 1).as("pid"), lit(1).as("role"),
        col("__sh").as("arr")))).as("x"))
      .select(col("x.pid"), col("x.role"), col("x.arr"))
    val g = tagged.groupBy(col("pid"))
      .agg(first(when(col("role") === 0, col("arr")), ignoreNulls = true)
        .as("__sa"),
        first(when(col("role") === 1, col("arr")), ignoreNulls = true)
          .as("__sb"))
      .filter(col("__sa").isNotNull && col("__sb").isNotNull)
    val inter = size(array_intersect(col("__sa"), col("__sb")))
      .cast("double")
    g.select(col("pid").as("id_a"), (col("pid") + 1).as("id_b"),
        (inter / (size(col("__sa")) + size(col("__sb")) - inter))
          .as("jaccard"))
      .localCheckpoint(false)
      .orderBy(col("id_a"))
  }

  /** Connected components over an undirected candidate-pair edge list —
    * the cluster step of corpus dedup: near-dup PAIRS don't dedup a
    * corpus, components do (keep one representative per cluster, even
    * when similarity is only transitive A~B~C).
    *
    * Algorithm: min-label propagation with pointer jumping. Each round
    * (a) lowers every node's label to the min label in its neighborhood,
    * (b) shortcuts label chains by joining labels onto themselves
    * (label := label(label)). Shortcutting makes chains collapse in
    * O(log n) rounds instead of O(n) — a 10⁹-node graph at 100 TB
    * converges in ~30 join rounds, each a plain shuffled equi join. The
    * driver loop carries only the convergence flag, never data.
    *
    * @param edges (id_a, id_b) pairs, any orientation, dups fine
    * @return (id, component) — component = min node id reachable
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    val sym = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
    val nodes = sym.select(col("src").as("id")).distinct()
    // localCheckpoint (not persist): the loop self-joins labels, so the
    // lineage doubles per round — without truncation the logical plan
    // grows 2^rounds and planning itself OOMs. On a cluster prefer
    // reliable checkpoint() with a checkpoint dir for fault tolerance.
    var labels = nodes.withColumn("component", col("id"))
      .localCheckpoint(true)
    // convergence detector: labels only ever DECREASE under min-label
    // propagation, so the exact label sum strictly decreases until the
    // fixpoint — comparing one decimal aggregate per round replaces the
    // previous full label-compare join (one fewer shuffle per round;
    // decimal(38,0) so a 10⁹-node graph with 64-bit ids cannot overflow)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast(DecimalType(38, 0))))
        .head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // (a) neighborhood min
      val viaNeighbors = sym
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("__nmin"))
      val lowered = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("__nmin"), col("component")))
            .as("component"))
      // (b) pointer jumping: component := component(component)
      val jump = lowered.select(col("id").as("__lid"),
        col("component").as("__lcomp"))
      val next = lowered
        .join(jump, lowered("component") === jump("__lid"), "left")
        .select(col("id"),
          coalesce(col("__lcomp"), col("component")).as("component"))
        .localCheckpoint(true)
      val nextSum = labelSum(next)
      labels.unpersist()
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      i += 1
    }
    labels
  }

  /** 64-bit SimHash of a text column, fully declarative (64 codegen'd
    * sum-aggregates over exploded token hashes — no UDF, no driver loop).
    *
    * @param shingleN 0 = hash distinct unigram tokens; >=2 = hash distinct
    *   token n-gram shingles. Unigram simhash collapses on template-heavy
    *   corpora (documents sharing most vocabulary get near-equal hashes:
    *   measured 68% of ALL sf0.1 pairs within hamming 16, band buckets
    *   holding half the corpus). Shingles restore entropy — hash the same
    *   feature set the near-dup Jaccard is defined over and unrelated
    *   documents land ~32 bits apart while true near-dups stay <= 11.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 0): DataFrame = {
    val toks =
      if (shingleN >= 2)
        // feature hashes come straight from the fused native expression —
        // no string shingle construction, no per-string re-hash
        shingleHashes(df, textCol, shingleN)
          .select(col(idCol).as("__id"),
            explode(col("__shingle_hashes")).as("__h"))
      else
        df.select(col(idCol).as("__id"),
          explode(array_distinct(split(trim(lower(col(textCol))), "\\s+")))
            .as("__tok"))
          .withColumn("__h", xxhash64(col("__tok")))
    // per bit: +1 if set, -1 if not; sign of the sum is the simhash bit
    val bitSums = (0 until 64).map(i =>
      sum(when(shiftright(col("__h"), i).bitwiseAND(1L) === 1L, 1)
        .otherwise(-1)).as(s"__b$i"))
    val sums = toks.groupBy(col("__id")).agg(bitSums.head, bitSums.tail: _*)
    val hash = (0 until 64).map(i =>
      when(col(s"__b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    sums.select(col("__id"), hash.as("simhash"))
  }

  /** SimHash near-dup candidates over a DISTINCT-text frame: pigeonhole
    * banding on `numBands` equal chunks of the 64-bit hash (any pair
    * within hamming distance numBands-1 shares at least one exact chunk —
    * the banding guarantee), verified by exact hamming distance. More
    * bands = stronger guarantee but coarser buckets (bucket count
    * 2^(64/numBands) per band), so candidate volume grows: 4×16-bit for
    * web-scale corpora, 8×8-bit when recall up to hamming 7 must be
    * certain.
    *
    * The input is ALREADY one row per text fingerprint (`__fp` =
    * xxhash64(textCol), `textCol`) — the simhash edition of
    * [[minHashFpPairs]]. Duplicate collapse happens at two levels: the
    * 64-sum simhash aggregation runs once per distinct text (identical
    * texts have identical hashes by construction), and banding + hamming
    * verify run once per distinct simhash VALUE (different texts often
    * share a simhash). Consumers attach member weights themselves
    * (q_simhash_neardup). The hamming-0 within-branch here pairs DISTINCT
    * fingerprints sharing a simhash VALUE — that is candidate-set
    * completeness, not member expansion.
    *
    * @return (id_a, id_b, hamming): fingerprint pairs, id_a < id_b
    *         (long order), hamming <= maxHamming
    */
  def simHashFpPairs(dist: DataFrame, textCol: String,
      maxHamming: Int = 3, numBands: Int = 4, shingleN: Int = 0)
      : DataFrame = {
    require(64 % numBands == 0, s"numBands must divide 64, got $numBands")
    val width = 64 / numBands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    // (__id = fingerprint, simhash) — consumed by the value dedup, both
    // member-expansion sides and the within-branch: checkpoint once
    val members = simHash(dist, "__fp", textCol, shingleN)
      .localCheckpoint()
    val values = members.select(col("simhash")).dropDuplicates("simhash")
    val banded = values.select(col("simhash"),
      explode(array((0 until numBands).map(i =>
        struct(lit(i).as("band"),
          shiftright(col("simhash"), i * width).bitwiseAND(mask)
            .as("chunk"))): _*)).as("bc"))
      .select(col("simhash"), col("bc.band"), col("bc.chunk"))
    val a = banded.select(col("band"), col("chunk"),
      col("simhash").as("sh_a"))
    val b = banded.select(col("band"), col("chunk"),
      col("simhash").as("sh_b"))
    val valuePairs = a.join(b, Seq("band", "chunk"))
      .filter(col("sh_a") < col("sh_b"))
      .dropDuplicates("sh_a", "sh_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
    val cross = valuePairs
      .join(members.select(col("simhash").as("sh_a"),
        col("__id").as("__ia")), Seq("sh_a"))
      .join(members.select(col("simhash").as("sh_b"),
        col("__id").as("__ib")), Seq("sh_b"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("hamming"))
    val within = members.select(col("simhash"), col("__id").as("id_a"))
      .join(members.select(col("simhash"), col("__id").as("id_b")),
        Seq("simhash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        lit(0).cast("int").as("hamming"))
    cross.unionByName(within)
  }
}
