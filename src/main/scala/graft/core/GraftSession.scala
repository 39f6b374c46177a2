package graft.core

import org.apache.spark.sql.SparkSession

/** Canonical session factory for the engine.
  *
  * Every entry point (Verify, Bench, tests, serving) must run with the same
  * session-level semantics or oracle hash-matching silently breaks:
  *
  *   - `spark.sql.session.timeZone=UTC` — the synthetic parquet timestamps are
  *     timezone-naive (isAdjustedToUTC=false); pinning UTC makes Spark's
  *     session-local interpretation agree with DuckDB's naive reading
  *     regardless of JVM default TZ.
  *   - `spark.sql.legacy.parquet.nanosAsLong=true` — some testdata
  *     generations store events.ts as TIMESTAMP(NANOS), which Spark cannot
  *     read as TimestampType; with this flag a NANOS column reads as
  *     LongType (raw int64), micros generations read their raw int64
  *     directly, and [[Tables.load]] normalizes either to canonical µs.
  *   - `spark.sql.shuffle.partitions` = [[cpus]] — one partition per
  *     local core; 200 would produce tiny partitions at test scale. On a
  *     real cluster [[clusterDefaults]] raises it to 2000 and AQE
  *     coalesces down from there.
  */
object GraftSession {

  /** Apply graft's standard configs to any builder. `spark.local.dir` is
    * deliberately left at Spark's disk-backed default here: long-lived
    * entry points (serving, CLI jobs, cluster profile) must spill to
    * disk so spill actually relieves memory pressure. Measurement entry
    * points opt into tmpfs scratch via [[benchScratch]].
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // scan-split floor (round 12): maxSplitBytes = min(maxPartitionBytes,
      // max(openCostInBytes, totalBytes/minPartitionNum)) — with the 4 MiB
      // default openCost, a small-but-CPU-dense compressed file lands in
      // one task (documents at sf10 is a 9.7 MB parquet hiding ~1 GB of
      // string work → ONE core ran every text query's regex/shingle pass;
      // measured 3-9x on the sf10 text family). 64 KiB keeps splits
      // governed by the parallelism-aware bytes-per-core term instead.
      // At 100 TB splits are plentiful and this floor is inert; it only
      // stops compact files from starving CPU.
      .config("spark.sql.files.openCostInBytes", "65536")
      // keep managed (bucketed) tables out of the repo working dir
      .config("spark.sql.warehouse.dir",
        s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft-warehouse")
      // Freeze resilience (round 13): the sandbox VM exhibits
      // whole-process freeze windows (GC logs show 80-140 s spans with
      // ZERO allocation events mid-sweep). In a single-JVM local engine
      // there is no remote executor to suspect, but a freeze longer
      // than spark.network.timeout (default 120 s) makes the
      // HeartbeatReceiver expire the in-process executor — the
      // re-registration path then blocks dispatcher threads resolving
      // an endpoint local mode does not register, heartbeats
      // cascade-fail, and the executor self-exits with code 56 (killed
      // two r13 sf10 ladders mid-warmup). Timeouts here only ever
      // false-positive locally, so raise them past any observed freeze;
      // clusterDefaults resets them (a real cluster needs prompt dead-
      // executor detection).
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeat.maxFailures", "120")
      // Codegen class cache: Spark keeps every class whole-stage codegen
      // compiles in one JVM-wide LRU, default 100 entries. graft reruns
      // the same plans (Bench's interleaved reps, the sweep's warm pass,
      // repeated fits), and one pass of the registry compiles 2,853
      // distinct classes at sf0.01 (q_curation_pipeline alone 114), so
      // at 100 every rerun compiled its classes with Janino again and ran
      // fresh un-JIT'd code. 4096 is the smallest power of two above that
      // working set; a held class costs about 32 KB of heap. Static conf:
      // it takes effect only if this builder creates the JVM's first
      // SparkContext, before any code is generated.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // The cache is keyed by the generated source, and by default each
      // class name carries its whole-stage codegen stage id. AQE numbers
      // stages in the order their inputs finish, so a rerun of the same
      // plan (q_entropy_profile's three union branches race) could get
      // other ids and miss the cache; identical pipelines in different
      // stages never shared a class. Without the id they do.
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Local parallelism of the entry points: `SPARK_GRAFT_CPUS`, else the
    * host's core count.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** Tmpfs shuffle scratch for MEASUREMENT entry points (Bench/Verify)
    * ONLY — never [[configure]]/[[clusterDefaults]]: tmpfs spill consumes
    * RAM, so a production profile spilling there would defeat the point
    * of spilling. The sandbox's root volume exhibits intermittent
    * multi-second write-throttle windows (observed as 10-30× bench
    * medians on arbitrary queries with zero GC/safepoint pauses and an
    * idle-CPU host); shuffle files are the only disk writes a bench
    * query performs, so measurement scratch goes to tmpfs when one is
    * mounted with headroom. Test-scale shuffles are MBs, far below the
    * 8 GiB headroom sniff. Each process gets its OWN subdirectory
    * (graft-local-<pid>) — a flat shared dir meant a second measurement
    * process (e.g. Verify started while a Bench sweep runs) wiped the
    * first's live shuffle files at startup. Stale siblings whose owning
    * pid is gone are deleted (they otherwise pin RAM until reboot), and
    * a JVM shutdown hook removes this process's own dir on exit.
    * Override with SPARK_GRAFT_LOCAL_DIR (e.g. for a deliberately
    * disk-bound run).
    */
  def benchScratch(b: SparkSession.Builder): SparkSession.Builder = {
    val dir = sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite && shm.getUsableSpace > (8L << 30)) {
        val pid = ProcessHandle.current().pid()
        // reclaim RAM orphaned by crashed runs — only dirs whose owning
        // process is PROVEN dead. Liveness is probed at the FILESYSTEM
        // level: every owner holds an exclusive flock on its dir's
        // .owner file for the JVM's lifetime, and a reclaimer that can
        // ACQUIRE that lock has proven the owner gone. The earlier
        // pid-probe (ProcessHandle.isAlive) false-negatived across pid
        // namespaces — a sandboxed sibling process saw a live tmux-side
        // bench as dead and deleted its scratch MID-RUN, killing the
        // r13 sf10 ladder (DiskBlockManager lost its dirs, local
        // executor exited 56). flock is namespace-agnostic. Dirs
        // without an .owner file (older layouts) fall back to the pid
        // probe AND an age floor, so a fresh dir is never reclaimed on
        // a pid-visibility artifact.
        Option(shm.listFiles()).foreach(_.foreach { f =>
          f.getName match {
            case s if s.startsWith("graft-local-") =>
              val ownerFile = new java.io.File(f, ".owner")
              val dead =
                if (ownerFile.exists()) {
                  val raf = new java.io.RandomAccessFile(ownerFile, "rw")
                  try {
                    val lock = Option(raf.getChannel.tryLock())
                    lock.foreach(_.release())
                    lock.isDefined
                  } catch { case _: Exception => false }
                  finally raf.close()
                } else {
                  val owner = s.stripPrefix("graft-local-")
                  val pidDead = !owner.toLongOption
                    .exists(p => ProcessHandle.of(p).map[Boolean](_.isAlive)
                      .orElse(false))
                  val ageMs = System.currentTimeMillis - f.lastModified()
                  pidDead && ageMs > 30L * 60 * 1000
                }
              if (dead) {
                System.err.println(s"[graft] reclaiming stale scratch $f")
                deleteRecursively(f)
              }
            case "graft-local" => deleteRecursively(f) // pre-round-10 layout
            case _ => ()
          }
        })
        val scratch = new java.io.File(shm, s"graft-local-$pid")
        scratch.mkdirs()
        // hold the liveness lock for the JVM's lifetime (kept in a
        // static field — a GC'd channel would silently release it)
        try {
          val raf = new java.io.RandomAccessFile(
            new java.io.File(scratch, ".owner"), "rw")
          ownerLock = Option(raf.getChannel.tryLock()).map(l => (raf, l))
        } catch { case scala.util.control.NonFatal(_) => () }
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          deleteRecursively(scratch)))
        Some(scratch.getPath)
      } else None
    }
    dir.fold(b)(d => b.config("spark.local.dir", d))
  }

  // scratch-dir liveness lock — see benchScratch; the reference keeps the
  // FileLock (and its channel) reachable for the JVM's lifetime
  @volatile private var ownerLock
      : Option[(java.io.RandomAccessFile, java.nio.channels.FileLock)] = None

  private def deleteRecursively(f: java.io.File): Unit =
    if (f.exists()) {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
      f.delete(): Unit
    }

  /** Cluster-profile configs on top of [[configure]] — what we'd ship
    * for a multi-hundred-executor deployment. Local runs don't need
    * these; they document (as code) how the engine expects to scale:
    * shuffle parallelism is a ceiling AQE coalesces down from, skew
    * joins split at runtime, scan partitions stay memory-sized, and
    * shuffle/cache payloads use Kryo.
    */
  def clusterDefaults(b: SparkSession.Builder): SparkSession.Builder =
    configure(b)
      // restore prompt failure detection: the local freeze-resilience
      // timeouts (see configure) would delay real dead-executor
      // detection on a cluster
      .config("spark.network.timeout", "120s")
      .config("spark.executor.heartbeat.maxFailures", "60")
      .config("spark.sql.shuffle.partitions", "2000")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "268435456") // 256 MiB
      .config("spark.serializer",
        "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.autoBroadcastJoinThreshold", "67108864") // 64 MiB

  def local(cores: Int, appName: String = "graft"): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tuneScanSplits(spark)
  }

  /** Scan-split balance: at least 2 splits per core (the classic
    * straggler guard), expressed against the RUNTIME defaultParallelism
    * so it scales with the cluster instead of pinning a local constant.
    * Session-settable, so entry points apply it after getOrCreate.
    */
  def tuneScanSplits(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.files.minPartitionNum",
      (2L * spark.sparkContext.defaultParallelism).toString)
    spark
  }

  /** Defensive re-application of the configs that are runtime-settable, for
    * sessions created by an external harness that bypassed [[configure]].
    */
  def ensureConfigured(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: org.apache.spark.sql.AnalysisException => () }
    spark
  }
}
