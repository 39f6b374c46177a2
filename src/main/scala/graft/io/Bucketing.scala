package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table helpers: pre-shuffle once at write time so repeated
  * joins/aggregations on the bucket key run shuffle-free.
  *
  * At 100 TB this is the difference between re-shuffling the fact table on
  * every join and paying the shuffle once at ingest: two tables bucketed
  * into the same bucket count on the join key sort-merge join with NO
  * Exchange on either side (asserted in BucketingSpec against the physical
  * plan).
  */
object Bucketing {

  /** Persist `df` as a bucketed+sorted managed table on `key`. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int = 32): Unit =
    writeBucketed(df, table, Seq(key), buckets)

  /** Composite-key form: bucketed AND per-file sorted on `keys` — an
    * equi-join of two tables written this way with the same bucket count
    * plans with no Exchange on either side.
    */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Fingerprint of an on-disk source (file or directory): path + total
    * bytes + max mtime. Keys [[bucketedTable]] layouts so regenerated
    * testdata can never serve a stale bucketed copy — the managed table
    * outlives the session (that is the point: layout cost amortizes
    * across sessions), so identity must come from the source files, not
    * from session state.
    */
  def sourceFingerprint(dir: String, file: String): String = {
    val p = java.nio.file.Paths.get(dir, file)
    import scala.jdk.CollectionConverters._
    val files =
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.walk(p).iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_)).toSeq
      else Seq(p)
    val bytes = files.map(java.nio.file.Files.size).sum
    val mtime = files.map(
      java.nio.file.Files.getLastModifiedTime(_).toMillis).maxOption
      .getOrElse(0L)
    s"$p:$bytes:$mtime"
  }

  /** Build-once bucketed layout: returns the managed bucketed table for
    * (`name`, `fingerprint`), writing it only if absent. This is the
    * at-ingest amortization contract — the one shuffle-equivalent pass
    * (the bucketed write) is paid when the layout is first created; every
    * rejoin afterwards, in this session or a later one sharing the
    * warehouse, is co-located. The fingerprint is embedded in the table
    * name, so a changed source builds a fresh layout instead of serving
    * stale rows. The check-and-write runs under one JVM-wide lock, so
    * racing callers in this JVM build each table exactly once, and a
    * build of one table holds up every other `bucketedTable` call.
    */
  def bucketedTable(spark: SparkSession, name: String, fingerprint: String,
      keys: Seq[String], buckets: Int = 32)(build: => DataFrame)
      : DataFrame = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(fingerprint.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val table = s"graft_${name}_$digest"
    synchronized {
      if (!spark.catalog.tableExists(table)) {
        // cross-JVM orphan: a previous process can leave the table's
        // FILES in the shared warehouse while its in-memory catalog
        // entry (and the bucket spec with it) died with the JVM —
        // saveAsTable then fails with LOCATION_ALREADY_EXISTS. Those
        // files are unreachable without their metadata, so reclaim the
        // location and rebuild. With a persistent metastore (the real
        // cluster deployment) tableExists is true instead and the
        // cross-session amortization holds with zero rebuilds.
        val wh = spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:")
        val loc = new java.io.File(wh, table)
        if (loc.exists()) deleteRecursively(loc)
        writeBucketed(build, table, keys, buckets)
      }
    }
    spark.table(table)
  }

  private def deleteRecursively(f: java.io.File): Unit =
    if (f.exists()) {
      if (f.isDirectory)
        Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
      f.delete(): Unit
    }
}
