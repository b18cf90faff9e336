package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, when}
import org.apache.hadoop.fs.Path

/** Versioned table publishing over plain parquet — the minimal
  * snapshot-isolation discipline a table format provides, without one:
  * data lives in immutable version directories (`v_0000000001/…`), and
  * a tiny `_LATEST` pointer file names the current version. Readers
  * resolve the pointer once and then read an IMMUTABLE directory, so a
  * concurrent publish (or compaction into the next version) can never
  * tear a scan; the pointer swap is a tmp+rename, atomic on any
  * rename-atomic store (the savepoint-manager discipline).
  *
  * This is how the maintenance ops compose safely under readers:
  * rewrite (compact / re-sort / re-partition) INTO version N+1, then
  * publish — in-place Compaction's "no concurrent readers" caveat
  * disappears. Old versions stay readable until [[vacuum]] retires
  * them (time-travel for free, bounded by the vacuum policy).
  *
  * Scale: the pointer file is one short string; version resolution
  * costs one metadata read per query, not a listing of the table.
  */
object Versioned {

  private val Pointer = "_LATEST"

  /** Publish-completion stamp written INSIDE each version directory
    * (underscore prefix → invisible to parquet reads). Vacuum's
    * `minAgeMs` floor measures from this, NOT the directory mtime:
    * HDFS bumps a directory's mtime whenever a child is added/removed
    * (a later touch would postpone retirement indefinitely), and
    * S3A-style stores report epoch-0/synthetic mtimes for directory
    * prefixes (every version would look "old enough", defeating the
    * in-flight-reader guard entirely).
    */
  private val CommitFile = "_graft_commit.json"

  private def vdir(n: Long): String = f"v_$n%010d"

  /** Path of version `n`'s immutable directory — for artifacts that
    * are DIRECTORIES of files rather than one parquet frame (an ANN
    * index: models + codes), whose readers open the dir themselves.
    */
  def versionPath(root: String, n: Long): String =
    new Path(root, vdir(n)).toString

  private def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Current version number, if any. */
  def latestVersion(spark: SparkSession, root: String): Option[Long] = {
    val fs = fsOf(spark, root)
    val p = new Path(root, Pointer)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
      Some(s.toLong)
    }
  }

  /** Publish `df` as the next version: write the new directory fully,
    * then swap the pointer. Returns the published version number. A
    * crash before the swap leaves an orphan directory (removed by the
    * next [[vacuum]]) and the previous version still current — never a
    * half-visible table.
    */
  def publish(df: DataFrame, root: String): Long =
    publishWith(df.sparkSession, root)(dir =>
      df.write.mode("errorifexists").parquet(dir))

  /** Generalized publish: the caller writes the version directory with
    * whatever writer options it needs (sort, partitionBy, compression,
    * a multi-batch copy loop); the pointer swaps only after `write`
    * returns, so a partially written version is never visible.
    */
  def publishWith(spark: SparkSession, root: String)(write: String => Unit): Long = {
    val fs = fsOf(spark, root)
    // orphans from crashed publishes may sit ABOVE the pointer — the
    // next version must clear them or errorifexists refuses the dir
    val next = (latestVersion(spark, root).getOrElse(0L) +: versions(spark, root))
      .max + 1L
    write(new Path(root, vdir(next)).toString)
    // stamp publish completion before the pointer swap — vacuum's
    // retention floor measures from this file's recorded time
    val stamp = fs.create(new Path(new Path(root, vdir(next)), CommitFile), true)
    try stamp.write(
      s"""{"publishedAtMs":${System.currentTimeMillis()}}""".getBytes("UTF-8"))
    finally stamp.close()
    StoreTables.writeSmall(spark, new Path(root, Pointer).toString, next.toString)
    next
  }

  /** The current snapshot (resolved once — the returned frame keeps
    * reading version `n` even if a publish lands mid-query).
    */
  def readLatest(spark: SparkSession, root: String): DataFrame = {
    val n = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no published version under $root"))
    readVersion(spark, root, n)
  }

  /** Time travel: read a specific (immutable) version. */
  def readVersion(spark: SparkSession, root: String, n: Long): DataFrame =
    spark.read.parquet(new Path(root, vdir(n)).toString)

  /** Semantic diff between two published versions — the publish-audit
    * question ("what changed between Tuesday's and Wednesday's
    * table?") as one call: `(pk…, diff_kind)` with kinds added /
    * removed / changed / match, where "added" means present in `b`
    * but not `a` (reading b as the newer side). Reuses the validation
    * tier's null-safe full-outer diff, so key semantics match the
    * copy gate exactly; both version dirs are immutable, making the
    * report reproducible forever. Compare columns default to every
    * shared non-pk column.
    */
  def diffVersions(spark: SparkSession, root: String, a: Long, b: Long,
                   pk: Seq[String], compareCols: Seq[String] = Nil): DataFrame = {
    val va = readVersion(spark, root, a)
    val vb = readVersion(spark, root, b)
    val cmp =
      if (compareCols.nonEmpty) compareCols
      else va.columns.toSeq.intersect(vb.columns.toSeq).filterNot(pk.contains)
    graft.validation.Diff.fullDiff(va, vb, pk, cmp)
      .withColumn("diff_kind",
        when(col("diff_kind") === "missing_target", "removed")
          .when(col("diff_kind") === "extra_target", "added")
          .when(col("diff_kind") === "mismatch", "changed")
          .otherwise("match"))
  }

  /** Published versions on disk, ascending (orphans from crashed
    * publishes included — they are data directories like any other
    * until vacuumed, just never pointed at).
    */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val fs = fsOf(spark, root)
    if (!fs.exists(new Path(root))) Seq.empty
    else fs.listStatus(new Path(root)).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v_"))
      .map(_.getPath.getName.stripPrefix("v_").toLong).sorted
  }

  /** Retire all but the newest `keep` versions at or below the current
    * pointer, plus any orphan directories NEWER than the pointer left
    * by crashed publishes. The current version is always kept.
    *
    * `minAgeMs` is the retention guard between vacuum and in-flight
    * readers (Delta-style): a version younger than the floor is never
    * deleted — measured from the `_graft_commit.json` stamp written at
    * publish completion (directory mtimes are unusable for this: HDFS
    * bumps them on any child change, S3A reports synthetic ones for
    * prefixes) — so a long scan that resolved `versionAt: N` (or the
    * pointer) just before a newer publish keeps its files for at least
    * the retention window, and a publisher mid-write can't lose its
    * in-progress orphan to a concurrent vacuum. Versions without a
    * stamp (pre-stamp publishes, crashed mid-write orphans) fall back
    * to the max mtime of the version's data FILES — file mtimes are
    * set once at close and stable on every store. Size it to the
    * longest query you run against the table.
    */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2,
             minAgeMs: Long = 0L): Seq[Long] = {
    require(keep >= 1, "must keep at least the current version")
    require(minAgeMs >= 0L, "minAgeMs must be non-negative")
    val fs = fsOf(spark, root)
    val current = latestVersion(spark, root).getOrElse(return Seq.empty)
    val all = versions(spark, root)
    val published = all.filter(_ <= current)
    val orphans = all.filter(_ > current)
    val now = System.currentTimeMillis()
    def maxFileMtime(p: Path): Option[Long] = {
      def walk(q: Path): Seq[Long] = {
        val st = fs.getFileStatus(q)
        if (st.isDirectory) fs.listStatus(q).toIndexedSeq.flatMap(s => walk(s.getPath))
        else Seq(st.getModificationTime)
      }
      val ts = walk(p)
      if (ts.isEmpty) None else Some(ts.max)
    }
    def publishedAt(p: Path): Option[Long] = {
      val cf = new Path(p, CommitFile)
      if (fs.exists(cf)) {
        val in = fs.open(cf)
        val body = try scala.io.Source.fromInputStream(in).mkString finally in.close()
        Some(new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(body).get("publishedAtMs").asLong())
      } else maxFileMtime(p)
    }
    def oldEnough(n: Long): Boolean = minAgeMs == 0L || {
      val p = new Path(root, vdir(n))
      // an empty/unstampable dir (mid-write orphan with no files yet)
      // gets the dir status time as last resort — but only to KEEP it
      // young; absence of evidence never makes a version old enough
      try {
        val at = publishedAt(p)
          .getOrElse(fs.getFileStatus(p).getModificationTime)
        now - at >= minAgeMs
      } catch { case _: java.io.FileNotFoundException => false }
    }
    val retire = (published.dropRight(keep) ++ orphans).filter(oldEnough)
    retire.foreach(n => fs.delete(new Path(root, vdir(n)), true))
    retire
  }
}
