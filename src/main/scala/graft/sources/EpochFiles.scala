package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Idempotent per-epoch file publication into a live parquet directory
  * — the primitive that makes a streaming sink's plain-parquet appends
  * exactly-once replayable. A micro-batch's output is staged normally
  * (any Spark write to a scratch dir), then [[publish]]ed into the
  * live table under DETERMINISTIC names derived from the epoch tag
  * (`part-<tag>__<i>.parquet`). Because the names are a pure function
  * of (tag, index):
  *
  *  - re-publishing the same tag first [[retire]]s its previous files,
  *    so a replayed epoch cannot double its rows no matter where the
  *    previous attempt died;
  *  - rolling back a half-published epoch is a glob delete of the
  *    tag's prefix — complete by construction, with no manifest to
  *    reconcile.
  *
  * The caller owns the commit protocol (typically: rollback tag →
  * recompute → stage → publish → atomic marker); this object owns only
  * the file discipline. Names never collide with Spark's own
  * `part-0000…` outputs, so live directories stay plain parquet dirs
  * any reader scans normally.
  */
object EpochFiles {

  private def prefix(tag: String) = s"part-${tag}__"

  /** Whether `fileName` is a tag-published override file — the
    * deterministic `part-<tag>__<i>.parquet` names [[publish]] mints.
    * Spark's own output names (`part-00000-<uuid>-c000…`) never
    * contain a double underscore, so the test cleanly separates a
    * store's override tier from its folded base: minor compaction
    * folds exactly the files this accepts.
    */
  def isTagged(fileName: String): Boolean =
    fileName.startsWith("part-") && fileName.contains("__")

  /** Move the staged parquet parts into `liveDir` under the tag's
    * deterministic names (retiring any previous attempt's files
    * first), then delete the staging dir. The session's never-expiring
    * file-status cache is refreshed for `liveDir` so this session's
    * next read lists the published files. Returns the published file
    * paths — callers advance stats artifacts over EXACTLY these files
    * ([[FileStatsIndex.appendFor]]) instead of re-diffing the artifact
    * against a directory listing per publish.
    */
  def publish(spark: SparkSession, stagedDir: String, liveDir: String,
              tag: String): Seq[String] = {
    val live = new Path(liveDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    retire(spark, liveDir, tag)
    require(fs.mkdirs(live) || fs.exists(live), s"cannot create $liveDir")
    val staged = new Path(stagedDir)
    val parts =
      if (fs.exists(staged))
        fs.listStatus(staged).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      else Array.empty[Path]
    val published = parts.zipWithIndex.map { case (p, i) =>
      val dst = new Path(live, s"${prefix(tag)}$i.parquet")
      require(fs.rename(p, dst), s"publish rename $p -> $dst failed")
      dst.toString
    }
    fs.delete(staged, true)
    spark.catalog.refreshByPath(liveDir)
    published.toSeq
  }

  /** Delete every file the tag ever published into `liveDir` —
    * complete rollback of a failed attempt, no-op if none exist.
    * Returns whether any file was removed.
    */
  def retire(spark: SparkSession, liveDir: String, tag: String): Boolean = {
    val live = new Path(liveDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val had =
      if (!fs.exists(live)) Array.empty[Path]
      else fs.listStatus(live).map(_.getPath).filter(_.getName.startsWith(prefix(tag)))
    had.foreach(fs.delete(_, false))
    if (had.nonEmpty) spark.catalog.refreshByPath(liveDir)
    had.nonEmpty
  }
}
