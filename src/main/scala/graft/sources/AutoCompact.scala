package graft.sources

import org.apache.spark.sql.SparkSession

/** Shared auto-compact cadence for the persisted LSM stores
  * (LinkGraph, LexIndex, AnnIndex, NearDupStore) — the
  * savepoint-housekeeping discipline (reference:
  * migrator/src/main/scala/com/scylladb/migrator/SavepointsManager.scala:337-387,
  * automatic scheduled upkeep) applied to override-file growth: every
  * epoch/advance appends a few files per table, and with a manual-only
  * `compact` CLI the serve-read planning cost grows with EPOCH COUNT,
  * not data, until an operator remembers to fold. Policy: a store
  * self-compacts at the SETTLED end of a mutation when any table dir
  * has accumulated more parquet files than the threshold OVER its
  * post-fold baseline.
  *
  * Growth, not total: the trigger compares each dir's file count to
  * the count recorded right after its last fold
  * (`<root>/_fold_baseline.json`), because folds preserve the store's
  * rows-per-file granularity — a table holding more rows than
  * `threshold × rowsPerFile` legitimately NEEDS more than `threshold`
  * files forever, and an absolute-count trigger would then fire on
  * every mutation, rewriting the whole store each time (quadratic
  * lifetime I/O at web-graph scale). Against the baseline, a fold runs
  * only after `threshold` NEW override files accumulate, so fold
  * frequency follows EPOCH COUNT at any table size. A dir absent from
  * the baseline counts from 0 (a never-folded store fires on the same
  * absolute cadence as before, and its first fold records the true
  * granule count).
  *
  * Threshold: `<root>/_policy.json` (`{"autoCompactFiles":N}`; 0
  * disables), default [[DefaultMaxFiles]] when absent — weeks of
  * daily single-file epochs before a fold, never a fold per append.
  *
  * Crash discipline: the fold runs under an intent marker
  * (`<root>/_compacting.json`), and every mutation entry point calls
  * [[recover]] BEFORE retiring anything. The hazard the marker
  * closes: a fold destroys per-tag file names table by table, so a
  * crash mid-fold leaves some tables folded and some not — a replayed
  * tag would then retire a COMPLETED epoch's rows from the unfolded
  * tables while the folded ones keep theirs. Completing the fold
  * first restores the invariant (all names gone, all rows present),
  * and the stores' delta checks (edge anti-join, id census) then make
  * the replay a clean no-op. This requires the fold to be
  * ALL-OR-NOTHING per table: a tag loses ALL its names in a table or
  * none. Full SwapStore rewrites satisfy it trivially; the stores'
  * MINOR folds (override files only, I/O ∝ override bytes) satisfy it
  * through [[TargetedDelete.foldFiles]]'s roll-forward rewrite marker
  * — the subset swap completes or rolls forward on recovery, never
  * leaving a tag's names half-destroyed within one table.
  */
object AutoCompact {

  /** Default per-table-dir parquet-file threshold. */
  val DefaultMaxFiles = 64

  private def policyPath(root: String) = root + "/_policy.json"
  private def markerPath(root: String) = root + "/_compacting.json"
  private def baselinePath(root: String) = root + "/_fold_baseline.json"

  private def fsOf(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Pin the store's threshold (`maxFiles` parquet files in any table
    * dir triggers a fold at the next settled mutation; 0 disables).
    */
  def setPolicy(spark: SparkSession, root: String, maxFiles: Int): Unit = {
    require(maxFiles >= 0, "maxFiles must be >= 0 (0 disables)")
    StoreTables.writeSmall(spark, policyPath(root), s"""{"autoCompactFiles":$maxFiles}""")
  }

  def threshold(spark: SparkSession, root: String): Int = {
    val pat = """\{"autoCompactFiles":(\d+)\}""".r
    StoreTables.readSmall(spark, policyPath(root)).map(_.trim) match {
      case None => DefaultMaxFiles
      case Some(pat(n)) => n.toInt
      case Some(other) => throw new IllegalStateException(
        s"malformed ${policyPath(root)}: $other")
    }
  }

  /** Post-fold file count per table dir (keyed by the dir path as the
    * store passes it — stable, since every store derives its table
    * dirs from `root`). A dir absent from the sidecar baselines at 0.
    */
  def baseline(spark: SparkSession, root: String): Map[String, Int] = {
    val pair = """"([^"]+)":(\d+)""".r
    StoreTables.readSmall(spark, baselinePath(root)).toSeq.flatMap(b =>
      pair.findAllMatchIn(b).map(m => m.group(1) -> m.group(2).toInt)).toMap
  }

  /** Record the just-folded state: current file count per dir, written
    * atomically BEFORE the intent marker clears (a crash in between
    * re-folds on recovery and rewrites the baseline — never a stale
    * baseline under a cleared marker).
    */
  private def writeBaseline(spark: SparkSession, root: String,
                            dirs: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val body = dirs.map(d =>
      s""""$d":${ParquetSource.listParquetFiles(d, conf).size}""")
      .mkString("{", ",", "}")
    StoreTables.writeSmall(spark, baselinePath(root), body)
  }

  /** Fold now iff any of `dirs` has grown more than the policy
    * threshold past its post-fold baseline, under the intent marker;
    * the fold refreshes the baseline. Returns whether the fold ran.
    */
  def maybe(spark: SparkSession, root: String, dirs: Seq[String])
           (fold: => Unit): Boolean = {
    val thr = threshold(spark, root)
    if (thr <= 0) return false
    val conf = spark.sparkContext.hadoopConfiguration
    val base = baseline(spark, root)
    val over = dirs.exists(d =>
      ParquetSource.listParquetFiles(d, conf).size - base.getOrElse(d, 0) > thr)
    if (!over) return false
    StoreTables.writeSmall(spark, markerPath(root), """{"compacting":1}""")
    fold
    writeBaseline(spark, root, dirs)
    fsOf(spark, root).delete(new org.apache.hadoop.fs.Path(markerPath(root)), false)
    true
  }

  /** Complete an interrupted fold (idempotent — a fold re-folds
    * whatever each table currently holds), clearing the marker. Call
    * at every mutation entry point BEFORE retiring anything. Pass the
    * store's table `dirs` so the recovered fold also refreshes the
    * growth baseline (an empty list skips the refresh — the next
    * [[maybe]] then at worst folds once more than strictly needed).
    */
  def recover(spark: SparkSession, root: String, dirs: Seq[String] = Nil)
             (fold: => Unit): Unit = {
    val m = new org.apache.hadoop.fs.Path(markerPath(root))
    val fs = fsOf(spark, root)
    if (fs.exists(m)) {
      fold
      if (dirs.nonEmpty) writeBaseline(spark, root, dirs)
      fs.delete(m, false)
      ()
    }
  }
}
