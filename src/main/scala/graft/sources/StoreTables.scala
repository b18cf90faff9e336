package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** The one fold every persisted LSM store runs (NearDupStore, AnnIndex,
  * LexIndex, LinkGraph, the id census, the Web line census) — the
  * savepoint-housekeeping discipline (reference:
  * migrator/src/main/scala/com/scylladb/migrator/SavepointsManager.scala:337-387)
  * written once over a plain description of each store's tables.
  *
  * A store is a list of key-clustered parquet [[Table]]s. Epoch
  * appends publish per-tag OVERRIDE files ([[EpochFiles]] names) next
  * to a clustered base; reads resolve the winning row per key. Two
  * fold tiers keep that healthy:
  *
  *  - [[foldOverrides]] — the MINOR tier auto-compact runs: only the
  *    tagged override files of each table merge (resolved within the
  *    override set) into granule-capped, range-clustered runs, so fold
  *    I/O is ∝ override bytes, never the store, and lifetime fold I/O
  *    stays linear. [[TargetedDelete.foldFiles]]' roll-forward marker
  *    makes each subset swap all-or-nothing per table, so a tag loses
  *    ALL its names in a table or none — the invariant
  *    [[AutoCompact]]'s crash protocol needs. What it does not
  *    reclaim: a base row superseded by an override (one stale version
  *    per key and table), nor global clustering across base + folded
  *    runs.
  *  - [[recluster]] — the MAJOR tier, at operator cadence: each table
  *    is resolved whole and rewritten globally clustered under the
  *    crash-safe [[graft.streaming.SwapStore]] swap, and its stats
  *    artifact rebuilt. Destroys per-tag names, so run it only between
  *    settled epochs.
  *
  * Both tiers first restore a table a crashed major swap left aside
  * (`<dir>__old`), and skip a table that does not exist.
  */
object StoreTables {

  /** One key-clustered table of a store.
    *
    * @param key         range-cluster column (and the `_stats` column)
    * @param sortBy      in-file sort columns (defaults to `key`)
    * @param resolve     the winning row per key over any row subset —
    *                    identity for append-only tables whose rows are
    *                    unique across tags
    * @param rowsPerFile file cap of every fold write; 0 = none
    * @param shardRows   minor-fold rows per shard (1..200 shards)
    * @param stats       whether the table keeps a `_stats` artifact
    */
  final case class Table(dir: String, key: String,
                         sortBy: Seq[String] = Nil,
                         resolve: DataFrame => DataFrame = identity,
                         rowsPerFile: Long = 0L,
                         shardRows: Long = Long.MaxValue,
                         stats: Boolean = true) {
    private def sortCols = (if (sortBy.isEmpty) Seq(key) else sortBy).map(col)

    /** Range-clustered on `key` at the session's shuffle width. */
    def clustered(df: DataFrame): DataFrame =
      df.repartitionByRange(col(key)).sortWithinPartitions(sortCols: _*)

    /** Range-clustered on `key` into `shards` partitions. */
    def clustered(df: DataFrame, shards: Int): DataFrame =
      df.repartitionByRange(shards, col(key)).sortWithinPartitions(sortCols: _*)

    /** `df`'s writer under this table's file cap. */
    def capped(df: DataFrame): DataFrameWriter[Row] =
      if (rowsPerFile > 0L) df.write.option("maxRecordsPerFile", rowsPerFile) else df.write
  }

  /** A store: its table-dir root (where the auto-compact policy, marker
    * and baseline live), its tables, and a non-parquet sidecar fold
    * that rides every fold of either tier.
    */
  final case class Store(root: String, tables: Seq[Table],
                         sidecarFold: SparkSession => Unit = _ => ()) {
    def dirs: Seq[String] = tables.map(_.dir)
  }

  /** Shard count for `nRows` rows at `shardRows` rows per shard — a
    * batch-bounded write through the session's default shuffle width
    * would land a handful of rows as MANY near-empty files, LSM
    * file-count growth every later stats-pruned read pays in footer
    * opens. Small writes land ONE file, large ones still shard.
    */
  def shardsFor(nRows: Long, shardRows: Long): Int =
    math.max(1L, math.min(200L, (nRows - 1L) / math.max(1L, shardRows) + 1L)).toInt

  /** MINOR fold of every table, then the store's sidecar fold. */
  def foldOverrides(spark: SparkSession, store: Store): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    for (t <- store.tables if graft.streaming.SwapStore.recover(spark, t.dir)) {
      val tagged = ParquetSource.listParquetFiles(t.dir, conf)
        .filter(f => EpochFiles.isTagged(new Path(f).getName))
      val ran = TargetedDelete.foldFiles(spark, t.dir, tagged, t.resolve,
        (df, staging) => t.capped(t.clustered(df, shardsFor(df.count(), t.shardRows)))
          .mode("overwrite").parquet(staging))
      if (ran) {
        if (t.stats) FileStatsIndex.update(spark, t.dir, Seq(t.key))
        spark.catalog.refreshByPath(t.dir)
      }
    }
    store.sidecarFold(spark)
  }

  /** MAJOR fold of every table, then the store's sidecar fold. */
  def recluster(spark: SparkSession, store: Store): Unit = {
    for (t <- store.tables if graft.streaming.SwapStore.recover(spark, t.dir)) {
      // swapWrite stages to <dir>__tmp BEFORE touching the live dir,
      // so the lazy self-read drains the old files safely
      graft.streaming.SwapStore.swapWrite(
        t.clustered(t.resolve(spark.read.parquet(t.dir))), t.dir, t.rowsPerFile)
      if (t.stats) FileStatsIndex.buildAndSave(spark, t.dir, Seq(t.key))
      spark.catalog.refreshByPath(t.dir)
    }
    store.sidecarFold(spark)
  }

  /** Run the minor fold iff the store's auto-compact policy says its
    * override files have grown past the threshold ([[AutoCompact.maybe]]);
    * call at the SETTLED end of a mutation. Returns whether it ran.
    */
  def autoCompact(spark: SparkSession, store: Store): Boolean =
    AutoCompact.maybe(spark, store.root, store.dirs)(foldOverrides(spark, store))

  /** Complete an interrupted auto-compact ([[AutoCompact.recover]]);
    * call at every mutation entry point BEFORE retiring anything.
    */
  def recover(spark: SparkSession, store: Store): Unit =
    AutoCompact.recover(spark, store.root, store.dirs)(foldOverrides(spark, store))

  // ---- small sidecar files (policies, metas, epoch records) ----

  /** Atomic small-file write: the body lands in a hidden `.<name>.tmp`
    * beside `path` and renames over it, so readers see the old or the
    * new body, never a torn one.
    */
  def writeSmall(spark: SparkSession, path: String, body: String): Unit = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.mkdirs(dst.getParent) || fs.exists(dst.getParent),
      s"cannot create ${dst.getParent}")
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"atomic write failed for $path")
  }

  def readSmall(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** An integer field of a flat JSON sidecar, when present. */
  def metaField(spark: SparkSession, path: String, field: String): Option[Long] =
    readSmall(spark, path).flatMap(b =>
      ("\"" + field + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(b).map(_.group(1).toLong))

  /** Default file-granularity policy of the stores that pin one. */
  val DefaultRowsPerFile = 4000000L

  /** A store's file-granularity policy (rows per file) pinned in its
    * meta sidecar at create time: every write splits output at this
    * many rows per file under the range sort, so a keyed probe's
    * swept-in bytes are bounded by the granularity instead of growing
    * with the corpus. Pre-policy sidecars keep [[DefaultRowsPerFile]].
    */
  def rowsPerFileOf(spark: SparkSession, metaPath: String): Long =
    metaField(spark, metaPath, "rowsPerFile").getOrElse(DefaultRowsPerFile)
}
