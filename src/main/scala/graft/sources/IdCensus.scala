package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted id sidecar for the incremental stores ([[graft.pipeline
  * .AnnIndex]], [[graft.pipeline.LexIndex]]) — the summary table that
  * makes delta detection batch-proportional. Without it, every epoch
  * append answers "which of these ids are already indexed?" by
  * scanning the FULL index's id column plus a distinct — and the
  * streaming ingest paths pay that per micro-batch, so ingest cost
  * grows with the INDEX, not the batch (the line-census pattern from
  * [[graft.pipeline.Web]] already solved this for line hashes; this is
  * the id-set generalization).
  *
  * Layout: `<root>/_ids/rows/` — one row per indexed id (`id` first,
  * optional payload columns such as the lex index's document length),
  * id-range-clustered and carrying a [[FileStatsIndex]] `_stats`
  * artifact, so a bounded batch's membership check reads only the
  * row groups — and opens only the FILES — its sorted id chunks
  * actually touch ([[KeyedReads.prunedRead]]). Fixed batch ⇒ flat
  * read cost under any index growth.
  *
  * Consistency contract: the census is maintained by every index
  * write path under the SAME epoch tag as the index files
  * ([[EpochFiles]] deterministic names), so replaying or rolling back
  * a tag restores census and index together and the recomputed delta
  * is identical. A crash BETWEEN the index publish and the census
  * publish of one tag is repaired by replaying that tag (exactly what
  * the streaming checkpoint replay and the savepoint batch replay do)
  * — running a DIFFERENT tag past an unrepaired crash is outside the
  * protocol, same as it always was for half-published index files.
  * [[ensureFrom]] lazily (re)derives the census from the index's own
  * id column, so pre-sidecar stores migrate on first touch and
  * `Maintain … rebuildids` can force a re-derive after any
  * out-of-protocol surgery. The artifact is advisory in one direction
  * only: stats staleness can under-prune, never lose rows.
  */
object IdCensus {

  def rowsDir(root: String): String =
    new org.apache.hadoop.fs.Path(root, "_ids/rows").toString

  def exists(spark: SparkSession, root: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(rowsDir(root))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The census as a store table: id-clustered with a `_stats`
    * artifact. Ids are unique across tags by the delta discipline, so
    * the resolve is identity. Folds cap files (and shard the minor
    * fold) at the owning index's `rowsPerFile`; `rowsPerFile ≤ 0`
    * leaves sizing to the shard count alone — one minor-fold shard,
    * no cap (a census no index owns).
    */
  def table(root: String, rowsPerFile: Long): StoreTables.Table =
    StoreTables.Table(rowsDir(root), "id",
      rowsPerFile = math.max(0L, rowsPerFile),
      shardRows = if (rowsPerFile > 0L) rowsPerFile else Long.MaxValue)

  /** The census alone as a store rooted at `root` — for a census no
    * index owns; an owning index lists the same [[table]] in its own
    * store, so the census shares that store's stage and rollback.
    */
  def store(root: String, rowsPerFile: Long = 0L): StoreTables.Store =
    StoreTables.Store(root, Seq(table(root, rowsPerFile)))

  /** Overwrite the census with `rows` (column `id` + optional payload)
    * and build its stats artifact. Every writer here takes the owning
    * index's `rowsPerFile` and caps its files at it (≤ 0: no cap), so a
    * probe never sweeps more than a granule, folded or not.
    */
  def create(spark: SparkSession, root: String, rows: DataFrame,
             rowsPerFile: Long = 0L): Unit =
    StoreTables.create(spark, table(root, rowsPerFile), rows, "overwrite")

  /** Lazy migration/repair: derive and persist the census from the
    * index's ground truth iff no census exists yet. `derive` is only
    * evaluated (and only pays its scan) on that first touch.
    */
  def ensureFrom(spark: SparkSession, root: String, derive: => DataFrame,
                 rowsPerFile: Long = 0L): Unit =
    if (!exists(spark, root)) create(spark, root, derive, rowsPerFile)

  /** Publish an epoch's new ids under the tag's deterministic file
    * names, stats advanced over the fresh files only
    * ([[StoreTables.publish]]).
    */
  def appendEpoch(spark: SparkSession, root: String, rows: DataFrame,
                  tag: String, rowsPerFile: Long = 0L): Unit = {
    val s = store(root, rowsPerFile)
    StoreTables.publish(spark, s, s.tables.head, rows, tag)
    ()
  }

  /** Remove everything the tag published (plus staging leftovers) from
    * a census no index owns ([[StoreTables.rollback]]).
    */
  def retireEpoch(spark: SparkSession, root: String, tag: String): Unit =
    StoreTables.rollback(spark, store(root), tag)

  /** Census rows whose id appears in `probe.probeIdCol` — the
    * membership check behind delta detection. Bounded probes (≤
    * `maxInline` distinct ids) go through the two-layer pruned read
    * ([[KeyedReads]]: stats-pruned file list + pushed sorted-chunk IN
    * predicates), so cost follows the probe, not the census; larger
    * probes fall back to a semi-join against the full (still narrow)
    * census read.
    */
  def known(spark: SparkSession, root: String, probe: DataFrame,
            probeIdCol: String, maxInline: Int = 2000000): DataFrame =
    KeyedReads.collectKeys(probe, probeIdCol, maxInline) match {
      case Some(ks) => KeyedReads.prunedRead(spark, rowsDir(root), "id", ks)
      case None =>
        readAll(spark, root).join(
          probe.select(col(probeIdCol).as("id")).distinct(), Seq("id"), "left_semi")
    }

  def readAll(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(rowsDir(root))

  /** Right-to-be-forgotten half for the census: the keyed, stats-pruned
    * targeted rewrite ([[StoreTables.forget]]).
    */
  def forget(spark: SparkSession, root: String, ids: Seq[Any]): Unit = {
    StoreTables.forget(spark, table(root, 0L), "id", ids)
    ()
  }

  /** Fold accumulated epoch files back into a globally id-clustered
    * layout (crash-safe swap) and rebuild the stats artifact. Same
    * between-epochs caveat as every store compact: the swap renames
    * files, destroying the per-tag names an in-flight replay would
    * retire.
    */
  def compact(spark: SparkSession, root: String, rowsPerFile: Long = 0L): Unit =
    StoreTables.recluster(spark, store(root, rowsPerFile))
}
