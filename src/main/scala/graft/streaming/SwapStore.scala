package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Crash-safe read-modify-swap for a small parquet state table (the
  * CDC target / artifact-store write discipline, factored out of
  * CdcApply): write the new state to `<path>__tmp`, rename the live
  * copy aside to `<path>__old`, swap tmp in, drop old. A crash at any
  * point leaves either `<path>` or `<path>__old` intact — recoverable,
  * never a window where accumulated state is simply gone.
  */
private[graft] object SwapStore {

  /** Current state, with crash recovery FIRST: a death between the
    * rename-aside and the swap leaves dst missing but dst__old intact —
    * restore it before reading, or a replay would start from empty and
    * the cleanup would delete the only surviving copy. Only a genuinely
    * absent target starts from `emptySchema`; any other read failure
    * (corrupt footer, transient IO) fails loudly instead of silently
    * resetting accumulated state.
    */
  def readCurrent(sess: SparkSession, path: String, emptySchema: StructType): DataFrame =
    if (recover(sess, path)) sess.read.parquet(path)
    else sess.createDataFrame(
      sess.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptySchema)

  /** The crash-recovery half of [[readCurrent]]: restore a swapped-aside
    * `<path>__old` and refresh the session's listing. Returns whether
    * the table exists.
    */
  def recover(sess: SparkSession, path: String): Boolean = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(sess.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    if (!fs.exists(dst) && fs.exists(old)) fs.rename(old, dst)
    // the swap replaces the directory's files wholesale, but the
    // session's shared file-status cache never expires by default
    // (spark.sql.metadataCacheTTLSeconds = -1): without an explicit
    // refresh a long-lived session can list a PREVIOUS swap's files
    // and silently read stale state
    sess.catalog.refreshByPath(path)
    fs.exists(dst)
  }

  def swapWrite(merged: DataFrame, path: String,
                maxRecordsPerFile: Long = 0L): Unit = {
    val sess = merged.sparkSession
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(sess.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    val tmp = new org.apache.hadoop.fs.Path(path + "__tmp")
    // 0 = writer default; a store's file-granularity policy threads
    // through here so a fold preserves the size-bounded layout its
    // point reads were priced against
    val w =
      if (maxRecordsPerFile > 0L)
        merged.write.option("maxRecordsPerFile", maxRecordsPerFile)
      else merged.write
    w.mode("overwrite").parquet(tmp.toString)
    fs.delete(old, true)
    if (fs.exists(dst)) fs.rename(dst, old)
    fs.rename(tmp, dst)
    fs.delete(old, true)
    sess.catalog.refreshByPath(path) // evict the pre-swap listing (see readCurrent)
    ()
  }
}
