package graft.streaming

import org.apache.spark.sql.DataFrame

/** Incremental sketch-artifact maintenance: keep a parquet store of
  * per-group sketch rows (HLL / KLL / theta — anything with a
  * union-style merge) up to date as data streams in, so any-range
  * distinct/quantile/set-algebra questions are answerable at ANY time
  * from the store alone, never by rescanning the raw feed.
  *
  * The streaming twin of the persisted IVF/PQ/LM models: per batch,
  * build partials over JUST the new rows, union them with the stored
  * rows, re-merge per group, swap the store atomically (SwapStore —
  * the CDC target's crash discipline). Mergeability makes the result
  * independent of batch cuts, and replays are absorbed for
  * set-semantics sketches (HLL/theta: re-adding a value is a no-op) —
  * stream-sketch equals batch-sketch exactly there; KLL counts
  * duplicates, so its store is at-least-once like the CDC apply and
  * the envelope contract is the guarantee that survives a replay.
  *
  * Scale shape: the batch scan reduces to |groups in batch| sketch
  * rows; the store merge touches |store| + |batch groups| sketch rows
  * — never raw history. At warehouse scale the store is itself
  * partitioned (e.g. by day) and only touched partitions re-merge.
  */
object SketchMaintenance {

  /** One maintenance step (call from `foreachBatch`, or from a batch
    * backfill loop — same semantics both ways).
    *
    * @param batchPartials per-group sketch rows over the NEW data only
    *   (e.g. `KllSketches.partials(batch, groups, col)`)
    * @param storePath parquet artifact store (created on first batch)
    * @param groups the store's group columns
    * @param merge sketch-family rollup, e.g. `HllSketches.mergeSketch`
    *   / `KllSketches.mergeSketch` / `ThetaSketches.mergeSketch`
    */
  def mergeIntoStore(batchPartials: DataFrame, storePath: String,
                     groups: Seq[String],
                     merge: (DataFrame, Seq[String]) => DataFrame): Unit = {
    val current = SwapStore.readCurrent(batchPartials.sparkSession, storePath,
      batchPartials.schema)
    SwapStore.swapWrite(merge(current.unionByName(batchPartials), groups), storePath)
  }

  /** Partition-aware maintenance — the warehouse-scale form promised by
    * the object doc: the store is hive-partitioned on `partitionCol`
    * (one of the group columns, e.g. day), and a batch re-merges ONLY
    * the partitions its rows touch. Mechanics are all engine-native:
    * partition pruning bounds the read (`isin` on the touched values),
    * and DYNAMIC partition overwrite bounds the write — Spark's commit
    * protocol replaces exactly the written partitions, untouched
    * partition directories keep their files byte-for-byte (spec'd).
    * A year-long store absorbs today's batch for the cost of today's
    * partitions.
    *
    * `partitionCol` must be in `groups` (a partition holds whole
    * groups, or the merge would split a group across partitions).
    */
  def mergeIntoPartitionedStore(batchPartials: DataFrame, storePath: String,
                                partitionCol: String, groups: Seq[String],
                                merge: (DataFrame, Seq[String]) => DataFrame): Unit = {
    require(groups.contains(partitionCol),
      s"$partitionCol must be one of the group columns $groups")
    val sess = batchPartials.sparkSession
    val touched = batchPartials.select(partitionCol).distinct().collect()
      .map(_.get(0)).toSeq
    if (touched.isEmpty) return
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(sess.sparkContext.hadoopConfiguration)
    val exists = fs.exists(new org.apache.hadoop.fs.Path(storePath))
    val current =
      if (exists) sess.read.parquet(storePath)
        .filter(org.apache.spark.sql.functions.col(partitionCol).isin(touched: _*))
        .select(batchPartials.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      else sess.createDataFrame(
        sess.sparkContext.emptyRDD[org.apache.spark.sql.Row], batchPartials.schema)
    val merged = merge(current.unionByName(batchPartials), groups)
    // dynamic overwrite as a per-write option, not a session conf: the
    // file-source insert reads the write options before the session's
    merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(storePath)
  }
}
